package graft

import java.nio.file.Files

import graft.tools.ExplainDump
import org.scalatest.funsuite.AnyFunSuite

class ExplainDumpSpec extends AnyFunSuite with SparkSuite {

  /** A scale-factor dir holding only a small `documents` table. */
  private lazy val sfDir: String = {
    import spark.implicits._
    val d = tempDir("explain_sf").toString
    Seq((1L, "the cat sat", "en", "web", 11L), (2L, "the dog ran", "en", "books", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("a query and a pin-internal frame each get a formatted plan file") {
    val out = tempDir("explain_ok")
    val names = Seq("q52_heavy_hitters", "q119_bm25_fold")
    assert(ExplainDump.dump(spark, sfDir, out, "t", names).isEmpty)
    names.foreach { n =>
      val txt = Files.readString(out.resolve(s"${n}_t.txt"))
      assert(txt.contains("== Physical Plan =="), s"$n:\n$txt")
    }
  }

  test("a misspelled name is rejected before anything is written") {
    val out = tempDir("explain_typo")
    val e = intercept[IllegalArgumentException](
      ExplainDump.dump(spark, sfDir, out, "t", Seq("q52_heavy_hitters", "q52_heavy_hiters")))
    assert(e.getMessage.contains("q52_heavy_hiters"))
    assert(e.getMessage.contains("q119_bm25_fold"))
    assert(out.toFile.list().isEmpty)
  }
}
