package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Local sessions come from [[LocalSession]]; only `IngestMain`, whose
  * master comes from spark-submit, builds its own. */
class SessionBuilderSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder\(\)""".r

  test("src/main builds a session only in LocalSession and IngestMain") {
    val allowed = Set("LocalSession.scala", "IngestMain.scala")
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val sites = files.filterNot(p => allowed(p.getFileName.toString)).flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if builder.findFirstIn(line).isDefined &&
            !line.trim.startsWith("*") => s"$p:${i + 1}"
      }
    }
    assert(sites.isEmpty, s"build the session through graft.LocalSession: ${sites.mkString(", ")}")
  }
}
