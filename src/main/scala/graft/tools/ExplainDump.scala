package graft.tools

import java.nio.file.{Files, Path, Paths}

import graft.{LocalSession, SparkEntry}
import graft.analytics.{Tables, TextStats}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/**
 * Formatted physical plans for plan review (pushdown, broadcast, exchange
 * reuse, codegen spans): one `<outDir>/<name>_<suffix>.txt` per name, the
 * layout of `plans/r19` and `plans/r20`.
 *
 *   ExplainDump <sfDir> <outDir> <suffix> [names...]
 *
 * A name is a [[SparkEntry.queries]] key or one of [[frames]]; without
 * names every query is dumped. AQE plans are the initial ones, so runtime
 * `ReusedExchange`/`AQEShuffleRead` nodes do not appear.
 */
object ExplainDump {

  /** Builder frames that live inside a checkpoint pin: the consumer plan
    * shows each only as a `LogicalRDD`. */
  val frames: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q119_bm25_fold" -> ((s, d) =>
      TextStats.bm25FoldPlan(Tables.documents(s, d).filter(col("text").isNotNull))),
    "q156_models_bundle" -> ((s, d) => TextStats.mooreLewisModels(s, d)),
    "q157_models_bundle" -> ((s, d) => TextStats.domainModels(s, d)))

  /** Writes one plan file per name and returns the names whose plan failed
    * to build (their file holds the error). Unknown names are rejected
    * before anything is written. */
  def dump(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
      names: Seq[String]): Seq[String] = {
    val builders = SparkEntry.queries ++ frames
    val unknown = names.filterNot(builders.contains)
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(", ")}; " +
      s"known queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}; " +
      s"frames: ${frames.keys.toSeq.sorted.mkString(", ")}")
    Files.createDirectories(outDir)
    names.filter { n =>
      val (txt, failed) =
        try (builders(n)(spark, sfDir).queryExecution.explainString(FormattedMode), false)
        catch { case scala.util.control.NonFatal(e) => (s"ERROR: ${e.getMessage}\n", true) }
        finally GraftBridge.releaseTransientPins()
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
      failed
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <sfDir> <outDir> <suffix> [names...]")
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(LocalSession.cpus, "explain-dump")
    val failed = try dump(spark, args(0), Paths.get(args(1)), args(2), names)
      finally spark.stop()
    println(s"wrote ${names.size} plans to ${args(1)} (*_${args(2)}.txt)")
    if (failed.nonEmpty) {
      System.err.println(s"[explain] plan failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
