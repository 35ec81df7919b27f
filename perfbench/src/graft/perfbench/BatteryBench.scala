package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkEntry
import graft.tools.ResultHash
import org.apache.spark.sql.{GraftBridge, SparkSession}

import scala.collection.mutable

object BatteryBench {

  /** The queries of one pass, each with the analytics object its
    * [[SparkEntry.queries]] entry calls. Every module is present; q74 and
    * q128 consume the two session-shared fixpoints. A pass fits the run
    * budget at 4 cores, so this is a cut of the 172-query battery (its
    * floor-bound members), not all of it. */
  val Queries: Seq[(String, String)] = Seq(
    "q02_revenue_band" -> "relational", "q18_top_orders" -> "relational",
    "q28_filename_parse" -> "relational", "q51_salted_agg" -> "relational",
    "q52_heavy_hitters" -> "textstats", "q97_bpe_train" -> "textstats",
    "q74_dup_clusters" -> "dedup", "q30_dedup_exact_groups" -> "dedup",
    "q38_lsh_bucket_stats" -> "similarity",
    "q64_dataset_split" -> "sampling", "q69_stratified_sample" -> "sampling",
    "q128_image_dhash_histogram" -> "multimodal", "q44_frame_sample" -> "multimodal",
    "q77_embedding_quant" -> "quantization")

  val GoldenFile = "perfbench/golden_sf0.1.json"

  def readGolden(path: Path): Map[String, String] = {
    val pair = "\"(q[0-9a-z_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r
    pair.findAllMatchIn(new String(Files.readAllBytes(path), UTF_8)).map(m => m.group(1) -> m.group(2)).toMap
  }

  def writeGolden(path: Path, hashes: Seq[(String, String)]): Unit =
    Files.write(path, hashes.map { case (q, h) => s"""  "$q": "$h"""" }
      .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))

  def hashOf(spark: SparkSession, sfDir: String, q: String): String =
    try ResultHash.hashOf(SparkEntry.queries(q)(spark, sfDir))
    finally GraftBridge.releaseTransientPins()
}

/**
 * A cut of the 172-query battery over the pinned sf0.1 fixture: every
 * query materialized through the noop sink, transient pins released after
 * each, as `graft.Bench` does. The seed fixes the query order of each pass.
 */
final class BatteryBench(spark: SparkSession, seed: Long, sfDir: String, golden: Path,
    tracer: Option[Tracer]) extends Workload {

  import BatteryBench._

  private var passNo = 0
  private var opNo = 0
  private val layer = mutable.ArrayBuffer.empty[Map[String, Double]]

  override def generate(): Unit = require(Files.isDirectory(Path.of(sfDir)), s"fixture missing: $sfDir")

  private def clearFixpoints(): Unit = {
    graft.analytics.Dedup.clearSharedClusterEdges()
    graft.analytics.Multimodal.clearDhashMetaCache()
  }

  private def noop(q: String): Unit =
    try SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    finally GraftBridge.releaseTransientPins()

  private var hashes: Seq[(String, String)] = Seq.empty

  /** One untimed pass that warms the session and hashes every result
    * for the output check. */
  override def prepare(): Unit = {
    hashes = Queries.map { case (q, _) => q -> hashOf(spark, sfDir, q) }
    clearFixpoints()
  }

  override def pass(): Seq[Op] = {
    passNo += 1
    clearFixpoints()
    val order = new scala.util.Random(Gen.mix(seed, passNo)).shuffle(Queries)
    val perModule = mutable.Map.empty[String, Map[String, Double]]
    val gc0 = Counters.gcMs
    val ops = order.map { case (q, module) =>
      opNo += 1
      tracer.foreach(_.currentOp = opNo)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try { noop(q); true } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      tracer.foreach { tr =>
        tr.currentOp = -1
        val root = tr.span(0, s"query.$q", w0, w1)
        tr.jobsOf(opNo).foreach(j => tr.span(root, s"job.${j.module.getOrElse(s"analytics.$module")}", j.startMs, j.endMs))
        val stages = tr.stagesOf(opNo)
        val m = Map(
          "wall_s" -> dt,
          "driver_s" -> tr.uncoveredSeconds(opNo, w0, w1),
          "jobs" -> tr.jobsOf(opNo).size.toDouble,
          "task_s" -> stages.map(_.taskMs).sum / 1e3,
          "shuffle_mb" -> stages.map(_.shuffleBytes).sum / 1e6,
          "spill_mb" -> stages.map(_.spillBytes).sum / 1e6,
          "peak_exec_mem_mb" -> stages.map(_.peakExecMem).maxOption.getOrElse(0L) / 1e6)
        val prev = perModule.getOrElse(module, Map.empty)
        perModule(module) = m.map { case (k, v) =>
          k -> (if (k == "peak_exec_mem_mb") math.max(v, prev.getOrElse(k, 0.0)) else v + prev.getOrElse(k, 0.0))
        }
      }
      Op(q, dt, ok)
    }
    if (tracer.isDefined)
      layer += perModule.toSeq.flatMap { case (m, vs) => vs.map { case (k, v) => s"analytics.$m.$k" -> v } }.toMap ++
        Map("spark.gc_s" -> (Counters.gcMs - gc0) / 1e3, "traced.op_s" -> Stats.median(ops.map(_.seconds)))
    ops
  }

  override def check(): (Seq[String], Int) = {
    val want = readGolden(golden)
    val bad = hashes.flatMap { case (q, got) =>
      want.get(q) match {
        case Some(h) if h == got => None
        case Some(h) => Some(s"$q: hash $got, golden $h")
        case None => Some(s"$q: no golden hash (got $got)")
      }
    }
    (bad, Queries.size)
  }

  override def layerMetrics: Map[String, Double] = Metrics.perOp(layer)

  override def summary: Seq[String] = Seq(s"passes: $passNo of ${Queries.size} queries")
}
