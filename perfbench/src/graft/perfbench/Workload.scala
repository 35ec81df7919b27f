package graft.perfbench

import scala.collection.mutable

/** One timed operation of a pass. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/**
 * A closed-loop workload with one client: `pass()` runs the workload's
 * operation list once and returns after the last operation completes.
 */
trait Workload {
  /** The repeatable part of set-up: input and fake-portal generation. */
  def generate(): Unit
  /** The one-time part of set-up: loads, ledger seeding, warm-up. */
  def prepare(): Unit
  def pass(): Seq[Op]
  /** Output checks, run outside the timed passes: the mismatches found
    * and the number of checks made. */
  def check(): (Seq[String], Int)
  /** Per-layer values of the traced run (only called when tracing). */
  def layerMetrics: Map[String, Double]
  /** Workload-specific figures for the human-readable summary. */
  def summary: Seq[String]
}

object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "pass_s" -> "s", "live_heap_mb" -> "MB")

  val Modules: Seq[String] =
    Seq("relational", "dedup", "similarity", "textstats", "sampling", "multimodal", "quantization")

  val PerLayer: Seq[(String, String)] = Seq(
    "api.requests" -> "count", "api.download_mb" -> "MB", "api.list_s" -> "s", "api.download_s" -> "s",
    "state.jobs" -> "count", "state.job_s" -> "s", "state.jobs_per_listed_dump" -> "ratio",
    "state.parts" -> "count",
    "jobs.spark_jobs" -> "count", "jobs.driver_s" -> "s",
    "ingest.scan_rows" -> "count", "ingest.scan_mb" -> "MB", "ingest.scan_task_s" -> "s",
    "ingest.shuffle_mb" -> "MB", "ingest.merge_task_s" -> "s",
    "ingest.rewrite_ratio" -> "ratio", "ingest.buckets_rewritten_ratio" -> "ratio",
    "ingest.files_written" -> "count", "ingest.spill_mb" -> "MB", "ingest.peak_exec_mem_mb" -> "MB",
    "ingest.rows_per_s" -> "rows/s", "ingest.write_amp" -> "ratio",
    "ingest.stored_bytes_per_input_byte" -> "ratio",
    "sinks.jdbc_rows" -> "count", "sinks.jdbc_write_s" -> "s") ++
    Modules.flatMap(m => Seq(
      s"analytics.$m.wall_s" -> "s", s"analytics.$m.driver_s" -> "s", s"analytics.$m.jobs" -> "count",
      s"analytics.$m.task_s" -> "s", s"analytics.$m.shuffle_mb" -> "MB", s"analytics.$m.spill_mb" -> "MB",
      s"analytics.$m.peak_exec_mem_mb" -> "MB")) ++
    Seq("spark.gc_s" -> "s", "traced.op_s" -> "s")

  def unitOf(name: String): String =
    (EndToEnd ++ PerLayer).collectFirst { case (`name`, u) => u }.getOrElse("count")

  /** Mean per operation of a per-operation series. */
  def perOp(values: mutable.Buffer[Map[String, Double]]): Map[String, Double] =
    if (values.isEmpty) Map.empty
    else values.flatMap(_.keys).distinct.map(k => k -> Stats.mean(values.map(_.getOrElse(k, 0.0)).toSeq)).toMap
}
