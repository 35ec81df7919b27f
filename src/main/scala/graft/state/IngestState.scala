package graft.state

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Processed-dump state machine, replacing the reference's RocksDB KV
 * (`/root/reference/src/main.rs:76, 118-147, 163-246`; SURVEY §2 ST-1/ST-2).
 *
 * Keys: `dump_processed_{id}` ∈ {in_progress, successful, failure,
 * out-of-date} and `last_version_processed` → schema version string, over a
 * small parquet-backed KV directory with last-writer-wins semantics.
 *
 * Write path: each transition appends ONE tiny parquet part with a
 * monotonic sequence from a wall-clock-seeded in-JVM counter — no
 * read-the-world to compute max(seq)+1 (the round-1 design cost an O(n)
 * Spark job per transition). When the directory accumulates more than
 * `CompactThreshold` parts, it is compacted to a single latest-per-key file
 * via staging + rename, so file count stays bounded at hourly-cron cadence.
 * At scale this would live in a transactional table; the interface is the
 * contract.
 */
final class IngestState(spark: SparkSession, dir: String) {

  import IngestState._

  private def path = s"$dir/state.parquet"

  private val seqCounter = new AtomicLong(0L)

  /** Strictly monotonic within this JVM; wall-clock-seeded so sequences
    * from successive loader runs stay ordered (same guarantee class as the
    * reference's RocksDB write order at its hourly cadence). */
  private def nextSeq(): Long =
    seqCounter.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis() * 1000L))

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** The declared ledger schema: reading with it skips parquet's
    * footer-inference job, and an existing-but-empty directory reads as
    * an empty ledger. */
  private def readAll(): DataFrame =
    if (fs.exists(new Path(path))) spark.read.schema(LedgerSchema).parquet(path)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), LedgerSchema)

  /** Latest value per key (last writer wins by monotonic seq), as ONE
    * Spark job: the log is bounded by compaction to one row per key plus
    * at most `CompactThreshold` appended parts, so it is folded on the
    * driver instead of through a shuffle. Callers that need several facts
    * of one run (the F-2 skip set, the last schema version) read it once
    * and query the map. */
  def snapshot(): Map[String, String] =
    readAll().collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.maxBy(_.getLong(2)).getString(1) }

  def get(key: String): Option[String] = snapshot().get(key)

  def put(key: String, value: String): Unit = {
    import spark.implicits._
    Seq((key, value, nextSeq())).toDF("key", "value", "seq")
      .coalesce(1).write.mode(SaveMode.Append).parquet(path)
    maybeCompact()
  }

  private def partCount(): Int =
    fs.listStatus(new Path(path)).count(_.getPath.getName.endsWith(".parquet"))

  /** Fold the append log down to one latest-per-key file once it exceeds
    * the threshold. Crash-safe at every step: the compacted part is MOVED
    * INTO the live directory before the old parts are deleted, so a crash
    * leaves either extra duplicate rows (harmless — `max_by(seq)` resolves
    * them to the same values) or a partially-deleted old set (a subset of
    * what the compacted part already holds); state is never lost or
    * half-visible, unlike a delete-then-rename of the whole directory. */
  private def maybeCompact(): Unit =
    if (partCount() > CompactThreshold) {
      val oldParts = fs.listStatus(new Path(path))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      val latest = readAll()
        .groupBy(col("key"))
        .agg(max_by(col("value"), col("seq")).as("value"), max(col("seq")).as("seq"))
      val tmp = s"$path.__compact"
      latest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val compacted = fs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      compacted.zipWithIndex.foreach { case (src, i) =>
        fs.rename(src, new Path(path, s"compacted-${nextSeq()}-$i.parquet"))
      }
      oldParts.foreach(fs.delete(_, false))
      fs.delete(new Path(tmp), true)
    }

  def dumpStatus(dumpId: String): Option[String] = get(dumpKey(dumpId))
  def setDumpStatus(dumpId: String, status: String): Unit = {
    require(Statuses.contains(status), s"illegal status $status")
    put(dumpKey(dumpId), status)
  }

  def lastVersionProcessed: Option[String] = get(LastVersionKey)
  def setLastVersionProcessed(v: String): Unit = put(LastVersionKey, v)

  /** The skip predicate of op F-2 (`main.rs:118-138`); one ledger read per
    * call — a run over a whole listing uses [[IngestState.alreadyProcessed]]
    * on one [[snapshot]] instead. */
  def alreadyProcessed(dumpId: String): Boolean =
    IngestState.alreadyProcessed(snapshot(), dumpId)
}

object IngestState {
  val InProgress = "in_progress"
  val Successful = "successful"
  val Failure    = "failure"
  val OutOfDate  = "out-of-date"
  val Statuses: Set[String] = Set(InProgress, Successful, Failure, OutOfDate)
  val LastVersionKey = "last_version_processed"
  val CompactThreshold = 16

  val LedgerSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType), StructField("seq", LongType)))

  def dumpKey(dumpId: String): String = s"dump_processed_$dumpId"

  /** Op F-2 over a [[IngestState.snapshot]]: successful and out-of-date
    * dumps are skipped; in-progress and failed ones are retried. */
  def alreadyProcessed(snapshot: Map[String, String], dumpId: String): Boolean =
    snapshot.get(dumpKey(dumpId)).exists(s => s == Successful || s == OutOfDate)
}
