package graft.perfbench

import java.nio.file.{Files, Path}

import graft.config.Settings
import graft.ingest.BucketedMerge
import graft.jobs.IngestMain
import graft.state.IngestState
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Shape of one ingest workload: `delta` rows per table per delta dump
  * (a volatile table ships its full content each time); `deltasPerOp`
  * deltas follow the snapshot in a backfill; `hourly` keeps warehouse,
  * ledger and Derby database across operations, a backfill starts
  * every operation empty with a parquet sink. */
final case class IngestShape(
    tables: Seq[GTable],
    base: Map[String, Int],
    delta: Map[String, Int],
    updateFrac: Double,
    nullFrac: Double,
    filesPerTable: Int,
    deltasPerOp: Int,
    ledgerHistory: Int,
    hourly: Boolean)

object IngestShape {

  /** The hourly cron: a loaded warehouse and database, a ledger with
    * history, and one small, skewed delta per invocation. */
  val Hourly: IngestShape = IngestShape(
    tables = Seq(
      Gen.narrowTable("user_dim", "id", volatile = false),
      Gen.narrowTable("assignment_dim", "id", volatile = false),
      Gen.narrowTable("enrollment_dim", "id", volatile = false),
      Gen.narrowTable("submission_fact", "submission_id", volatile = false),
      Gen.narrowTable("quiz_dim", "id", volatile = true),
      Gen.narrowTable("module_item_dim", "id", volatile = true)),
    base = Map("user_dim" -> 4000, "assignment_dim" -> 3000, "enrollment_dim" -> 10000,
      "submission_fact" -> 10000, "quiz_dim" -> 200, "module_item_dim" -> 60),
    delta = Map("user_dim" -> 12, "assignment_dim" -> 30, "enrollment_dim" -> 10000,
      "submission_fact" -> 8, "quiz_dim" -> 200, "module_item_dim" -> 60),
    updateFrac = 0.5, nullFrac = 0.05, filesPerTable = 1, deltasPerOp = 1,
    ledgerHistory = 4, hourly = true)

  /** A backfill: empty warehouse, one wide snapshot plus deltas that each
    * re-ship a quarter of the keys, so every bucket is rewritten. */
  def backfill(scale: Double): IngestShape = {
    val names = Seq("enrollment_dim", "submission_dim")
    val base = Seq(16000, 16000).map(n => math.max(64, (n * scale).toInt))
    IngestShape(
      tables = names.map(n => Gen.wideTable(n, "id")),
      base = names.zip(base).toMap,
      delta = names.zip(base.map(_ / 4)).toMap,
      updateFrac = 0.9, nullFrac = 0.10, filesPerTable = 4, deltasPerOp = 2,
      ledgerHistory = 0, hourly = false)
  }
}

/**
 * Drives the loader's real entry point, [[IngestMain.run]], over the fake
 * portal. `hourly`: one new delta dump per operation against a persistent
 * warehouse, ledger and Derby database. `backfill`: every operation loads
 * the snapshot and its deltas into a fresh, empty warehouse.
 */
final class IngestBench(spark: SparkSession, shape: IngestShape, seed: Long, work: Path,
    tracer: Option[Tracer]) extends Workload {

  private val hourly = shape.hourly
  private val base = "https://portal.perfbench.test"
  private val dbUrl = s"jdbc:derby:memory:perfbench_${ProcessHandle.current().pid()}_${System.nanoTime()};create=true"

  private var portal: Portal = _
  private var expected: Gen.Expected = _
  private var snapshot: GDump = _
  private var maxKey: Map[String, Long] = Map.empty
  private var seq = 1000L
  private var opIndex = 0
  private var prevDelta: Option[Portal.Listed] = None
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var checks = 0
  private val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val writeAmp = mutable.ArrayBuffer.empty[Double]
  private val storedRatio = mutable.ArrayBuffer.empty[Double]
  private val rowsPerS = mutable.ArrayBuffer.empty[Double]
  private var lastRoot: Path = _

  private def tableIdx(t: GTable): Int = shape.tables.indexOf(t)

  private def snapshotDump(id: String, s: Long, sizes: Map[String, Int]): GDump =
    GDump(id, s, Gen.createdAt(s), Gen.SchemaVersion, finished = true, shape.tables.map { t =>
      t.name -> (1 to sizes(t.name)).map(k => Gen.row(seed, tableIdx(t), t, k.toLong, s, shape.nullFrac))
    }.toMap)

  /** The next delta: per table, its share of updated and new keys. */
  private def nextDelta(id: String, s: Long): GDump = {
    val rows = shape.tables.map { t =>
      val n = shape.delta(t.name)
      val keys =
        if (t.volatile) (1 to n).map(_.toLong)
        else Gen.deltaKeys(Gen.rng(seed, tableIdx(t), s, 7L), maxKey(t.name), n, shape.updateFrac)
      t.name -> keys.map(k => Gen.row(seed, tableIdx(t), t, k, s, shape.nullFrac))
    }.toMap
    maxKey = maxKey.map { case (t, m) => t -> math.max(m, rows(t).map(_(0).toLong).maxOption.getOrElse(m)) }
    GDump(id, s, Gen.createdAt(s), Gen.SchemaVersion, finished = true, rows)
  }

  override def generate(): Unit = {
    seq = 1000L
    backfillDeltas = Vector.empty
    prevDelta = None
    portal = new Portal(base, Gen.schemaJson(Gen.SchemaVersion, shape.tables))
    expected = new Gen.Expected(shape.tables)
    maxKey = shape.base.map { case (t, n) => t -> n.toLong }
    snapshot = snapshotDump("snapshot-0001", 1L, shape.base)
    if (hourly) {
      (1 to shape.ledgerHistory).foreach { i =>
        portal.list(Portal.Listed(f"history-$i%04d", i.toLong - 200, Gen.createdAt(i.toLong - 200),
          Gen.SchemaVersion, finished = true, Map.empty))
      }
      portal.list(Portal.Listed("old-schema-0001", 0L, Gen.createdAt(0L), Gen.OldSchemaVersion,
        finished = true, Map.empty))
      portal.list(Portal.Listed("unfinished-9999", 9999L, Gen.createdAt(9999L), Gen.SchemaVersion,
        finished = false, Map.empty))
      // the first operation's listing re-delivers the snapshot
      prevDelta = Some(portal.publish(snapshot, shape.filesPerTable))
    } else {
      (1 to shape.deltasPerOp).foreach { _ => portal.publish(nextDeltaDump(), shape.filesPerTable) }
      // the snapshot sorts first in the listing by creation time
      portal.publish(snapshot, shape.filesPerTable)
    }
  }

  private var backfillDeltas = Vector.empty[GDump]
  private def nextDeltaDump(): GDump = {
    seq += 1
    val d = nextDelta(f"delta-$seq%06d", seq)
    backfillDeltas :+= d
    d
  }

  private def settings(root: Path): Settings = Settings.fromMap(Map(
    "save_location" -> root.resolve("save").toString,
    "rocksdb_location" -> (if (hourly) work.resolve("ledger") else root.resolve("ledger")).toString,
    "database.url" -> (if (hourly) dbUrl else root.resolve("warehouse").toString),
    "canvasdataauth.api_key" -> "perfbench",
    "canvasdataauth.api_secret" -> "perfbench-secret",
    "api_base_url" -> base))

  private def warehouse(root: Path): Path =
    if (hourly) work.resolve("hourly").resolve("save").resolve("warehouse") else root.resolve("warehouse")

  override def prepare(): Unit =
    if (hourly) {
      val t0 = System.nanoTime()
      val ledger = new IngestState(spark, work.resolve("ledger").toString)
      portal.listed.filter(_.id.startsWith("history-"))
        .foreach(l => ledger.setDumpStatus(l.id, IngestState.Successful))
      val t1 = System.nanoTime()
      IngestMain.run(spark, settings(work.resolve("hourly")), portal)
      System.err.println(f"[perfbench] ledger seeding ${(t1 - t0) / 1e9}%.2f s, snapshot load ${(System.nanoTime() - t1) / 1e9}%.2f s")
      expected(snapshot)
    } else {
      // no warm-up: a backfill is the first and only load of its process
      expected(snapshot)
      backfillDeltas.foreach(expected(_))
    }

  override def pass(): Seq[Op] = {
    opIndex += 1
    val (root, loaded) =
      if (hourly) {
        seq += 1
        val d = nextDelta(f"delta-$seq%06d", seq)
        val listed = portal.publish(d, shape.filesPerTable)
        // the previously loaded dump is delivered again, with a later timestamp
        prevDelta.foreach(p => portal.list(p.copy(createdAt = Gen.createdAt(seq))))
        prevDelta = Some(listed)
        (work.resolve("hourly"), Seq(d))
      } else {
        if (lastRoot != null) deleteTree(lastRoot)
        (work.resolve(s"op-$opIndex"), snapshot +: backfillDeltas)
      }
    lastRoot = root
    val tsvBytes = loaded.map(_.tsvBytes).sum
    val rows = loaded.map(_.rowCount).sum
    val wh = warehouse(root)
    val before = if (tracer.isDefined) listParquet(wh) else Map.empty[String, Long]
    val reqMark = portal.requestCount
    val listedNow = portal.listed.size
    val fs0 = Counters.fsBytesWritten
    val gc0 = Counters.gcMs
    tracer.foreach(_.currentOp = opIndex)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { IngestMain.run(spark, settings(root), portal); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] op $opIndex: IngestMain.run threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    tracer.foreach(_.currentOp = -1)
    val written = Counters.fsBytesWritten - fs0
    val gcS = (Counters.gcMs - gc0) / 1e3
    if (hourly) loaded.foreach(expected(_))
    // the loader must fetch the manifest of exactly the dumps it loads
    checks += 1
    val reqs = portal.requestsSince(reqMark)
    val fetched = reqs.map(_.url).filter(_.contains("/file/byDump/")).map(_.split('/').last).sorted
    val wanted = (if (hourly) loaded else snapshot +: backfillDeltas).map(_.id).sorted
    if (ok && fetched != wanted)
      mismatches += s"op $opIndex: fetched manifests ${fetched.mkString(",")} but expected ${wanted.mkString(",")}"
    val stored = dirBytes(wh)
    writeAmp += written.toDouble / tsvBytes
    storedRatio += stored.toDouble / expected.tsvBytes
    rowsPerS += rows / dt
    tracer.foreach(tr => layer += traced(tr, opIndex, w0, w1, dt, reqs, listedNow, before, listParquet(wh),
      root, rows, written, tsvBytes, stored, gcS))
    Seq(Op(s"ingest-$opIndex", dt, ok))
  }

  /** Relative path → size of every parquet part under `dir`. */
  private def listParquet(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toMap

  private def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))

  private def traced(tr: Tracer, op: Int, w0: Long, w1: Long, dt: Double, reqs: Seq[Portal.Req],
      listed: Int, before: Map[String, Long], after: Map[String, Long], root: Path, rows: Long,
      written: Long, tsvBytes: Long, stored: Long, gcS: Double): Map[String, Double] = {
    val jobs = tr.jobsOf(op)
    val stages = tr.stagesOf(op)
    val rootSpan = tr.span(0, s"ingest.op$op", w0, w1)
    // API spans, measured at the fake portal: the listing and schema
    // decode end when the first Spark job starts; a download ends with
    // its dump's last artifact
    val firstJob = jobs.map(_.startMs).minOption.getOrElse(w1)
    val listReqs = reqs.filter(r => !r.url.contains("/byDump/") && !r.artifact)
    val listStart = listReqs.map(_.startNs).minOption
    val nowNs = System.nanoTime(); val nowMs = System.currentTimeMillis()
    def toMs(ns: Long): Long = nowMs - (nowNs - ns) / 1000000L
    val listS = listStart.map(s => math.max(0L, firstJob - toMs(s)) / 1e3).getOrElse(0.0)
    listStart.foreach(s => tr.span(rootSpan, "api.list", toMs(s), firstJob))
    val byDump = reqs.filter(_.url.contains("/byDump/"))
    val downloadS = byDump.map { m =>
      val id = m.url.split('/').last
      val end = (m +: reqs.filter(r => r.artifact && r.url.contains(s"/files/$id/"))).map(_.endNs).max
      tr.span(rootSpan, s"api.download.$id", toMs(m.startNs), toMs(end))
      (end - m.startNs) / 1e9
    }.sum
    jobs.foreach(j => tr.span(rootSpan, s"job.${j.module.getOrElse("other")}", j.startMs, j.endMs))
    val ingestStages = stages.filter(_.module.contains("ingest"))
    val scan = stages.filter(_.readsTsv)
    val merge = ingestStages.filterNot(_.readsTsv)
    val sinkJobs = jobs.filter(_.module.contains("sinks"))
    val sinkStages = stages.filter(_.module.contains("sinks"))
    val stateJobs = jobs.filter(_.module.contains("state"))
    val incremental = shape.tables.filterNot(_.volatile).map(_.name).toSet
    def buckets(m: Map[String, Long]): Map[String, Set[String]] =
      m.keys.toSeq.filter(k => incremental(k.takeWhile(_ != '/')) && k.contains(s"${BucketedMerge.BucketColName}="))
        .groupBy(k => k.substring(0, k.lastIndexOf('/'))).map { case (b, fs) => b -> fs.toSet }
    val (bBefore, bAfter) = (buckets(before), buckets(after))
    val replaced = bAfter.count { case (b, fs) => !bBefore.get(b).contains(fs) }
    val ledgerParts = {
      val d = Path.of(settings(root).rocksdbLocation).resolve("state.parquet")
      if (Files.isDirectory(d)) Files.list(d).iterator().asScala.count(_.toString.endsWith(".parquet")) else 0
    }
    Map(
      "api.requests" -> reqs.size.toDouble,
      "api.download_mb" -> reqs.filter(_.artifact).map(_.bytes).sum / 1e6,
      "api.list_s" -> listS,
      "api.download_s" -> downloadS,
      "state.jobs" -> stateJobs.size.toDouble,
      "state.job_s" -> stateJobs.map(_.seconds).sum,
      "state.jobs_per_listed_dump" -> stateJobs.size.toDouble / listed,
      "state.parts" -> ledgerParts.toDouble,
      "jobs.spark_jobs" -> jobs.size.toDouble,
      "jobs.driver_s" -> tr.uncoveredSeconds(op, w0, w1),
      "ingest.scan_rows" -> scan.map(_.inRecords).sum.toDouble,
      "ingest.scan_mb" -> scan.map(_.inBytes).sum / 1e6,
      "ingest.scan_task_s" -> scan.map(_.taskMs).sum / 1e3,
      "ingest.shuffle_mb" -> (ingestStages ++ scan).distinct.map(_.shuffleBytes).sum / 1e6,
      "ingest.merge_task_s" -> merge.map(_.taskMs).sum / 1e3,
      "ingest.rewrite_ratio" -> ingestStages.map(_.outRecords).sum.toDouble / rows,
      "ingest.buckets_rewritten_ratio" -> (if (bAfter.isEmpty) 0.0 else replaced.toDouble / bAfter.size),
      "ingest.files_written" -> after.keySet.diff(before.keySet).size.toDouble,
      "ingest.spill_mb" -> (ingestStages ++ scan).distinct.map(_.spillBytes).sum / 1e6,
      "ingest.peak_exec_mem_mb" -> (ingestStages ++ scan).map(_.peakExecMem).maxOption.getOrElse(0L) / 1e6,
      "ingest.rows_per_s" -> rows / dt,
      "ingest.write_amp" -> written.toDouble / tsvBytes,
      "ingest.stored_bytes_per_input_byte" -> stored.toDouble / expected.tsvBytes,
      "sinks.jdbc_rows" -> sinkStages.map(s => math.max(s.outRecords, s.inRecords)).sum.toDouble,
      "sinks.jdbc_write_s" -> sinkJobs.map(_.seconds).sum,
      "spark.gc_s" -> gcS,
      "traced.op_s" -> dt)
  }

  override def check(): (Seq[String], Int) = {
    val root = lastRoot
    val wh = warehouse(root)
    val sums = shape.tables.map { t =>
      val df = BucketedMerge.read(spark, wh.resolve(t.name).toString)
      t.name -> Check.sumOfFrame(df, t.cols.map(_._1))
    }
    sums.foreach { case (t, got) =>
      checks += 1
      val want = expected.checksum(t)
      if (got != want) mismatches += s"warehouse $t: $got, expected $want"
    }
    if (hourly) {
      val conn = java.sql.DriverManager.getConnection(dbUrl)
      try shape.tables.foreach { t =>
        checks += 1
        val got = Check.sumOfJdbc(conn, t.name, t.cols.map(_._1))
        val want = expected.checksum(t.name)
        if (got != want) mismatches += s"derby ${t.name}: $got, expected $want"
      } finally conn.close()
    }
    val ledger = new IngestState(spark, settings(root).rocksdbLocation).snapshot()
    def status(id: String) = ledger.get(s"dump_processed_$id")
    val wantStatus: Seq[(String, Option[String])] =
      if (hourly)
        portal.listed.map(_.id).distinct.map {
          case id if id.startsWith("unfinished-") => id -> None
          case id if id.startsWith("old-schema-") => id -> Some(IngestState.OutOfDate)
          case id => id -> Some(IngestState.Successful)
        }
      else (snapshot +: backfillDeltas).map(d => d.id -> Some(IngestState.Successful))
    wantStatus.foreach { case (id, want) =>
      checks += 1
      if (status(id) != want) mismatches += s"ledger $id: ${status(id)}, expected $want"
    }
    (mismatches.toSeq, checks)
  }

  override def layerMetrics: Map[String, Double] = Metrics.perOp(layer)

  override def summary: Seq[String] = Seq(
    s"ingest_rows_per_s: ${Stats.describe(rowsPerS.toSeq, "rows/s")}",
    s"write_amp: ${Stats.describe(writeAmp.toSeq, "ratio")}",
    s"stored_bytes_per_input_byte: ${Stats.describe(storedRatio.toSeq, "ratio")}")
}
