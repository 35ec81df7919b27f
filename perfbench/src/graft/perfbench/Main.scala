package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's program:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --work <dir> --cpus <n> --sf-dir <dir> [--trace-out <file>]
 *
 * `--sf-dir` is the battery's fixture directory.
 *
 * Sets up, runs closed-loop passes of the workload until `--seconds`
 * have been measured, checks the outputs outside the timed region, and
 * prints the result as the last line of stdout: the end-to-end metrics
 * when untraced, the per-layer metrics when traced.
 */
object Main {

  val Workloads: Seq[String] = Seq("ingest-hourly", "ingest-backfill", "battery-sf0.1")

  /** Times the repeatable part of set-up is run; its median counts. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--self-test")) { SelfTest.run(); return }
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload) || opts.contains("record-golden"),
      s"unknown workload '$workload'; known: ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Path.of(opts.getOrElse("work", "perfbench-work"))
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString).toInt
    val sfDir = opts.getOrElse("sf-dir", "")
    Files.createDirectories(work)
    HeapWatch.install()

    // the session graft.Bench runs under
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      opts.get("record-golden") match {
        case Some(out) =>
          BatteryBench.writeGolden(Path.of(out),
            BatteryBench.Queries.map { case (q, _) => q -> BatteryBench.hashOf(spark, sfDir, q) })
        case None =>
          val tracer = if (trace) Some(new Tracer) else None
          tracer.foreach(spark.sparkContext.addSparkListener)
          val w: Workload = workload match {
            case "ingest-hourly" => new IngestBench(spark, IngestShape.Hourly, seed, work, tracer)
            case "ingest-backfill" => new IngestBench(spark, IngestShape.backfill(1.0), seed, work, tracer)
            case "battery-sf0.1" =>
              new BatteryBench(spark, seed, sfDir, Path.of(BatteryBench.GoldenFile), tracer)
          }
          run(spark, w, workload, seconds, tracer, opts.get("trace-out").map(Path.of(_)))
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, w: Workload, name: String, seconds: Double,
      tracer: Option[Tracer], traceOut: Option[Path]): Unit = {
    val gen = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime(); w.generate(); (System.nanoTime() - t0) / 1e9
    }
    w.prepare()
    val started = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val setupS = (System.currentTimeMillis() - started) / 1e3 - (gen.sum - Stats.median(gen))

    HeapWatch.reset()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Op]]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      passes += w.pass()
      passes.last.foreach(o => System.err.println(f"[perfbench] ${o.name} ${o.seconds}%.3f s${if (o.ok) "" else " FAILED"}"))
    }
    val (peakMb, collections) = HeapWatch.peakMb
    // young collections leave uncollected old-generation garbage in their
    // after-GC figure, so the steady number is taken after a full one
    val heapMb = HeapWatch.liveAfterFullGcMb()

    val (mismatches, checks) = w.check()
    val ops = passes.flatten.toSeq
    val failedOps = ops.count(!_.ok)
    val attempted = ops.size + checks
    val failed = failedOps + mismatches.size
    mismatches.foreach(m => System.err.println(s"[perfbench] check failed: $m"))

    val opS = ops.map(_.seconds)
    val passS = passes.map(_.map(_.seconds).sum).toSeq
    val e2e = Map("setup_s" -> setupS, "op_s" -> Stats.median(opS), "pass_s" -> Stats.median(passS),
      "live_heap_mb" -> heapMb)
    println(s"[$name] setup_s: ${f"$setupS%.4f"} s (repeatable part: ${Stats.describe(gen, "s")})")
    println(s"[$name] op_s: ${Stats.describe(opS, "s")}")
    println(s"[$name] pass_s: ${Stats.describe(passS, "s")}")
    println(s"[$name] live_heap_mb: ${f"$heapMb%.1f"} MB after a full collection at the end of the window; " +
      f"peak after-GC heap during the window $peakMb%.1f MB over $collections collections")
    w.summary.foreach(l => println(s"[$name] $l"))
    println(s"[$name] failed_ratio: ${f"${failed.toDouble / attempted}%.4f"} ($failed of $attempted operations and checks)")

    val metrics: Seq[(String, Double)] = tracer match {
      case None => Metrics.EndToEnd.map { case (k, _) => k -> e2e(k) }
      case Some(tr) =>
        val layer = w.layerMetrics
        traceOut.foreach { p =>
          Files.createDirectories(p.toAbsolutePath.getParent)
          Files.write(p, tr.spansJson.mkString("", "\n", "\n").getBytes(UTF_8))
        }
        Metrics.PerLayer.map { case (k, _) => k -> layer.getOrElse(k, 0.0) }
    }
    metrics.foreach { case (k, v) => println(s"[$name] $k = $v ${Metrics.unitOf(k)}") }
    val body = metrics.map { case (k, v) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "${Metrics.unitOf(k)}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def jsonNum(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
}
