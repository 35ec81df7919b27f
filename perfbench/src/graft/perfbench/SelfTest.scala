package graft.perfbench

import java.nio.file.Files

import graft.ingest.TsvReader
import graft.schema.CanvasSchema
import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own logic; exits non-zero on the first failure. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def run(): Unit = {
    val shape = IngestShape.backfill(0.01)
    def dumpsOf(seed: Long): Seq[GDump] = {
      val t = shape.tables.head
      Seq(1L, 2L).map(s => GDump(s"d$s", s, Gen.createdAt(s), Gen.SchemaVersion, finished = true,
        Map(t.name -> (1 to 50).map(k => Gen.row(seed, 0, t, k.toLong, s, 0.1)))))
    }

    test("generator is deterministic for a seed and varies across seeds") {
      val a = dumpsOf(7).flatMap(_.rows.values.flatten.map(Gen.tsvLine))
      val b = dumpsOf(7).flatMap(_.rows.values.flatten.map(Gen.tsvLine))
      val c = dumpsOf(8).flatMap(_.rows.values.flatten.map(Gen.tsvLine))
      assertEq(a, b, "same seed")
      if (a == c) throw new AssertionError("seeds 7 and 8 generated identical rows")
      assertEq(Gen.gz(a.iterator).toSeq, Gen.gz(b.iterator).toSeq, "gz artifact bytes")
      val keys = Gen.deltaKeys(Gen.rng(7), 1000, 40, 0.5)
      assertEq(keys, Gen.deltaKeys(Gen.rng(7), 1000, 40, 0.5), "delta keys")
      assertEq(keys.distinct.size, 40, "distinct delta keys")
    }

    test("every Canvas type is generated") {
      assertEq(shape.tables.head.cols.map(_._2).toSet, Gen.CanvasTypes.toSet + "bigint", "column types")
    }

    test("ingest checksum catches a planted stale row") {
      val t = shape.tables.head
      val exp = new Gen.Expected(Seq(t))
      dumpsOf(3).foreach(exp(_))
      val fresh = exp.checksum(t.name)
      // the loader keeping the older version of key 17
      val stale = new Gen.Expected(Seq(t))
      dumpsOf(3).foreach(stale(_))
      stale.rows(t.name)(17L) = Gen.row(3, 0, t, 17L, 1L, 0.1)
      if (stale.checksum(t.name) == fresh) throw new AssertionError("stale row not detected")
      assertEq(stale.checksum(t.name).count, fresh.count, "row count is unchanged by the stale row")
    }

    test("call-site attribution maps frames to modules") {
      def site(frames: String*) = frames.mkString("\n")
      val cases = Seq(
        site("graft.state.IngestState.snapshot(IngestState.scala:50)",
          "graft.jobs.IngestJob.$anonfun$run$1(IngestJob.scala:112)",
          "graft.perfbench.IngestBench.pass(IngestBench.scala:1)") -> Some("state"),
        site("graft.sinks.JdbcSink$.writeBatch(JdbcSink.scala:150)",
          "graft.jobs.IngestJob.loadTable(IngestJob.scala:90)") -> Some("sinks"),
        site("graft.ingest.BucketedMerge$.mergeInto(BucketedMerge.scala:110)") -> Some("ingest"),
        site("graft.jobs.IngestJob.run(IngestJob.scala:110)") -> Some("jobs"),
        site("graft.functions.MinhashSignature.eval(MinhashSignature.scala:3)",
          "graft.analytics.Dedup$.$anonfun$simhashClusters$2(Dedup.scala:900)") -> Some("analytics.dedup"),
        site("graft.analytics.Relational$.q01PricingSummary(Relational.scala:20)") -> Some("analytics.relational"),
        site("graft.perfbench.BatteryBench.noop(BatteryBench.scala:70)",
          "graft.perfbench.Main$.main(Main.scala:1)") -> None,
        site("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)") -> None)
      cases.foreach { case (cs, want) => assertEq(Attribution.moduleOf(cs), want, cs.linesIterator.next()) }
    }

    test("tail rule reports the highest percentile with 10 samples beyond it, and n") {
      assertEq(Stats.tail((1 to 19).map(_.toDouble)), None, "19 samples")
      val t20 = Stats.tail((1 to 20).map(_.toDouble)).get
      assertEq((t20.label, t20.n, t20.beyond), ("p50", 20, 10), "20 samples")
      val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
      assertEq((t100.label, t100.n), ("p90", 100), "100 samples")
      if (t100.beyond < 10) throw new AssertionError(s"p90 of 100 has ${t100.beyond} beyond")
      val t1000 = Stats.tail((1 to 1000).map(_.toDouble)).get
      assertEq((t1000.label, t1000.n), ("p99", 1000), "1000 samples")
      if (!Stats.describe((1 to 100).map(_.toDouble), "s").endsWith("(n=100)"))
        throw new AssertionError("describe omits n")
    }

    test("self time counts overlapping child spans once") {
      assertEq(Tracer.coveredMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 40L), 25L, "union")
      assertEq(Tracer.coveredMs(Seq((-5L, 5L), (35L, 50L)), 0L, 40L), 10L, "clipped to the parent")
      assertEq(Tracer.coveredMs(Seq.empty, 0L, 40L), 0L, "no children")
    }

    test("BENCHMARK.json names exactly the metrics and workloads the program reports") {
      import org.json4s._
      val spec = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(java.nio.file.Path.of("BENCHMARK.json")), "UTF-8"))
      def names(key: String): Seq[(String, String)] = (spec \ key) match {
        case JArray(ms) => ms.map(m => ((m \ "name"): @unchecked) match {
          case JString(n) => n -> (m \ "unit" match { case JString(u) => u; case _ => "" })
        })
        case _ => Seq.empty
      }
      assertEq(names("end_to_end"), Metrics.EndToEnd, "end_to_end")
      assertEq(names("per_layer"), Metrics.PerLayer, "per_layer")
      assertEq(names("workloads").map(_._1), Main.Workloads, "workloads")
    }

    test("warehouse checksum of a loaded TSV equals the generator's") {
      val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val t = shape.tables.head
        val d = dumpsOf(5).head
        val dir = Files.createTempDirectory("perfbench-selftest")
        val f = dir.resolve("t.gz")
        Files.write(f, Gen.gz(d.rows(t.name).iterator.map(Gen.tsvLine)))
        val td = CanvasSchema.fromJson(Gen.schemaJson(Gen.SchemaVersion, Seq(t))).tableDefinition(t.name).get
        val got = Check.sumOfFrame(TsvReader.read(spark, Seq(f.toString), td), t.cols.map(_._1))
        val exp = new Gen.Expected(Seq(t)); exp(d)
        assertEq(got, exp.checksum(t.name), "checksum")
        Files.delete(f); Files.delete(dir)
      } finally spark.stop()
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
