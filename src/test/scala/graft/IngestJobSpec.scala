package graft

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.api.DumpInList
import graft.config.DatabaseType
import graft.ingest.{BucketedMerge, TsvReader}
import graft.jobs.{IngestJob, JdbcTarget}
import graft.schema.CanvasSchema
import graft.state.IngestState
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/**
 * Ingest end-to-end over synthetic Canvas dump fixtures (FIXTURES.md §B):
 * gzipped headerless TSV, `\N` nulls, schema-ordered columns, two dumps with
 * overlapping PKs → last-writer-wins; volatile table → drop/recreate.
 */
class IngestJobSpec extends AnyFunSuite with SparkSuite {

  private val schemaJson =
    """{
      |  "version": "1.0.0",
      |  "schema": {
      |    "user_dim": {
      |      "dw_type": "dimension", "incremental": true, "tableName": "user_dim",
      |      "columns": [
      |        {"name": "id", "type": "bigint"},
      |        {"name": "name", "type": "varchar"},
      |        {"name": "created_at", "type": "timestamp"},
      |        {"name": "visibility", "type": "enum"}
      |      ]
      |    },
      |    "quiz_dim": {
      |      "dw_type": "dimension", "incremental": false, "tableName": "quiz_dim",
      |      "columns": [
      |        {"name": "id", "type": "bigint"},
      |        {"name": "title", "type": "text"}
      |      ]
      |    }
      |  }
      |}""".stripMargin

  private def gz(path: File, lines: Seq[String]): String = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), "UTF-8"))
    lines.foreach { l => w.write(l); w.write("\n") }
    w.close()
    path.getAbsolutePath
  }

  test("two-dump ingest: incremental keep-latest + volatile overwrite + state machine") {
    val root = TempDirs.tempDir("graft_ingest").toFile
    val schema = CanvasSchema.fromJson(schemaJson)
    val state = new IngestState(spark, s"$root/state")
    val wh = s"$root/warehouse"

    // dump 1: users 1,2 + quiz 10; dump 2: user 2 renamed (+null), user 3 new, quiz 11 only
    val d1u = gz(new File(root, "user_dim-00000-aa.gz"), Seq(
      "1\talice\t2024-01-01 00:00:00\tnormal",
      "2\tbob\t2024-01-01 00:00:00\t\\N"))
    val d1q = gz(new File(root, "quiz_dim-00000-aa.gz"), Seq("10\tfirst quiz"))
    val d2u = gz(new File(root, "user_dim-00000-bb.gz"), Seq(
      "2\tbobby\t2024-02-01 12:30:00\thidden",
      "3\tcarol\t2024-02-01 12:30:00\tnormal"))
    val d2q = gz(new File(root, "quiz_dim-00000-bb.gz"), Seq("11\tsecond quiz"))

    val dumps = Seq(
      DumpInList("dump1", 1, 2, finished = true, "2024-01-02T00:00:00Z", "1.0.0"),
      DumpInList("dump2", 2, 2, finished = true, "2024-02-02T00:00:00Z", "1.0.0"),
      DumpInList("dump3", 3, 1, finished = false, "2024-03-02T00:00:00Z", "1.0.0"), // F-1 skip
      DumpInList("dump4", 4, 1, finished = true, "2024-04-02T00:00:00Z", "0.9.0")) // F-3 out-of-date

    val files = Map(
      "dump1" -> Map("user_dim" -> Seq(d1u), "quiz_dim" -> Seq(d1q)),
      "dump2" -> Map("user_dim" -> Seq(d2u), "quiz_dim" -> Seq(d2q)))

    new IngestJob(spark, schema, wh, state).run(dumps, files(_))

    import spark.implicits._
    val users = spark.read.parquet(s"$wh/user_dim")
      .select("id", "name", "visibility").as[(Long, String, Option[String])]
      .collect().toSet
    assert(users == Set(
      (1L, "alice", Some("normal")),
      (2L, "bobby", Some("hidden")), // dump2 overwrote dump1's row (incl. null→value)
      (3L, "carol", Some("normal"))))

    // quiz_dim is in VOLATILE_TABLES → dump2 fully replaced dump1
    val quizzes = spark.read.parquet(s"$wh/quiz_dim")
      .select("id").as[Long].collect().toSet
    assert(quizzes == Set(11L))

    // state machine
    assert(state.dumpStatus("dump1").contains(IngestState.Successful))
    assert(state.dumpStatus("dump2").contains(IngestState.Successful))
    assert(state.dumpStatus("dump3").isEmpty) // unfinished: never attempted
    assert(state.dumpStatus("dump4").contains(IngestState.OutOfDate))
    assert(state.lastVersionProcessed.contains("1.0.0"))

    // rerun: F-2 skips processed dumps; warehouse unchanged (idempotence)
    new IngestJob(spark, schema, wh, state).run(dumps, files(_))
    assert(spark.read.parquet(s"$wh/user_dim").count() == 3)
    assert(spark.read.parquet(s"$wh/quiz_dim").count() == 1)
  }

  test("multi-file table: shards union before merge; empty shard contributes zero rows") {
    val root = TempDirs.tempDir("graft_shards").toFile
    val schema = CanvasSchema.fromJson(schemaJson)
    val shard0 = gz(new File(root, "user_dim-00000-aa.gz"), Seq(
      "1\talice\t2024-01-01 00:00:00\tnormal"))
    val shard1 = gz(new File(root, "user_dim-00001-bb.gz"), Seq(
      "2\tbob\t2024-01-01 00:00:00\tnormal",
      "1\talice2\t2024-01-02 00:00:00\tnormal")) // duplicate PK across shards
    val empty = gz(new File(root, "user_dim-00002-cc.gz"), Seq.empty)

    val state = new IngestState(spark, s"$root/state")
    val job = new IngestJob(spark, schema, s"$root/wh", state)
    val out = job.loadTable(schema.tables("user_dim"),
      Seq(shard0, shard1, empty), dumpSeq = 1)
    // one row per PK survives (within-dump dedup needs a tie-break: file
    // order is not deterministic at scale — keep-latest picks one row)
    assert(out.count() == 2)
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("oversized gz artifact: re-chunk yields >1 scan partition, byte-identical table") {
    val root = TempDirs.tempDir("graft_rechunk").toFile
    val schema = CanvasSchema.fromJson(schemaJson)
    // one unsplittable artifact carrying many rows — 1 partition, 1 thread
    val rows = (1 to 2000).map(i => s"$i\tuser_$i\t2024-01-01 00:00:00\tnormal")
    val big = gz(new File(root, "user_dim-00000-aa.gz"), rows)
    val expected = graft.ingest.TsvReader
      .read(spark, Seq(big), schema.tables("user_dim"))
      .collect().map(_.toString).sorted

    // re-chunk at a tiny threshold so the fixture splits like a multi-GB
    // artifact would; part size bounded by UNCOMPRESSED bytes
    val parts = graft.ingest.GzRechunk.ensureChunked(
      new File(big).toPath, maxBytes = 1L, partUncompressedBytes = 16L << 10)
    assert(parts.size > 1, s"expected multiple parts, got ${parts.size}")
    assert(!new File(big).exists(), "original replaced by the part set")
    // idempotent resume: marker present, same part set, no original needed
    assert(graft.ingest.GzRechunk.isChunked(new File(big).toPath))
    assert(graft.ingest.GzRechunk.ensureChunked(new File(big).toPath, 1L) == parts)

    val df = graft.ingest.TsvReader.read(spark, parts.map(_.toString),
      schema.tables("user_dim"))
    assert(df.rdd.getNumPartitions > 1,
      s"re-chunked scan still single-partition (${df.rdd.getNumPartitions})")
    assert(df.collect().map(_.toString).sorted.sameElements(expected),
      "re-chunked table differs from the single-file read")
  }

  test("re-chunk restart discards a crashed attempt's stale parts") {
    val root = TempDirs.tempDir("graft_rechunk_stale").toFile
    val rows = (1 to 400).map(i => s"$i\tuser_$i\t2024-01-01 00:00:00\tnormal")
    val big = gz(new File(root, "user_dim-00000-aa.gz"), rows)
    val p = new File(big).toPath
    // simulate attempt 1 (smaller parts) dying before its marker: its
    // higher-numbered parts must NOT survive into the completed set
    val stale = (0 until 6).map(i =>
      p.resolveSibling(f"${p.getFileName}%s.rechunk$i%03d.gz"))
    stale.foreach(sp => java.nio.file.Files.write(sp, "bogus\n".getBytes("UTF-8")))

    val parts = graft.ingest.GzRechunk.ensureChunked(p, maxBytes = 1L,
      partUncompressedBytes = 4L << 10)
    assert(parts.size > 1 && parts.size < 6,
      s"fixture should split into 2-5 real parts, got ${parts.size}")
    // contiguity check: nothing beyond the completed set remains on disk
    assert(!java.nio.file.Files.exists(
      p.resolveSibling(f"${p.getFileName}%s.rechunk${parts.size}%03d.gz")),
      "stale part beyond the completed set survived the restart")
    val lines = parts.flatMap { part =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(part)), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
      finally in.close()
    }
    assert(lines == rows, "re-chunked parts must concatenate to the original rows")
  }

  test("re-chunk bounds parts by UTF-8 bytes, not code units, on multibyte text") {
    val root = TempDirs.tempDir("graft_rechunk_utf8").toFile
    // 3-byte CJK + 4-byte emoji per line: ~3.4x more bytes than chars
    val rows = (1 to 200).map(i => s"$i\t文書${"😀" * 8}テスト_$i")
    val big = gz(new File(root, "user_dim-00000-aa.gz"), rows)
    val p = new File(big).toPath
    val partBytes = 2048L
    val parts = graft.ingest.GzRechunk.ensureChunked(p, maxBytes = 1L,
      partUncompressedBytes = partBytes)
    assert(parts.size > 1)
    val maxLine = rows.map(_.getBytes("UTF-8").length + 1).max
    parts.foreach { part =>
      val in = new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(part))
      val n = try Iterator.continually(in.read(new Array[Byte](8192)))
        .takeWhile(_ >= 0).map(_.toLong).sum
      finally in.close()
      assert(n <= partBytes + maxLine,
        s"part $part holds $n uncompressed bytes — the roll must trigger on BYTES")
    }
    val lines = parts.flatMap { part =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(part)), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
      finally in.close()
    }
    assert(lines == rows, "multibyte content must round-trip byte-identically")
  }

  test("existing-but-unreadable target fails the load instead of overwriting it") {
    val root = TempDirs.tempDir("graft_corrupt").toFile
    val schema = CanvasSchema.fromJson(schemaJson)
    val state = new IngestState(spark, s"$root/state")
    val wh = s"$root/wh"

    // a target directory that EXISTS but whose parquet is corrupt: the job
    // must propagate the read error, not treat it as "no target" and replace
    // the table with just the new batch (silent data loss).
    val target = new File(wh, "user_dim")
    assert(target.mkdirs())
    Files.write(new File(target, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))

    val batch = gz(new File(root, "user_dim-00000-aa.gz"), Seq(
      "1\talice\t2024-01-01 00:00:00\tnormal"))
    val job = new IngestJob(spark, schema, wh, state)
    intercept[Throwable] {
      job.loadTable(schema.tables("user_dim"), Seq(batch), dumpSeq = 1).count()
    }
    // the corrupt target is untouched — no staging rename happened
    assert(new File(target, "part-00000.parquet").exists())
  }

  /** Run `body` with `listener` registered; events are drained before
    * the listener is removed, so counters are complete on return. */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.waitListenerBusEmpty(spark, 30000L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs whose call site runs through a frame of `cls`. A SQL execution
    * carries the stack of the thread that started it; its jobs may run on
    * other threads, so they are matched by execution id. */
  private def jobsThrough(cls: String)(body: => Unit): Int = {
    val execSites = new ConcurrentHashMap[Long, String]()
    val n = new AtomicInteger(0)
    listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
        case _                                 => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong)))
          .getOrElse(j.stageInfos.map(_.details).mkString("\n"))
        if (site.contains(s"$cls.")) n.incrementAndGet()
      }
    })(body)
    n.get
  }

  test("ledger reads per run do not grow with the listing (one snapshot per run)") {
    val schema = CanvasSchema.fromJson(schemaJson)
    def ledgerJobs(listed: Int): Int = {
      val root = TempDirs.tempDir("graft_ledger_jobs").toFile
      val state = new IngestState(spark, s"$root/state")
      val dumps = (1 to listed).map(i =>
        DumpInList(f"done$i%02d", i.toLong, 1, finished = true, f"2024-01-$i%02dT00:00:00Z", "1.0.0"))
      dumps.foreach(d => state.setDumpStatus(d.dumpId, IngestState.Successful))
      val job = new IngestJob(spark, schema, s"$root/wh", state)
      jobsThrough("graft.state.IngestState") {
        job.run(dumps, id => fail(s"processed dump $id must not be fetched"))
      }
    }
    val two = ledgerJobs(2)
    val twelve = ledgerJobs(12)
    assert(two == twelve, s"ledger jobs grew with the listing: 2 dumps -> $two, 12 dumps -> $twelve")
    assert(two <= 2, s"expected one ledger read and one version write, saw $two ledger jobs")
  }

  test("an incremental load parses its TSV once: bucket probe, merge and JDBC stage share one scan") {
    System.setProperty("derby.system.home", TempDirs.tempDir("derby_home").toString)
    val root = TempDirs.tempDir("graft_one_scan").toFile
    val schema = CanvasSchema.fromJson(schemaJson)
    val users = schema.tables("user_dim")
    val job = new IngestJob(spark, schema, s"$root/wh", new IngestState(spark, s"$root/state"),
      jdbc = Some(JdbcTarget.forUrl("jdbc:derby:memory:ingest_one_scan;create=true", DatabaseType.Psql)))
    // the first load creates the bucketed target, so the second takes the
    // hourly path: probe the affected buckets, merge them, stage to JDBC
    job.loadTable(users, Seq(gz(new File(root, "user_dim-00000-aa.gz"),
      (1 to 200).map(i => s"$i\tuser_$i\t2024-01-01 00:00:00\tnormal"))), dumpSeq = 1)
    val delta = (150 to 260).map(i => s"$i\tuser_${i}_v2\t2024-02-01 00:00:00\thidden")
    val deltaFile = gz(new File(root, "user_dim-00000-bb.gz"), delta)

    val tsvRecords = new AtomicLong(0)
    listening(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (GraftBridge.rddScopeNames(s.stageInfo).exists(_.toLowerCase.contains("csv")))
          tsvRecords.addAndGet(s.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }) {
      job.loadTable(users, Seq(deltaFile), dumpSeq = 2)
    }
    assert(tsvRecords.get == delta.size,
      s"${delta.size} delta rows, but the TSV stages read ${tsvRecords.get} records")
    import spark.implicits._
    assert(BucketedMerge.read(spark, s"$root/wh/user_dim").select("id").as[Long].collect().toSet ==
      (1L to 260L).toSet)
  }

  test("a failing table fails its dump: siblings stop, the ledger records it, a fixed replay converges") {
    val schema = CanvasSchema.fromJson(schemaJson)
    val src = TempDirs.tempDir("graft_fail_src").toFile
    val dumps = Seq(
      DumpInList("dump1", 1, 2, finished = true, "2024-01-02T00:00:00Z", "1.0.0"),
      DumpInList("dump2", 2, 2, finished = true, "2024-02-02T00:00:00Z", "1.0.0"),
      DumpInList("dump3", 3, 2, finished = true, "2024-03-02T00:00:00Z", "1.0.0"))
    val users = (1 to 3).map(d => gz(new File(src, s"user_dim-00000-d$d.gz"),
      (1 to 400).map(i => s"${i * d}\tuser_${i}_d$d\t2024-0$d-01 00:00:00\tnormal")))
    val goodQuiz2 = Seq("20\tsecond quiz", "21\tanother quiz")
    val quizzes = Seq(
      gz(new File(src, "quiz_dim-00000-d1.gz"), Seq("10\tfirst quiz")),
      // FAILFAST: a row with a column too many is malformed
      gz(new File(src, "quiz_dim-00000-d2.gz"), Seq("20\tsecond quiz", "21\tanother quiz\tstray column")),
      gz(new File(src, "quiz_dim-00000-d3.gz"), Seq("30\tthird quiz")))
    val fetched = mutable.Buffer.empty[String]
    def files(id: String): Map[String, Seq[String]] = {
      fetched += id
      val d = id.last.asDigit - 1
      Map("user_dim" -> Seq(users(d)), "quiz_dim" -> Seq(quizzes(d)))
    }

    val root = TempDirs.tempDir("graft_fail").toFile
    val state = new IngestState(spark, s"$root/state")
    val job = new IngestJob(spark, schema, s"$root/wh", state)
    val err = intercept[Throwable](job.run(dumps, files))
    val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("FAILFAST")),
      s"expected the malformed quiz_dim row's error, got $err")
    assert(state.dumpStatus("dump1").contains(IngestState.Successful))
    assert(state.dumpStatus("dump2").contains(IngestState.Failure))
    assert(state.dumpStatus("dump3").isEmpty)
    assert(fetched == Seq("dump1", "dump2"), "dump 3's manifest must never be fetched")
    GraftBridge.waitListenerBusEmpty(spark, 30000L)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling table's job outlived the failed run")

    // fix the file and replay: dump 1 is skipped, dumps 2 and 3 load
    gz(new File(quizzes(1)), goodQuiz2)
    job.run(dumps, files)
    dumps.foreach(d => assert(state.dumpStatus(d.dumpId).contains(IngestState.Successful)))

    val clean = TempDirs.tempDir("graft_fail_clean").toFile
    new IngestJob(spark, schema, s"$clean/wh", new IngestState(spark, s"$clean/state")).run(dumps, files)
    Seq("user_dim", "quiz_dim").foreach { t =>
      def rows(wh: String) = BucketedMerge.read(spark, s"$wh/$t").collect().map(_.toString).sorted.toSeq
      assert(rows(s"$root/wh") == rows(s"$clean/wh"), s"$t: the replay diverged from a clean run")
    }
  }

  test("TsvReader: \\N decodes to typed NULL, values keep quotes (I-6 divergence)") {
    val root = TempDirs.tempDir("graft_tsv").toFile
    val schema = CanvasSchema.fromJson(schemaJson)
    val f = gz(new File(root, "user_dim-00000-cc.gz"), Seq(
      "\\N\tit's \"quoted\"\t\\N\t\\N"))
    val df = TsvReader.read(spark, Seq(f), schema.tables("user_dim"))
    val row = df.collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(2) && row.isNullAt(3))
    assert(row.getString(1) == "it's \"quoted\"") // reference strips quotes; we keep them
  }
}
