package graft.tools

import graft.LocalSession
import graft.analytics.Similarity
import graft.streaming.StreamingCorpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Dev probe: the STREAMING-GATE soak at sf10 — the operator family with
 * ≡-batch correctness proofs (StreamingCorpusSpec) but, until round 19,
 * no at-scale throughput row. Drives the 100× corpus
 * (`target/soak_sf10`, built by [[Soak100]] — run it first) through the
 * production-shaped gates in realistic micro-batches and records, per
 * batch: rows, wall, rows/s, and on-disk state size — the quantified
 * form of the spec's per-batch-cost-is-batch-bounded property.
 *
 * Battery (SPARK_GRAFT_STREAM_ONLY selects members):
 *  - `ingest`     — the exact-dedup/chunk ingest pipeline
 *                   ([[StreamingCorpus.start]]), driven through the REAL
 *                   streaming entry point: parquet waves land in a
 *                   directory, one Trigger.AvailableNow pass per wave
 *                   (wall includes query start/checkpoint machinery —
 *                   the end-to-end number a capacity plan needs);
 *  - `cluster`    — the incremental cluster forest serving all three
 *                   duplicate policies ([[StreamingCorpus.softDedupStep]]
 *                   per batch; the q159/q163/q153 ledgers priced from
 *                   the final state, plus a mid-run serve point);
 *  - `ivfadc`     — the composed IVF-ADC serving index
 *                   ([[StreamingCorpus.ivfAdcStep]] against a frozen
 *                   1/40-sample-trained model; the served q165 ledger
 *                   priced at 1/4, 1/2 and full index size);
 *  - `contain`    — the containment gate (frozen shingle index over a
 *                   10% bootstrap, [[StreamingCorpus.containmentStep]]
 *                   probes per batch).
 *
 * Batches are deterministic id-stripes (`pmod(id, nBatches) === i`), so
 * duplicates of one text usually arrive in DIFFERENT batches — the
 * cross-batch collision path, the one the state exists for. State roots
 * are wiped at start so growth curves begin at zero.
 */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val sf10 = "target/soak_sf10"
    val root = "target/soak_stream_sf10"
    val nB = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "20").toInt
    val only = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(tag: String): Boolean = only.forall(_.contains(tag))

    val spark = LocalSession(LocalSession.cpus, "stream-soak")

    require(new java.io.File(s"$sf10/documents.parquet/_SUCCESS").exists(),
      s"missing $sf10 — run graft.tools.Soak100 first")

    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.exists()) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(f.toPath).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    rmrf(root)

    def dirMb(p: String): Double = {
      val f = new java.io.File(p)
      if (!f.exists()) 0.0
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(f.toPath).iterator().asScala
          .map(_.toFile).filter(_.isFile).map(_.length()).sum / 1e6
      }
    }

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val docs = spark.read.parquet(s"$sf10/documents.parquet")

    // ---------------------------------------------------------- ingest
    if (want("ingest")) {
      val landing = s"$root/ingest/landing"
      new java.io.File(landing).mkdirs()
      val chunksP = s"$root/ingest/chunks"
      val survP = s"$root/ingest/survivors"
      val fpsP = s"$root/ingest/fps"
      val ckpt = s"$root/ingest/ckpt"
      println(s"--- ingest gate: ${nB} waves through StreamingCorpus.start")
      (0 until nB).foreach { i =>
        // land wave i as flat files (the staging write is NOT timed —
        // arrival cost belongs to the producer, not the gate)
        val stage = s"$root/ingest/stage_$i"
        docs.filter(pmod(col("doc_id"), lit(nB)) === i)
          .write.mode("overwrite").parquet(stage)
        val staged = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet"))
        staged.zipWithIndex.foreach { case (f, j) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(landing, s"w${i}_$j.parquet").toPath)
        }
        val (rows, w) = timed {
          val q = StreamingCorpus.start(spark, landing, docs.schema,
            chunksP, survP, ckpt, trigger = Trigger.AvailableNow(),
            fpsPath = Some(fpsP))
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        }
        val mb = dirMb(chunksP) + dirMb(survP) + dirMb(fpsP)
        println(f"[ingest] batch ${i + 1}/$nB rows=$rows wall=$w%.1fs " +
          f"rows_s=${rows / w}%.0f state_mb=$mb%.0f")
        rmrf(stage)
      }
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
    }

    // --------------------------------------------------------- cluster
    if (want("cluster")) {
      val repP = s"$root/cluster/rep"
      val forP = s"$root/cluster/forest"
      val docP = s"$root/cluster/docs"
      println(s"--- cluster gate: $nB batches through softDedupStep " +
        "(forest + rep + docs state; three policies served from it)")
      (0 until nB).foreach { i =>
        val b = docs.filter(pmod(col("doc_id"), lit(nB)) === i)
          .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
        val n = b.count() // not timed: sized for the rows/s denominator
        val (_, w) = timed {
          StreamingCorpus.softDedupStep(spark, b, repP, forP, docP, i.toLong)
        }
        val mb = dirMb(repP) + dirMb(forP) + dirMb(docP)
        println(f"[cluster] batch ${i + 1}/$nB rows=$n wall=$w%.1fs " +
          f"rows_s=${n / w}%.0f state_mb=$mb%.0f")
        if (i + 1 == nB / 2 || i + 1 == nB) {
          val tag = if (i + 1 == nB) "full" else "half"
          val (n159, w159) = timed(
            StreamingCorpus.softDedupLedger(spark, docP, forP).count())
          val (n153, w153) = timed(
            StreamingCorpus.qualityKeeperLedger(spark, docP, forP).count())
          val (n163, w163) = timed(
            StreamingCorpus.effectiveDataLedger(spark, docP, forP).count())
          println(f"[cluster] serve@$tag q159 rows=$n159 wall=$w159%.1fs; " +
            f"q153 rows=$n153 wall=$w153%.1fs; q163 rows=$n163 wall=$w163%.1fs")
        }
      }
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
    }

    // ---------------------------------------------------------- ivfadc
    if (want("ivfadc")) {
      val emb = spark.read.parquet(s"$sf10/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val codesP = s"$root/ivfadc/codes"
      val cellsP = s"$root/ivfadc/cells"
      val qP = s"$root/ivfadc/queries"
      // frozen model: 1/40 deterministic sample (the FAISS training
      // discipline — the sf10 batch q165 row trains the same way);
      // nplanes 10 keeps per-cell density flat at 2M vectors
      val (model, wTrain) = timed(Similarity.ivfAdcFreeze(
        emb.filter(pmod(col("vec_id"), lit(40)) === 0 &&
          col("embedding").isNotNull),
        m = 4, k = 4, iters = 2, nplanes = 10))
      println(f"--- ivfadc gate: model frozen from 1/40 sample in " +
        f"$wTrain%.1fs; $nB batches through ivfAdcStep (|Q| via stride 10000)")
      (0 until nB).foreach { i =>
        val b = emb.filter(pmod(col("vec_id"), lit(nB)) === i)
        val n = b.count()
        val (_, w) = timed {
          StreamingCorpus.ivfAdcStep(spark, b, model, codesP, cellsP, qP,
            i.toLong, stride = 10000L)
        }
        val mb = dirMb(codesP) + dirMb(cellsP) + dirMb(qP)
        println(f"[ivfadc] batch ${i + 1}/$nB rows=$n wall=$w%.1fs " +
          f"rows_s=${n / w}%.0f state_mb=$mb%.0f")
        if (i + 1 == nB / 4 || i + 1 == nB / 2 || i + 1 == nB) {
          val (srv, ws) = timed(StreamingCorpus.ivfAdcLedger(spark,
            codesP, cellsP, qP, model).count())
          org.apache.spark.sql.GraftBridge.releaseTransientPins()
          println(f"[ivfadc] serve@${i + 1}/$nB rows=$srv wall=$ws%.1fs")
        }
      }
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
    }

    // --------------------------------------------------------- contain
    if (want("contain")) {
      val idxP = s"$root/contain/index"
      val ledP = s"$root/contain/ledger"
      // frozen reference index over a 10% bootstrap; the other 90%
      // arrives in batches and probes it
      val (_, wIdx) = timed(StreamingCorpus.buildContainmentIndex(spark,
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), idxP))
      println(f"--- contain gate: index over 10%% bootstrap in $wIdx%.1fs " +
        f"(${dirMb(idxP)}%.0f MB); $nB probe batches")
      val probes = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      (0 until nB).foreach { i =>
        val b = probes.filter(pmod(col("doc_id"), lit(nB)) === i)
          .select(col("doc_id"), col("source"), col("text"))
        val n = b.count()
        val (_, w) = timed {
          StreamingCorpus.containmentStep(spark, b, idxP, ledP, i.toLong)
        }
        println(f"[contain] batch ${i + 1}/$nB rows=$n wall=$w%.1fs " +
          f"rows_s=${n / w}%.0f ledger_mb=${dirMb(ledP)}%.0f")
      }
      val (nl, wl) = timed(
        StreamingCorpus.containmentLedger(spark, ledP).count())
      println(f"[contain] serve ledger rows=$nl wall=$wl%.1fs")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
    }

    spark.stop()
  }
}
