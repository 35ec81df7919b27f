package graft.tools

import graft.LocalSession
import graft.analytics.Dedup
import org.apache.spark.sql.functions._

/**
 * Dev probe: the 1000× (sf100) soak — a THREE-orders-of-magnitude point
 * for the flagship linearity claims (the sf10 battery's construction at
 * 10× its shard count: 1000 token-namespaced copies of sf0.1's
 * `documents`, ~5M docs / ~15 GB of raw text mass, ~3 GB parquet under
 * target/soak_sf100). Shards are written in 10 append batches of 100 so
 * no single plan carries a 1000-way union.
 *
 * Battery (kept small — the families whose 100 TB story leans on
 * measured flatness/linearity): exact dedup (q30), the q74 contraction
 * (rounds must stay bounded at 1000×), the collapsed Hamming histogram
 * (q114 — banding over distinct VALUES only), paragraph dedup (q129 —
 * the flat-at-100× claim re-tested at 1000×), and per-source caps
 * (q103 — the whole corpus over cap, worst case by construction).
 * One pass by default (SPARK_GRAFT_SOAK_PASSES to change); compare
 * against sf0.1 walls printed alongside.
 */
object Soak1000 {
  def main(args: Array[String]): Unit = {
    val sf01 = "/root/testdata/sf0.1"
    val soakDir = "target/soak_sf100"
    val spark = LocalSession(LocalSession.cpus, "soak1000")

    val marker = new java.io.File(s"$soakDir/documents.parquet/_SUCCESS")
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      val base = spark.read.parquet(s"$sf01/documents.parquet")
      (0 until 10).foreach { outer =>
        val shards = (0 until 100).map { i =>
          val k = outer * 100 + i
          base.select(
            (col("doc_id") + lit(k * 5000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"t${k}_$$1").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }
        shards.reduce(_ unionByName _)
          .repartition(32)
          .write.mode(if (outer == 0) "overwrite" else "append")
          .parquet(s"$soakDir/documents.parquet")
        println(s"[fixture] sf100 batch ${outer + 1}/10 written")
      }
      println(f"[fixture] built 1000-shard sf100 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    val embMarker = new java.io.File(s"$soakDir/embeddings.parquet/_SUCCESS")
    if (!embMarker.exists()) {
      val t0 = System.nanoTime()
      val base = spark.read.parquet(s"$sf01/embeddings.parquet")
      val n = base.count()
      // the sf10 construction at 10x the shard count: a deterministic
      // per-shard sign-flip (diagonal ±1 = orthogonal transform —
      // within-shard geometry exactly sf0.1's). Sign = murmur3(k, j)
      // parity so every shard carries a DISTINCT pseudorandom pattern
      // (the earlier (j*31+7k)%5 form had period 5 in k, collapsing
      // 1000 shards to 5 patterns — 200 exact copies per base vector)
      (0 until 10).foreach { outer =>
        val shards = (0 until 100).map { i =>
          val k = outer * 100 + i
          base.select(
            (col("vec_id") + lit(k * n)).as("vec_id"),
            zip_with(col("embedding"),
              transform(sequence(lit(0), size(col("embedding")) - 1),
                j => when(pmod(hash(lit(k), j), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f))),
              (x, s2) => x * s2).as("embedding"),
            col("label"))
        }
        shards.reduce(_ unionByName _)
          .repartition(32)
          .write.mode(if (outer == 0) "overwrite" else "append")
          .parquet(s"$soakDir/embeddings.parquet")
        println(s"[fixture] sf100 embeddings batch ${outer + 1}/10 written")
      }
      println(f"[fixture] built 1000-shard sf100 embeddings in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    def timed[T](tag: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[$tag] wall=$dt%.1fs")
      (r, dt)
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_SOAK_PASSES", "1").toInt
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(tag: String): Boolean = only.forall(_.contains(tag))
    (1 to passes).foreach { pass =>
      println(s"--- pass $pass")
      if (want("exact")) {
        val (n01, t01) = timed("exact_groups sf0.1")(Dedup.exactGroups(spark, sf01).count())
        val (n100, t100) = timed("exact_groups sf100")(Dedup.exactGroups(spark, soakDir).count())
        println(f"[exact] groups $n01 -> $n100 (x${n100.toDouble / n01}%.0f), wall x${t100 / t01}%.1f on 1000x data")
      }
      if (want("q103")) {
        val (c01, tc01) = timed("q103 sf0.1")(
          graft.analytics.Sampling.sourceCapStats(spark, sf01).count())
        val (c100, tc100) = timed("q103 sf100")(
          graft.analytics.Sampling.sourceCapStats(spark, soakDir).count())
        println(f"[q103] rows $c01 -> $c100, wall x${tc100 / tc01}%.1f on 1000x data")
      }
      if (want("q114")) {
        val (h01, th01) = timed("q114 sf0.1")(Dedup.hammingHistogram(spark, sf01).count())
        val (h100, th100) = timed("q114 sf100")(Dedup.hammingHistogram(spark, soakDir).count())
        println(f"[q114] rows $h01 -> $h100, wall x${th100 / th01}%.1f on 1000x data")
      }
      if (want("q129")) {
        val (p01, tp01) = timed("q129 sf0.1")(
          graft.analytics.TextStats.paragraphDedup(spark, sf01).count())
        val (p100, tp100) = timed("q129 sf100")(
          graft.analytics.TextStats.paragraphDedup(spark, soakDir).count())
        println(f"[q129] rows $p01 -> $p100 (x${p100.toDouble / p01}%.0f), wall x${tp100 / tp01}%.1f on 1000x data")
      }
      if (want("q165")) {
        // the production serving recipe at 1000x: |Q| fixed via stride
        // (200 queries at every scale), nplanes 3 -> 13 keeps per-cell
        // density flat at 20M vectors, codebook sample-trained at 1/400
        // (the FAISS discipline — training set stays ~50k at any scale)
        import graft.analytics.{Similarity, Tables}
        val (a01, ta01) = timed("q165 sf0.1")(
          Similarity.ivfAdcTopKOf(Tables.embeddings(spark, sf01),
            4, 4, 2, 5, 100L, 4, 3).count())
        org.apache.spark.sql.GraftBridge.releaseTransientPins()
        val (a100, ta100) = timed("q165 sf100")(
          Similarity.ivfAdcTopKOf(Tables.embeddings(spark, soakDir),
            4, 4, 2, 5, 100000L, 4, 13, trainSampleMod = 400).count())
        org.apache.spark.sql.GraftBridge.releaseTransientPins()
        println(f"[q165] rows $a01 -> $a100, wall x${ta100 / ta01}%.1f on 1000x data (|Q| fixed, nplanes 3 -> 13)")
      }
      if (want("q101")) {
        // the densest pair surface at 1000x: cross-source leakage over
        // the distinct-fingerprint-collapsed banded stream
        def docsOf(d: String) = spark.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), col("text"), col("source"))
        val (l01, tl01) = timed("q101 sf0.1")(
          Dedup.crossSourceLeakageOf(docsOf(sf01), 6).count())
        val (l100, tl100) = timed("q101 sf100")(
          Dedup.crossSourceLeakageOf(docsOf(soakDir), 6).count())
        println(f"[q101] cells $l01 -> $l100, wall x${tl100 / tl01}%.1f on 1000x data")
      }
      if (want("q148")) {
        val (u01, tu01) = timed("q148 sf0.1")(
          graft.analytics.Sampling.urlDedupStats(spark, sf01).count())
        val (u100, tu100) = timed("q148 sf100")(
          graft.analytics.Sampling.urlDedupStats(spark, soakDir).count())
        println(f"[q148] rows $u01 -> $u100, wall x${tu100 / tu01}%.1f on 1000x data")
      }
      if (want("q123")) {
        // selection family at 1000×: broadcast hashed-bigram importance
        // models + an id-lottery — scoring is one corpus-linear pass
        val (d01, td01) = timed("q123 sf0.1")(
          graft.analytics.TextStats.dsirSelect(spark, sf01).count())
        val (d100, td100) = timed("q123 sf100")(
          graft.analytics.TextStats.dsirSelect(spark, soakDir).count())
        println(f"[q123] rows $d01 -> $d100, wall x${td100 / td01}%.1f on 1000x data")
      }
      if (want("q156")) {
        val (m01, tm01) = timed("q156 sf0.1")(
          graft.analytics.TextStats.mooreLewis(spark, sf01).count())
        val (m100, tm100) = timed("q156 sf100")(
          graft.analytics.TextStats.mooreLewis(spark, soakDir).count())
        println(f"[q156] rows $m01 -> $m100, wall x${tm100 / tm01}%.1f on 1000x data")
      }
      if (want("q88")) {
        val (g01, tg01) = timed("q88 sf0.1")(
          graft.analytics.TextStats.gopherQuality(spark, sf01).count())
        val (g100, tg100) = timed("q88 sf100")(
          graft.analytics.TextStats.gopherQuality(spark, soakDir).count())
        println(f"[q88] rows $g01 -> $g100, wall x${tg100 / tg01}%.1f on 1000x data")
      }
      if (want("q74")) {
        val ((n01, r01), t01) = timed("q74 sf0.1") {
          val (e, r) = Dedup.duplicateClusterEdges(Dedup.simhashDupGraph(spark, sf01))
          (e.count(), r)
        }
        val ((n100, r100), t100) = timed("q74 sf100") {
          val (e, r) = Dedup.duplicateClusterEdges(Dedup.simhashDupGraph(spark, soakDir))
          (e.count(), r)
        }
        println(f"[q74] edges $n01 -> $n100 (x${n100.toDouble / n01}%.0f), rounds $r01 -> $r100, wall x${t100 / t01}%.1f on 1000x data")
      }
    }
    spark.stop()
  }
}
