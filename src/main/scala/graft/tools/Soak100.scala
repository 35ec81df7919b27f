package graft.tools

import graft.LocalSession
import graft.analytics.Dedup
import org.apache.spark.sql.functions._

/**
 * Dev probe: the 100× (sf10) soak of the contraction family — the single
 * two-orders-of-magnitude point backing the linearity claim (COVERAGE.md
 * soak table). Builds the 100-shard token-namespaced copy of sf0.1's
 * `documents` (the DedupSoakSf1Spec fixture shape at 100×, ~500k docs)
 * under target/soak_sf10, then times sf0.1 vs sf10 for exact-dedup and
 * the full q74 contraction (dup graph + star loop), printing wall,
 * row/edge counts, round counts and the wall multiplier. The in-suite
 * ContractionSoakSf10Spec asserts the cheap invariants (exact 100× row
 * scaling, constant rounds) on every `sbt test`; this main is the
 * full-wall measurement, too heavy for the default suite.
 */
object Soak100 {
  def main(args: Array[String]): Unit = {
    val sf01 = "/root/testdata/sf0.1"
    val soakDir = "target/soak_sf10"
    val spark = LocalSession(LocalSession.cpus, "soak100")

    val marker = new java.io.File(s"$soakDir/documents.parquet/_SUCCESS")
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      val base = spark.read.parquet(s"$sf01/documents.parquet")
      val shards = (0 until 100).map { k =>
        base.select(
          (col("doc_id") + lit(k * 5000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"t${k}_$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      shards.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$soakDir/documents.parquet")
      println(f"[fixture] built 100-shard sf10 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    def timed[T](tag: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[$tag] wall=$dt%.1fs")
      (r, dt)
    }

    val embMarker = new java.io.File(s"$soakDir/embeddings.parquet/_SUCCESS")
    if (!embMarker.exists()) {
      val t0 = System.nanoTime()
      val base = spark.read.parquet(s"$sf01/embeddings.parquet")
      val n = base.count()
      // shard k flips a deterministic sign pattern into every vector (a
      // diagonal ±1 = orthogonal transform — within-shard geometry is
      // exactly sf0.1's). Sign = murmur3(k, i) parity so every shard has
      // a DISTINCT pseudorandom pattern (the earlier (i*31+7k)%5 form
      // had period 5 in k: 100 shards collapsed to 5 patterns = 20
      // exact copies per base vector)
      val shards = (0 until 100).map { k =>
        base.select(
          (col("vec_id") + lit(k * n)).as("vec_id"),
          zip_with(col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              i => when(pmod(hash(lit(k), i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f))),
            (x, s2) => x * s2).as("embedding"),
          col("label"))
      }
      shards.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$soakDir/embeddings.parquet")
      println(f"[fixture] built 100-shard sf10 embeddings in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    val evMarker = new java.io.File(s"$soakDir/events.parquet/_SUCCESS")
    if (!evMarker.exists()) {
      val t0 = System.nanoTime()
      // 100 user-namespaced shards: per-user event multiplicity (the unit
      // of every profile window) is exactly sf0.1's; the user population
      // grows x100 — the honest worst case for user-keyed aggregates
      val base = graft.analytics.Tables.events(spark, sf01)
      val shards = (0 until 100).map { k =>
        base.select(
          (col("event_id") + lit(k * 100000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * 1500L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }
      shards.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$soakDir/events.parquet")
      println(f"[fixture] built 100-shard sf10 events in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_SOAK_PASSES", "2").toInt
    // SPARK_GRAFT_SOAK_ONLY=q126,q101 re-soaks single families after a
    // respelling without paying the whole battery (which also skews walls:
    // by the time a full pass reaches the contraction, one JVM has run six
    // families of accumulated checkpoint blocks — see BENCH_NOTES round 10)
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(tag: String): Boolean = only.forall(_.contains(tag))
    (1 to passes).foreach { pass =>
      println(s"--- pass $pass")
      if (want("exact")) {
      val (ne01, te01) = timed("exact_groups sf0.1")(Dedup.exactGroups(spark, sf01).count())
      val (ne10, te10) = timed("exact_groups sf10")(Dedup.exactGroups(spark, soakDir).count())
      println(f"[exact_groups] rows $ne01 -> $ne10 (x${ne10.toDouble / ne01}%.0f), wall x${te10 / te01}%.1f on 100x data")
      }

      if (want("q157")) {
      // domain reweighting: two corpus-linear count streams into capped
      // broadcast models + one scoring stream; the mixture loop is
      // |domains| rows on the driver — wall must track corpus size
      val (nr01, tr01) = timed("q157 sf0.1")(
        graft.analytics.TextStats.domainReweight(spark, sf01).count())
      val (nr10, tr10) = timed("q157 sf10")(
        graft.analytics.TextStats.domainReweight(spark, soakDir).count())
      println(f"[q157] rows $nr01 -> $nr10, wall x${tr10 / tr01}%.1f on 100x data")
      }

      if (want("q158")) {
      // containment pairs: prefix-filtered set-similarity join — df table,
      // per-doc rank window and candidate probe are all linear in corpus /
      // containment-dup mass; wall must track corpus size
      val (np01, tp01) = timed("q158 sf0.1")(
        Dedup.containmentPairs(spark, sf01).count())
      val (np10, tp10) = timed("q158 sf10")(
        Dedup.containmentPairs(spark, soakDir).count())
      println(f"[q158] rows $np01 -> $np10, wall x${tp10 / tp01}%.1f on 100x data")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }

      if (want("q159")) {
      // soft-dedup weights: the q74 fixpoint (soaked separately) + one
      // cluster-size count + one per-source aggregate; marginal work on
      // top of the shared fixpoint must be corpus-linear
      val (nw01, tw01) = timed("q159 sf0.1")(
        Dedup.softDedupWeights(spark, sf01).count())
      val (nw10, tw10) = timed("q159 sf10")(
        Dedup.softDedupWeights(spark, soakDir).count())
      println(f"[q159] rows $nw01 -> $nw10, wall x${tw10 / tw01}%.1f on 100x data")
      }

      if (want("q160")) {
      // longest shared span: positional gram table + df-capped hash join
      // + diagonal windows — all linear in corpus / verbatim-dup mass
      val (ns01, ts01) = timed("q160 sf0.1")(
        graft.analytics.TextStats.longestSharedSpans(spark, sf01).count())
      val (ns10, ts10) = timed("q160 sf10")(
        graft.analytics.TextStats.longestSharedSpans(spark, soakDir).count())
      println(f"[q160] rows $ns01 -> $ns10, wall x${ts10 / ts01}%.1f on 100x data")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }

      if (want("q161")) {
      // k-anonymity audit: every window/aggregate is user-keyed and the
      // fixture holds per-user multiplicity constant while users grow
      // x100 — wall must track the event mass, output stays band-bounded
      val (nk01, tk01) = timed("q161 sf0.1")(
        graft.analytics.Relational.kAnonymityAudit(spark, sf01).count())
      val (nk10, tk10) = timed("q161 sf10")(
        graft.analytics.Relational.kAnonymityAudit(spark, soakDir).count())
      println(f"[q161] rows $nk01 -> $nk10, wall x${tk10 / tk01}%.1f on 100x data")
      }

      if (want("q162")) {
      // Neyman allocation: per-stratum moments are map-side combined and
      // the budget (draw size) is FIXED — the corpus-linear stats pass is
      // the only growth term
      val (nn01, tn01) = timed("q162 sf0.1")(
        graft.analytics.Sampling.neymanSample(spark, sf01).count())
      val (nn10, tn10) = timed("q162 sf10")(
        graft.analytics.Sampling.neymanSample(spark, soakDir).count())
      println(f"[q162] rows $nn01 -> $nn10, wall x${tn10 / tn01}%.1f on 100x data (budget fixed)")
      }

      if (want("q163")) {
      // effective-data audit: pays the session-shared q74 cluster
      // fixpoint (cleared first so the multiplier is honest), then one
      // rank window + decimal sums over narrow columns
      graft.analytics.Dedup.clearSharedClusterEdges()
      val (nd01, td01) = timed("q163 sf0.1")(
        Dedup.effectiveData(spark, sf01).count())
      graft.analytics.Dedup.clearSharedClusterEdges()
      val (nd10, td10) = timed("q163 sf10")(
        Dedup.effectiveData(spark, soakDir).count())
      println(f"[q163] rows $nd01 -> $nd10, wall x${td10 / td01}%.1f on 100x data (incl. cluster fixpoint)")
      }

      if (want("q164")) {
      // semantic contamination: |bench| held fixed via stride x100, so
      // the observable is per-bench-probe cost as the corpus grows —
      // bench broadcasts, top-1 scoring dies map-side in the corpus scan
      val (nc01, tc01) = timed("q164 sf0.1")(
        graft.analytics.Similarity.semanticContamination(spark, sf01).count())
      val (nc10, tc10) = timed("q164 sf10")(
        graft.analytics.Similarity.semanticContamination(spark, soakDir,
          stride = 2000L).count())
      println(f"[q164] rows $nc01 -> $nc10, wall x${tc10 / tc01}%.1f on 100x data (|bench| fixed)")
      }

      if (want("q167")) {
      // contamination-aware split audit: the eval set is hard-capped
      // (maxBench) so the corpus gram stream + the md5 split lottery are
      // the linear terms; output is the fixed 3-split table
      val (ns01, ts01) = timed("q167 sf0.1")(
        graft.analytics.TextStats.contaminatedSplitAudit(spark, sf01).count())
      val (ns10, ts10) = timed("q167 sf10")(
        graft.analytics.TextStats.contaminatedSplitAudit(spark, soakDir).count())
      println(f"[q167] rows $ns01 -> $ns10, wall x${ts10 / ts01}%.1f on 100x data (bench capped)")
      }

      if (want("q169")) {
      // chaining audit: rides the shared cluster fixpoint (cleared first
      // so the multiplier is honest); the in-cluster pair join is bounded
      // by sizeCap^2 per cluster — wall must track cluster count
      graft.analytics.Dedup.clearSharedClusterEdges()
      val (na01, ta01) = timed("q169 sf0.1")(
        Dedup.clusterChainAudit(spark, sf01).count())
      graft.analytics.Dedup.clearSharedClusterEdges()
      val (na10, ta10) = timed("q169 sf10")(
        Dedup.clusterChainAudit(spark, soakDir).count())
      println(f"[q169] bands $na01 -> $na10, wall x${ta10 / ta01}%.1f on 100x data (incl. cluster fixpoint)")
      }

      if (want("q172")) {
      // audio fp clusters: the fingerprint fold rides the scan; the
      // contraction input is the banded pair graph over distinct
      // fingerprint values — rounds-bounded like q74/q130
      val (nfc01, tfc01) = timed("q172 sf0.1")(
        graft.analytics.Multimodal.audioFpClusters(spark, sf01).count())
      val (nfc10, tfc10) = timed("q172 sf10")(
        graft.analytics.Multimodal.audioFpClusters(spark, soakDir).count())
      println(f"[q172] rows $nfc01 -> $nfc10, wall x${tfc10 / tfc01}%.1f on 100x data")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }

      if (want("q66")) {
      // contamination (round-15 bucket hash join): |bench| is capped at
      // maxBench on both sides, so the observable is the corpus-linear
      // scan+probe — wall must track corpus size, never corpus x bench
      val (nc01, tc01) = timed("q66 sf0.1")(
        graft.analytics.Sampling.contamination(spark, sf01).count())
      val (nc10, tc10) = timed("q66 sf10")(
        graft.analytics.Sampling.contamination(spark, soakDir).count())
      println(f"[q66] rows $nc01 -> $nc10, wall x${tc10 / tc01}%.1f on 100x data")
      }

      if (want("q74")) {
      // SPARK_GRAFT_LOCAL_FINISH overrides the endgame threshold (0 = pure
      // loop) so a soak delta can be attributed to the endgame vs the host
      val lfe = sys.env.get("SPARK_GRAFT_LOCAL_FINISH").map(_.toLong)
        .getOrElse(Dedup.LocalFinishMaxEdgesDefault)
      val ((n01, r01), t01) = timed("q74 sf0.1") {
        val (e, r) = Dedup.duplicateClusterEdges(
          Dedup.simhashDupGraph(spark, sf01), localFinishMaxEdges = lfe)
        (e.count(), r)
      }
      val ((n10, r10), t10) = timed("q74 sf10") {
        val (e, r) = Dedup.duplicateClusterEdges(
          Dedup.simhashDupGraph(spark, soakDir), localFinishMaxEdges = lfe)
        (e.count(), r)
      }
      println(f"[q74] edges $n01 -> $n10 (x${n10.toDouble / n01}%.0f), rounds $r01 -> $r10, wall x${t10 / t01}%.1f on 100x data")
      }

      // pair-surface aggregates (round-9 collapsed spelling): banding runs
      // over unique fingerprints, so 100x duplicate mass must cost ~linear
      if (want("q114")) {
      val (h01, th01) = timed("q114 sf0.1")(Dedup.hammingHistogram(spark, sf01).count())
      val (h10, th10) = timed("q114 sf10")(Dedup.hammingHistogram(spark, soakDir).count())
      println(f"[q114] rows $h01 -> $h10, wall x${th10 / th01}%.1f on 100x data")
      }
      def docsOf(d: String) = spark.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      if (want("q101")) {
      val (l01, tl01) = timed("q101 sf0.1")(
        Dedup.crossSourceLeakageOf(docsOf(sf01), 6).count())
      val (l10, tl10) = timed("q101 sf10")(
        Dedup.crossSourceLeakageOf(docsOf(soakDir), 6).count())
      println(f"[q101] cells $l01 -> $l10, wall x${tl10 / tl01}%.1f on 100x data")
      }

      // ADC serving: |Q| held fixed via the stride (per-query cost is the
      // observable); codebook sample-trained at 100x (FAISS discipline,
      // 1/40 keeps the training set within ~2.5x of sf0.1's)
      import graft.analytics.{Similarity, Tables}
      if (want("q106")) {
      val (a01, ta01) = timed("q106 sf0.1")(
        Similarity.pqAdcTopKOf(Tables.embeddings(spark, sf01),
          4, 4, 2, 5, 100L).count())
      val (a10, ta10) = timed("q106 sf10")(
        Similarity.pqAdcTopKOf(Tables.embeddings(spark, soakDir),
          4, 4, 2, 5, 10000L, trainSampleMod = 40).count())
      println(f"[q106] rows $a01 -> $a10, wall x${ta10 / ta01}%.1f on 100x data (|Q| fixed)")
      }

      // routed hard-negative mining (round-10): |Q| fixed via stride, so
      // the multiplier isolates per-query serving cost as the index grows
      if (want("q121")) {
      val (hn01, thn01) = timed("q121 sf0.1")(
        Similarity.ivfHardNegatives(spark, sf01, 5, 4, 100L).count())
      val (hn10, thn10) = timed("q121 sf10")(
        Similarity.ivfHardNegatives(spark, soakDir, 5, 4, 10000L).count())
      println(f"[q121] rows $hn01 -> $hn10, wall x${thn10 / thn01}%.1f on 100x data (|Q| fixed)")
      }

      // round-10 text additions. DSIR: 256-row broadcast model + per-doc
      // decimal sums + TakeOrdered — per-doc cost must stay flat. The
      // fertility/entropy pair scan once into vocab-/doc-keyed aggregates;
      // the token-renamed fixture grows the distinct-word table ~x100
      // (honest worst case for q124's encode-each-distinct-word pass).
      import graft.analytics.TextStats
      if (want("q123")) {
      val (ds01, tds01) = timed("q123 sf0.1")(TextStats.dsirSelect(spark, sf01).count())
      val (ds10, tds10) = timed("q123 sf10")(TextStats.dsirSelect(spark, soakDir).count())
      println(f"[q123] rows $ds01 -> $ds10, wall x${tds10 / tds01}%.1f on 100x data (keepN fixed)")
      }
      if (want("q124")) {
      val (f01, tf01) = timed("q124 sf0.1")(TextStats.bpeFertility(spark, sf01).count())
      val (f10, tf10) = timed("q124 sf10")(TextStats.bpeFertility(spark, soakDir).count())
      println(f"[q124] rows $f01 -> $f10, wall x${tf10 / tf01}%.1f on 100x data")
      }
      if (want("q125")) {
      val (en01, ten01) = timed("q125 sf0.1")(TextStats.entropyProfile(spark, sf01).count())
      val (en10, ten10) = timed("q125 sf10")(TextStats.entropyProfile(spark, soakDir).count())
      println(f"[q125] rows $en01 -> $en10, wall x${ten10 / ten01}%.1f on 100x data")
      }
      if (want("q126")) {
      val (cm01, tcm01) = timed("q126 sf0.1")(TextStats.cmsHeavyHitters(spark, sf01).count())
      val (cm10, tcm10) = timed("q126 sf10")(TextStats.cmsHeavyHitters(spark, soakDir).count())
      println(f"[q126] rows $cm01 -> $cm10, wall x${tcm10 / tcm01}%.1f on 100x data (fixed sketch)")
      }
      if (want("q127")) {
      val (ag01, tag01) = timed("q127 sf0.1")(Dedup.dedupMethodAgreement(spark, sf01).count())
      val (ag10, tag10) = timed("q127 sf10")(Dedup.dedupMethodAgreement(spark, soakDir).count())
      println(f"[q127] rows $ag01 -> $ag10, wall x${tag10 / tag01}%.1f on 100x data")
      }

      // round-11 second wave. Bitext margin: |Q| fixed via stride so the
      // multiplier isolates per-query scoring as the corpus grows (the
      // at-scale caller routes through IVF cells instead of the full scan).
      if (want("q137")) {
      val (b01, tb01) = timed("q137 sf0.1")(
        Similarity.bitextMarginMining(spark, sf01).count())
      val (b10, tb10) = timed("q137 sf10")(
        Similarity.bitextMarginMining(spark, soakDir, stride = 2000L).count())
      println(f"[q137] pairs $b01 -> $b10, wall x${tb10 / tb01}%.1f on 100x data (|Q| fixed)")
      }
      // Bloom decontamination: eval set hard-capped, so the 100x corpus
      // gram stream must cost ~linear with the probe inside the scan
      if (want("q138")) {
      val (c01, tc01) = timed("q138 sf0.1")(
        TextStats.bloomDecontamination(spark, sf01).count())
      val (c10, tc10) = timed("q138 sf10")(
        TextStats.bloomDecontamination(spark, soakDir).count())
      println(f"[q138] sources $c01 -> $c10, wall x${tc10 / tc01}%.1f on 100x data")
      }
      // surgical decontamination: positional token stream (no distinct) +
      // per-doc reassembly — the heaviest per-token shape of the family
      if (want("q141")) {
      val (s01, ts01) = timed("q141 sf0.1")(
        TextStats.surgicalDecontamination(spark, sf01).count())
      val (s10, ts10) = timed("q141 sf10")(
        TextStats.surgicalDecontamination(spark, soakDir).count())
      println(f"[q141] sources $s01 -> $s10, wall x${ts10 / ts01}%.1f on 100x data")
      }
      // blocked kNN graph: the cell count must scale with the corpus
      // (nplanes 3 → 10 keeps per-cell density flat), so the in-cell
      // quadratic stays bounded and the total stays ~linear
      if (want("q144")) {
      val (k01, tk01) = timed("q144 sf0.1")(
        Similarity.knnGraph(spark, sf01).count())
      val (k10, tk10) = timed("q144 sf10")(
        Similarity.knnGraph(spark, soakDir, nplanes = 10).count())
      println(f"[q144] edges $k01 -> $k10, wall x${tk10 / tk01}%.1f on 100x data (nplanes 3 -> 10)")
      }
      // URL funnel: the keeper window's group size is the per-URL dup
      // multiplicity — constant per source shard — so 100x docs must cost
      // ~linear wall; the cap plan's over-cap tail is the whole corpus
      // here (worst case by construction, like the q103 soak line)
      if (want("q148")) {
      val (u01, tu01) = timed("q148 sf0.1")(
        graft.analytics.Sampling.urlDedupStats(spark, sf01).count())
      val (u10, tu10) = timed("q148 sf10")(
        graft.analytics.Sampling.urlDedupStats(spark, soakDir).count())
      println(f"[q148] rows $u01 -> $u10, wall x${tu10 / tu01}%.1f on 100x data")
      }
      if (want("q149")) {
      val (c01, tc01) = timed("q149 sf0.1")(
        graft.analytics.Sampling.domainCapStats(spark, sf01).count())
      val (c10, tc10) = timed("q149 sf10")(
        graft.analytics.Sampling.domainCapStats(spark, soakDir).count())
      println(f"[q149] rows $c01 -> $c10, wall x${tc10 / tc01}%.1f on 100x data")
      }
      // mutual-kNN clusters: the contraction must stay rounds-bounded as
      // the mutual-edge mass grows x100 (same nplanes scale rule as q144)
      if (want("q145")) {
      val (c01, tc01) = timed("q145 sf0.1")(
        Similarity.knnClusterPurity(spark, sf01).count())
      val (c10, tc10) = timed("q145 sf10")(
        Similarity.knnClusterPurity(spark, soakDir, nplanes = 10).count())
      println(f"[q145] clusters $c01 -> $c10, wall x${tc10 / tc01}%.1f on 100x data (nplanes 3 -> 10)")
      }
      // round-17: the composed IVF-ADC serving path. |Q| fixed via stride
      // (per-query serving cost is the observable), codebook
      // sample-trained at 100x (q106's FAISS discipline), nplanes 3 -> 10
      // keeps per-cell density flat so the routed candidate mass — and the
      // wall — must track nprobe/ncells of the corpus, never the corpus
      if (want("q165")) {
      val (a01, ta01) = timed("q165 sf0.1")(
        Similarity.ivfAdcTopKOf(Tables.embeddings(spark, sf01),
          4, 4, 2, 5, 100L, 4, 3).count())
      val (a10, ta10) = timed("q165 sf10")(
        Similarity.ivfAdcTopKOf(Tables.embeddings(spark, soakDir),
          4, 4, 2, 5, 10000L, 4, 10, trainSampleMod = 40).count())
      println(f"[q165] rows $a01 -> $a10, wall x${ta10 / ta01}%.1f on 100x data (|Q| fixed, nplanes 3 -> 10)")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }
      // composed recall audit: the exact tier is |Q| x corpus brute force
      // (the declared honest ground-truth cost, q107's class) with |Q|
      // fixed — wall must track the corpus linearly
      if (want("q166")) {
      val (r01, tr01) = timed("q166 sf0.1")(
        Similarity.ivfAdcRecallStats(spark, sf01).count())
      val (r10, tr10) = timed("q166 sf10")(
        Similarity.ivfAdcRecallStats(spark, soakDir, stride = 10000L,
          nplanes = 10, trainSampleMod = 40).count())
      println(f"[q166] rows $r01 -> $r10, wall x${tr10 / tr01}%.1f on 100x data (|Q| fixed, nplanes 3 -> 10)")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }
      // winnowing recall audit: truth (exhaustive shared 6-grams) and
      // winnow pairs are both df-capped linear hash equi-joins — the
      // token-renamed fixture keeps within-shard gram structure, so pair
      // mass and wall must scale ~linearly
      if (want("q168")) {
      val (w01, tw01) = timed("q168 sf0.1")(
        TextStats.winnowRecallStats(spark, sf01).count())
      val (w10, tw10) = timed("q168 sf10")(
        TextStats.winnowRecallStats(spark, soakDir).count())
      println(f"[q168] bands $w01 -> $w10, wall x${tw10 / tw01}%.1f on 100x data")
      }
      // int8 retrieval recall: rebuild is corpus-linear, both rankings
      // the brute-force pattern with |Q| fixed via stride — the audit's
      // exact tier is the declared cost, wall must track the corpus
      if (want("q170")) {
      val (i01, ti01) = timed("q170 sf0.1")(
        Similarity.int8RecallStats(spark, sf01).count())
      val (i10, ti10) = timed("q170 sf10")(
        Similarity.int8RecallStats(spark, soakDir, stride = 10000L).count())
      println(f"[q170] rows $i01 -> $i10, wall x${ti10 / ti01}%.1f on 100x data (|Q| fixed)")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }
      // SemDeDup blocking recall: probe set fixed via stride, truth
      // scoring map-side against the corpus scan, cells equi-joined —
      // per-probe cost flat as the corpus grows
      if (want("q171")) {
      val (s01, ts01) = timed("q171 sf0.1")(
        Similarity.semanticBlockingRecall(spark, sf01).count())
      val (s10, ts10) = timed("q171 sf10")(
        Similarity.semanticBlockingRecall(spark, soakDir,
          stride = 5000L).count())
      println(f"[q171] bands $s01 -> $s10, wall x${ts10 / ts01}%.1f on 100x data (|Q| fixed)")
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }
    }
    spark.stop()
  }
}
