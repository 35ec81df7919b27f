package graft.tools

import org.apache.spark.sql.DataFrame

/**
 * Canonical, order-independent hash of a query result — the in-JVM
 * analogue of the driver's oracle compare (sorted column names, sorted
 * canonical row strings, 6-dp numeric rounding with integral collapse).
 * Used by the sf1 hash-pin suite (Sf1HashPinSpec): each pinned constant
 * was produced by [[Sf1HashPin]] from a run whose Spark↔DuckDB parity at
 * sf1 was separately confirmed through tools/compare_oracle.py, so the
 * pin guards BOTH engines' agreed answer at 10× scale.
 */
object ResultHash {

  private def canonCell(v: Any): String = v match {
    case null => "NULL"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => canonNum(BigDecimal(d))
    case f: Float if f.isNaN || f.isInfinite => f.toString
    case f: Float => canonNum(BigDecimal(f.toDouble))
    case d: java.math.BigDecimal => canonNum(BigDecimal(d))
    case d: BigDecimal => canonNum(d)
    case b: Boolean => if (b) "true" else "false"
    case s: Iterable[_] => s.map(canonCell).mkString("[", ",", "]")
    case a: Array[_] => a.map(canonCell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canonCell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonNum(d: BigDecimal): String = {
    val r = d.setScale(6, BigDecimal.RoundingMode.HALF_UP)
    if (r.isWhole) r.toBigInt.toString
    else r.underlying.stripTrailingZeros.toPlainString
  }

  /** Sorted-columns / sorted-rows sha256 of `df`'s full result. */
  def hashOf(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => (0 until r.length).map(i => canonCell(r.get(i))).mkString(""))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString("").getBytes("UTF-8"))
    rows.foreach(s => md.update(("" + s).getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The sf1 pin set: the heaviest families by converged bench minima
    * whose inputs exist in the 10× fixture (documents + embeddings).
    * Nine are DuckDB-validated there; q74 and q127 carry
    * Spark-invariant pins because their oracles' candidate CTEs are
    * O(n²) non-equi pair scans that do not terminate at 50k docs (their
    * sf0.01 parity + the sf10 soak invariants cover the initial value;
    * the pin freezes the 10× answer against regression either way).
    * Names must match SparkEntry.queries keys. */
  val Sf1PinnedQueries: Seq[String] = Seq(
    "q74_dup_clusters",
    "q84_shared_gram_pairs",
    "q99_perplexity_buckets",
    "q101_cross_source_leakage",
    "q123_dsir_resample",
    "q127_dedup_agreement",
    "q129_paragraph_dedup",
    "q138_bloom_decontamination",
    "q148_url_dedup",
    "q151_incremental_dedup",
    "q156_moore_lewis",
    "q158_containment_pairs",
    "q159_soft_dedup",
    "q160_longest_shared_span",
    // round-16 tier: every remaining >1 s driver query gets a 10× value
    // pin. q126/q162 DuckDB-validated on target/soak_sf1 (2 ok, 0 bad —
    // round-16 log); q106/q107/q144/q145 are Spark-invariant pins: their
    // oracles' exact ground-truth CTEs are O(n²) cross joins over 20k
    // vectors that do not terminate at sf1 (the q74/q127 class)
    "q106_pq_adc_topk",
    "q107_pq_recall",
    "q126_cms_heavy_hitters",
    "q144_knn_graph",
    "q145_knn_cluster_purity",
    "q157_domain_reweight",
    "q162_neyman_sample",
    // round-17 tier: the q163–q169 audit members. q164–q168
    // DuckDB-validated on target/soak_sf1 (round-17 log — including
    // q106/q107/q144/q145 above, whose "O(n²) non-terminating" oracle
    // claim from round 16 did NOT reproduce: all four terminate in
    // 2.5–70 s at sf1, so their pins are now cross-engine too);
    // q163/q169 ride the q74 recursive-component CTE — as of round 18
    // the WHOLE family (q74/q127/q145/q159/q163/q169) is 50k-validated
    // through tools/iterative_cc_oracle.py (see Sf1HashPinSpec)
    "q163_effective_data",
    "q164_semantic_contamination",
    "q165_ivf_adc_topk",
    "q166_ivf_adc_recall",
    "q167_contaminated_split",
    "q168_winnow_recall",
    "q169_cluster_chain_audit",
    // round-17 second wave: the two new honesty audits, both
    // DuckDB-validated on target/soak_sf1 (per-query fresh-process
    // compare — round-17 log)
    "q170_int8_recall",
    "q171_semdedup_blocking_recall",
    // round-18: the audio cluster cell (>1 s driver class — it pays its
    // own contraction); 50k-validated via tools/iterative_cc_oracle.py
    "q172_audio_fp_clusters")
}

/** One-time pin generator: prints `name -> hash` for the sf1 pin set
  * over the 10× fixture. Run AFTER confirming Spark↔DuckDB parity on the
  * same fixture (graft.Verify + tools/compare_oracle.py), then paste the
  * constants into Sf1HashPinSpec. */
object Sf1HashPin {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "target/soak_sf1"
    // optional: restrict to named queries (re-pin a new member without
    // re-running the whole ~20 min battery)
    val only = args.drop(1).toSet
    val spark = graft.LocalSession(graft.LocalSession.cpus, "sf1-hash-pin")
    ResultHash.Sf1PinnedQueries
      .filter(n => only.isEmpty || only(n))
      .foreach { name =>
      val t0 = System.nanoTime()
      val h = ResultHash.hashOf(graft.SparkEntry.queries(name)(spark, dir))
      org.apache.spark.sql.GraftBridge.releaseTransientPins()
      println(f""""$name" -> "$h", // ${(System.nanoTime() - t0) / 1e9}%.1f s""")
    }
    spark.stop()
  }
}
