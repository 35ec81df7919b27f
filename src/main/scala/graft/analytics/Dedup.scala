package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication family for training-data pipelines, over the
 * `documents` fixture (doc_id, text, lang, source, n_chars).
 *
 * All variants are single-pipeline DataFrame plans (no collect, no UDFs —
 * higher-order array functions + hash builtins only, so everything stays in
 * codegen where Spark supports it).
 *
 * 100 TB posture:
 *  - exact dedup: one shuffle on a 128-bit content hash, not on the full
 *    text (group keys stay small even for multi-MB documents);
 *  - MinHash-LSH: rows explode ×numBands (constant factor), shuffle keys are
 *    (band, bandHash) — uniformly distributed, skew-free; candidate pairs
 *    are verified with exact Jaccard so false positives never escape;
 *  - SimHash: fingerprint is a single long; near-dup banding on 16-bit
 *    chunks gives Hamming-distance blocking without pairwise scans.
 */
object Dedup {

  import Tables._

  private def words(c: Column): Column = split(trim(c), "\\s+")

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups keyed by md5 of the text (shuffle on the hash,
    * never on the document body). */
  def exactGroups(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, survivor rows (lowest doc_id per identical text). */
  def exactSurvivors(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  // ------------------------------------------------------------- minhash

  /**
   * Word n-gram shingles from an already-materialized words column.
   *
   * PERFORMANCE: `wordsCol` must be a projected column (attribute), not an
   * inline expression — higher-order lambdas evaluate their body per element,
   * so an inlined `split()` here would re-tokenize the document O(n-grams)
   * times. Materializing stages with `withColumn` keeps each pass O(doc).
   * (Measured: inlining cost 122s for 5k docs at sf0.1; materialized < 2s.)
   */
  def ngramsFromWords(wordsCol: Column, n: Int = 3): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(wordsCol) - n, lit(0))),
        i => concat_ws(" ", (0 until n).map(k => get(wordsCol, i + k)): _*)))

  /** Word 3-gram shingles of a text column (array<string>) — convenience
    * form for ad-hoc use; pipelines should materialize via ngramsFromWords. */
  def shingles(c: Column, n: Int = 3): Column = ngramsFromWords(words(c), n)

  /** Mersenne prime 2^31-1: the modulus of the MinHash permutation family. */
  val MinhashP: Long = 2147483647L

  /** Permutation constants for the universal-hash family
    * `h -> (a*h + b) mod P`, derived from md5 so both engines (and the
    * oracle SQL, which inlines them as literals) agree. `a` is nonzero. */
  def minhashA(p: Int): Long = md5Prefix32(s"minhash_a_$p") % (MinhashP - 1) + 1
  def minhashB(p: Int): Long = md5Prefix32(s"minhash_b_$p") % MinhashP

  /** First 8 hex chars of md5(s) as a long — driver-side twin of the
    * column-level md5-prefix derivations. */
  def md5Prefix32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Base shingle hash in [0, P): 32-bit md5 prefix mod P — the
    * engine-reproducible seed every permutation rides on (one md5 per
    * shingle; permutations are integer arithmetic). */
  def shingleHash(g: Column): Column =
    conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % MinhashP

  /**
   * MinHash signature: for permutation p, min over shingles of
   * `(a_p * h + b_p) mod P` — the classic universal-hash permutation
   * family over a single md5-derived base hash. `hashCol` must be a
   * materialized array<long> of [[shingleHash]] values (HOF
   * materialization rule). Integer-exact in any engine: no murmur3 /
   * xxhash dependency, so the whole signature is oracle-checkable.
   */
  def minhashSignature(hashCol: Column, numPerm: Int): Column =
    graft.functions.MinhashSignature.signature(hashCol,
      Vector.tabulate(numPerm)(minhashA), Vector.tabulate(numPerm)(minhashB),
      MinhashP)

  /** The pre-round-6 higher-order-function spelling of [[minhashSignature]]
    * — kept as the bitwise parity reference (spec): one interpreted
    * `transform` traversal per permutation vs the native fused pass, with
    * identical Java-long arithmetic and order-independent minima. */
  def minhashSignatureHof(hashCol: Column, numPerm: Int): Column =
    array((0 until numPerm).map(p =>
      array_min(transform(hashCol,
        h => (h * minhashA(p) + minhashB(p)) % MinhashP))): _*)

  /** 4-min band key: base-31 polynomial combine of one band's signature
    * slice (values < 2^31 ⇒ the combine stays < 2^46, exact in a long). */
  def bandKey(sigCol: Column, band: Int, rowsPerBand: Int): Column =
    (0 until rowsPerBand)
      .map(r => get(sigCol, lit(band * rowsPerBand + r)))
      .reduce((acc, s) => acc * 31 + s)

  /**
   * MinHash + LSH near-duplicate pairs: signature → bands → bucket
   * grouping → candidate pairs → exact word-set Jaccard verification.
   * Emits (doc_a, doc_b, jaccard) for verified pairs above `threshold`.
   */
  def minhashPairs(s: SparkSession, d: String,
      numPerm: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashPairsFor(documentsSpread(s, d), numPerm, bands, threshold)

  /** [[minhashPairs]] over an arbitrary (doc_id, text) frame — lets specs
    * plant controlled near-duplicates and assert recall. */
  def minhashPairsFor(documentsDF: DataFrame,
      numPerm: Int, bands: Int, threshold: Double): DataFrame = {
    val rowsPerBand = numPerm / bands
    val docs = documentsDF
      .select(col("doc_id"), col("text"))
      .withColumn("ws", words(col("text")))
      .withColumn("ngrams", ngramsFromWords(col("ws")))
      .withColumn("nh", transform(col("ngrams"), g => shingleHash(g)))
      .withColumn("sig", minhashSignature(col("nh"), numPerm))
    val banded = docs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        bandKey(col("sig"), b, rowsPerBand)): _*))
        .as(Seq("band_id", "band_hash")))
    // candidate pairs: co-bucketed docs, deduped across bands
    val a = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyJaccard(candidates, documentsDF, threshold)
  }

  /**
   * q111: MinHash estimator calibration — the dedup family's member of
   * the approximation-honesty suite (q107 PQ recall, q110 IVF recall):
   * for every LSH candidate pair, BOTH the signature estimate (matching
   * components / numPerm — the unbiased MinHash Jaccard estimator) and
   * the exact word-set Jaccard, plus the absolute error. No threshold
   * filter: the calibration wants the whole banded candidate set,
   * including the false positives q32 would discard, because the
   * estimator's error profile on borderline pairs is exactly what sets
   * the production threshold.
   *
   * Scale shape: identical to q32's (banded equi-join candidates, linear
   * in duplicate mass); the extra work is one zip-compare of two
   * numPerm-int arrays per candidate pair, map-side.
   */
  def minhashCalibration(s: SparkSession, d: String,
      numPerm: Int = 16, bands: Int = 4): DataFrame =
    minhashCalibrationFor(documentsSpread(s, d), numPerm, bands)

  /** [[minhashCalibration]] over an arbitrary (doc_id, text) frame. */
  def minhashCalibrationFor(documentsDF: DataFrame,
      numPerm: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    val docs = documentsDF
      .select(col("doc_id"), col("text"))
      .withColumn("ws", words(col("text")))
      .withColumn("ngrams", ngramsFromWords(col("ws")))
      .withColumn("nh", transform(col("ngrams"), g => shingleHash(g)))
      .withColumn("sig", minhashSignature(col("nh"), numPerm))
    val banded = docs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        bandKey(col("sig"), b, rowsPerBand)): _*))
        .as(Seq("band_id", "band_hash")))
    val a = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sa = docs.select(col("doc_id").as("doc_a"),
      col("sig").as("sig_a"), col("ws").as("words_a"))
    val sb = docs.select(col("doc_id").as("doc_b"),
      col("sig").as("sig_b"), col("ws").as("words_b"))
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), m => m)))
      .withColumn("est_jaccard",
        round(col("n_match").cast("double") / numPerm, 6))
      .withColumn("exact_jaccard", round(
        size(array_intersect(array_distinct(col("words_a")),
          array_distinct(col("words_b")))).cast("double") /
        size(array_union(col("words_a"), col("words_b"))), 6))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        col("est_jaccard"), col("exact_jaccard"),
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6).as("abs_err"))
  }

  /**
   * q127: dedup-method agreement matrix — the table an operator reads to
   * CHOOSE a near-dup family, and to see where the two disagree. Cells
   * over the doc-level pair universe: `both` (MinHash-LSH pair at
   * word-set Jaccard ≥ threshold AND SimHash banded pair at Hamming ≤
   * maxHamming), `minhash_only` (Jaccard-near pairs the SimHash bands
   * miss — overlapping vocabularies whose fingerprints drifted),
   * `simhash_only` (Hamming-near pairs below the Jaccard gate or outside
   * the 3-gram banding — e.g. word-permuted templates). Per cell: pair
   * count and the mean score each method assigns; `simhash_only`'s
   * avg_jaccard is declared NULL — word sets are never re-read for it.
   *
   * 100 TB shape — NO pair-stream join: the SimHash totals come from the
   * collapsed q114 histogram ([[hammingHistogramOf]]: distinct-VALUE
   * banding + multiplicity algebra), the MinHash side is q32's
   * THRESHOLDED true-pair set (linear in near-dup mass) with both
   * fingerprints attached by doc-id equi-joins and the SimHash
   * membership predicate evaluated IN-ROW (band equality + bit_count of
   * xor, two longs); `simhash_only` is recovered by subtraction. The
   * wide 1-row aggregate is lazily checkpointed so the three output rows
   * do not re-run either surface.
   */
  def dedupMethodAgreement(s: SparkSession, d: String, numPerm: Int = 16,
      bands: Int = 4, threshold: Double = 0.5,
      maxHamming: Int = 6): DataFrame = {
    import org.apache.spark.sql.GraftBridge.checkpointNoStats
    val mh = minhashPairs(s, d, numPerm, bands, threshold)
    // ONE fingerprint pass feeds the histogram AND both pair-side joins
    // (separate simhashFingerprints + hammingHistogram spellings would
    // tokenize+hash the corpus text three times); node-sized narrow table
    val meta = checkpointNoStats(
      simhashMetaOf(documentsSpread(s, d)
        .select(col("doc_id"), col("text"))),
      eager = false)
    val fps = meta.select(col("doc_id"), col("simhash"))
    val withSims = mh
      .join(fps.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), "doc_b")
    val sharedBand = (0 until SimhashBands).map(k =>
      shiftright(col("sim_a"), k * SimhashBandBits).bitwiseAND(SimhashBandMask) ===
        shiftright(col("sim_b"), k * SimhashBandBits).bitwiseAND(SimhashBandMask))
      .reduce(_ || _)
    val ham = bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
    val mhAgg = withSims
      .withColumn("in_sh", sharedBand && ham <= maxHamming)
      .withColumn("ham", ham)
      .agg(
        coalesce(sum(when(col("in_sh"), 1L).otherwise(0L)), lit(0L)).as("n_both"),
        sum(when(col("in_sh"), col("jaccard").cast("decimal(18,6)"))).as("jsum_both"),
        coalesce(sum(when(col("in_sh"), col("ham"))), lit(0L)).as("hsum_both"),
        coalesce(sum(when(!col("in_sh"), 1L).otherwise(0L)), lit(0L)).as("n_mo"),
        sum(when(!col("in_sh"), col("jaccard").cast("decimal(18,6)"))).as("jsum_mo"),
        coalesce(sum(when(!col("in_sh"), col("ham"))), lit(0L)).as("hsum_mo"))
    val shTot = hammingHistogramOf(meta, maxHamming)
      .agg(coalesce(sum(col("n_pairs")), lit(0L)).as("n_sh"),
        coalesce(sum(col("hamming") * col("n_pairs")), lit(0L)).as("hsum_sh"))
    val row = checkpointNoStats(mhAgg.crossJoin(shTot), eager = false)
    def cell(name: String, n: Column, jsum: Column, hsum: Column) =
      row.select(lit(name).as("agreement"),
        n.cast("long").as("n_pairs"),
        when(n > 0, round(jsum.cast("double") / n, 6)).as("avg_jaccard"),
        when(n > 0, round(hsum.cast("double") / n, 6)).as("avg_hamming"))
    cell("both", col("n_both"), col("jsum_both"), col("hsum_both"))
      .unionByName(cell("minhash_only", col("n_mo"), col("jsum_mo"), col("hsum_mo")))
      .unionByName(cell("simhash_only", col("n_sh") - col("n_both"),
        lit(null).cast("decimal(18,6)"), col("hsum_sh") - col("hsum_both")))
      .orderBy(col("agreement"))
  }

  /** Exact word-set Jaccard for candidate pairs; keeps pairs ≥ threshold. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val da = docs.select(col("doc_id").as("doc_a"), words(col("text")).as("words_a"))
    val db = docs.select(col("doc_id").as("doc_b"), words(col("text")).as("words_b"))
    pairs.join(da, "doc_a").join(db, "doc_b")
      .withColumn("jaccard",
        size(array_intersect(array_distinct(col("words_a")), array_distinct(col("words_b"))))
          .cast("double") /
        size(array_union(col("words_a"), col("words_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * n-gram Jaccard similarity with deterministic candidate bounding (left
   * side sampled by doc_id stride AND hard-capped by id range, same-lang
   * blocking) — the exact-similarity benchmark the LSH variants are judged
   * against, and oracle-checkable in SQL since both engines compute
   * identical integer set sizes. The `maxProbes` cap keeps the broadcast
   * probe side O(1) in corpus size: without it, N/stride grows linearly and
   * the broadcast dies at 100×. (The cap is an id-range predicate, not a
   * LIMIT, so the result set stays deterministic.)
   */
  def wordJaccardPairs(s: SparkSession, d: String,
      stride: Long = 50, threshold: Double = 0.1, maxProbes: Long = 1000): DataFrame = {
    val docs = documentsSpread(s, d) // corpus-wide word-set build is the cost
    val left = docs
      .filter(col("doc_id") % stride === 0 && col("doc_id") < stride * maxProbes)
      .select(col("doc_id").as("doc_a"), col("lang"), words(col("text")).as("words_a"))
    val right = docs
      .select(col("doc_id").as("doc_b"), col("lang"), words(col("text")).as("words_b"))
    broadcast(left).join(right, Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(array_distinct(col("words_a")), array_distinct(col("words_b"))))
          .cast("double") /
        size(array_union(col("words_a"), col("words_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Distinct character n-gram (shingle) set of a text column. Position
    * `sequence` is 1-based to mirror SQL `substr`; texts shorter than `n`
    * yield one truncated shingle (the whole text), same convention as the
    * word-n-gram path. */
  def charShingles(c: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => c.substr(i, lit(n))))

  /** Distinct char shingle set hashed to 60-bit longs (15-hex md5 prefix —
    * fits a signed long, engine-reproducible: DuckDB twin is
    * `('0x'||substring(md5(g),1,15))::BIGINT`). Set-arithmetic over
    * array<long> is several-fold cheaper than over array<string>: the
    * per-pair intersect/union hash-set build touches 8-byte primitives
    * instead of rehashing ~n_chars short strings. Collisions (~2^-60 per
    * pair of shingles) hit both engines identically, so Jaccard parity is
    * preserved by construction. */
  def charShingleHashes(c: Column, n: Int): Column =
    array_sort(array_distinct(transform(charShingles(c, n),
      g => conv(substring(md5(g.cast("binary")), 1, 15), 16, 10).cast("long"))))

  /**
   * Character n-gram Jaccard near-dup pairs — the dedup family's n-gram
   * member (word Jaccard = [[wordJaccardPairs]]; hashed-shingle LSH =
   * [[minhashPairs]]). Char shingles are robust to tokenization differences
   * (whitespace, punctuation) that word sets miss. Same deterministic
   * candidate bounding as q33: stride-sampled AND id-range-capped probe
   * side (O(1) broadcast regardless of corpus size), same-lang blocking.
   * Shingles are hashed to longs ([[charShingleHashes]]) before the join so
   * the hot per-pair set ops run over primitives; the oracle mirrors the
   * hash, so the result is still exact-arithmetic reproducible. The
   * scale-out path for unbounded all-pairs is LSH candidates (q32) feeding
   * this exact measure as the verifier.
   */
  def charNgramJaccardPairs(s: SparkSession, d: String, n: Int = 5,
      stride: Long = 50, threshold: Double = 0.2, maxProbes: Long = 1000): DataFrame = {
    val docs = documentsSpread(s, d) // corpus-wide shingle-hash build is the cost
    val left = docs
      .filter(col("doc_id") % stride === 0 && col("doc_id") < stride * maxProbes)
      .select(col("doc_id").as("doc_a"), col("lang"),
        charShingleHashes(col("text"), n).as("grams_a"))
    val right = docs
      .select(col("doc_id").as("doc_b"), col("lang"),
        charShingleHashes(col("text"), n).as("grams_b"))
    broadcast(left).join(right, Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      // merge-walk intersect over the pre-sorted hash sets; union size is
      // |A|+|B|-|A∩B| (both sides distinct), so no per-pair set builds
      .withColumn("inter",
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("grams_a"), col("grams_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
        (size(col("grams_a")) + size(col("grams_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------ containment near-dup

  /**
   * q158: containment near-dup pairs — the asymmetric member of the
   * near-dup family. Jaccard (q32/q33/q75) divides by |A∪B|, so a short
   * document wholly quoted inside a much longer one scores near zero and
   * every symmetric gate misses it; Broder's containment
   * C(A,B) = |A∩B| / min(|A|,|B|) over the word 3-gram SHINGLE sets (the
   * original resemblance/containment formulation) scores that subset
   * relationship 1.0. The output carries both measures plus
   * `jaccard_missed` — the pairs only this operator can see
   * (containment ≥ t but Jaccard < 0.5).
   *
   * Candidate generation is PREFIX FILTERING (the set-similarity-join
   * primitive of the PPJoin / Vernica-Carey-Li MapReduce join family):
   * order each document's distinct shingle hashes by ascending global
   * document frequency (rarest first); if ≥ t·|A| of A's shingles appear
   * in B, then A's first ⌊(1−t)·|A|⌋+1 rarest shingles cannot ALL be
   * missing from B — so joining every document's rare-shingle prefix
   * against the full inverted index catches EVERY qualifying pair with
   * no pairwise scan and no signature approximation to verify against.
   * Shingles (not unigrams) are load-bearing for the filter: a shared
   * 3-gram is shared TEXT, so shingle document frequency tracks
   * containment-dup mass while unigram df tracks vocabulary — measured
   * on the sf0.1 fixture, the unigram spelling's prefixes prune nothing
   * (99M join rows, 12.4M candidates ≈ all doc pairs) while the shingle
   * spelling's prune 300× (308K join rows, 181K candidates).
   *
   * 100 TB shape: shingle df is one hash-keyed groupBy; the rarest-first
   * rank is a per-document window (group size = that document's distinct
   * shingle count, never corpus-sized); the candidate join is keyed by
   * PREFIX shingle hashes — 8-byte longs, not text — and prefix
   * membership is DF-CAPPED: only shingles with df ≤ [[ContainmentDfCap]]
   * may sit in a prefix (both engines rank eligible shingles only), so
   * per-prefix-entry join fan-out is ≤ dfCap BY CONSTRUCTION and total
   * candidate volume is ≤ Σ_docs prefix_len·dfCap — linear in corpus
   * size with a hard constant, even on a hostile corpus where every
   * document shares one corpus-frequent boilerplate shingle (the shape
   * the uncapped spelling fans out quadratically on; planted and
   * measured in Round16OpsSpec).
   *
   * The cap is a DECLARED SEMANTIC, not an approximation, and the
   * pigeonhole argument is re-derived for it: a qualifying pair must
   * share at least one NON-BOILERPLATE shingle (df ≤ cap). For a
   * min-side document with ≥ prefix-length eligible shingles the
   * standard bound applies verbatim (B misses at most sz−⌈t·sz⌉ of A's
   * elements, hence of A's eligible elements, so the ⌊(1−t)·sz⌋+1
   * rarest ELIGIBLE ones cannot all be missing); a document with fewer
   * eligible shingles than that contributes its WHOLE eligible set as
   * prefix (the eligible-only rank emits at most n_eligible rows), and
   * the shared eligible shingle required by the semantics is then a
   * prefix member by definition. Pairs whose ENTIRE overlap is
   * over-cap shingles — both documents share only text that appears in
   * more than dfCap documents — are excluded as boilerplate noise (the
   * pair "A and B both carry the site footer" — the image analogue of
   * the q74 null-payload guard). Over-cap shingles still count toward
   * n_common in VERIFICATION: the cap decides candidacy, never the
   * measured overlap of an admitted pair. Documents with fewer words
   * than the shingle width ([[ContainmentShingleN]]) carry no full
   * shingle and are excluded up front — without the filter their
   * null-skipped partial shingles all collapse to the same degenerate
   * key and pair every empty document with every other at containment
   * 1.0 (quadratic semantic noise; same filter in the oracle SQL and
   * the streaming gate's index + probe).
   *
   * Verification re-joins candidates to the inverted index keyed by
   * (doc, hash). Every threshold is evaluated in INTEGER arithmetic
   * (100·n ≥ pct·min, 3·n < szA+szB) so the gate cannot flap on a float
   * boundary between engines. The md5-derived [[shingleHash]] keeps
   * every stage bit-reproducible in the DuckDB oracle.
   */
  def containmentPairs(s: SparkSession, d: String,
      pct: Int = ContainmentPct, dfCap: Int = ContainmentDfCap): DataFrame =
    containmentPairsFor(documentsSpread(s, d), pct, dfCap)

  /** Default q158 containment threshold (%) — interpolated into the q158
    * oracle SQL (SparkEntry) so the engines cannot silently desync. */
  val ContainmentPct: Int = 80

  /** Word-shingle width for containment: documents with fewer words carry
    * no full shingle and are excluded from the operator, the oracle SQL
    * and the streaming gate identically. */
  val ContainmentShingleN: Int = 3

  /** Prefix-eligibility df cap for [[containmentPairs]]: shingles
    * appearing in more than this many documents are boilerplate — they
    * never enter a candidate prefix (bounding join fan-out at dfCap per
    * prefix entry) though they still count toward verification overlap.
    * Far above any honest fixture's max df (25 at sf0.1/sf1) so the cap
    * is output-neutral there; on a 100 TB corpus it is the knob that
    * keeps candidate volume linear under boilerplate skew. Interpolated
    * into the q158 oracle SQL. */
  val ContainmentDfCap: Int = 1024

  /** Candidate stage of [[containmentPairsFor]], exposed so the hostile
    * spec can measure candidate volume directly: distinct (doc_a, doc_b)
    * pairs sharing ≥1 prefix-eligible shingle with one side's prefix. */
  def containmentCandidates(docsDF: DataFrame, pct: Int = ContainmentPct,
      dfCap: Int = ContainmentDfCap): DataFrame =
    containmentStages(docsDF, pct, dfCap)._3

  /** Shared shingle base + df-capped candidate stage:
    * (ghs — per-doc distinct shingle-hash ARRAYS, toks — the exploded
    * inverted-index rows, candidates). ghs is transient-pinned — it is
    * the one md5 pass over the corpus; toks and every downstream branch
    * derive from it (the q151 pinned-base lesson; Bench/Verify release
    * after each pass). */
  private def containmentStages(docsDF: DataFrame, pct: Int,
      dfCap: Int): (DataFrame, DataFrame, DataFrame) = {
    require(pct > 0 && pct < 100, s"containment pct must be in (0,100): $pct")
    require(dfCap > 0, s"containment dfCap must be positive: $dfCap")
    val ghs = org.apache.spark.sql.GraftBridge.checkpointNoStats(
      docsDF.select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= ContainmentShingleN)
        .select(col("doc_id"),
          array_distinct(
            transform(ngramsFromWords(col("ws"), ContainmentShingleN),
              g => shingleHash(g))).as("ghs")),
      // LAZY pin, re-validated at sf1 in r20 (VERDICT item 2): with the
      // array-verification shape, sf1 min-of-3 lazy = 3.54 s vs eager
      // 3.99 s (and at sf0.1 lazy won in r19 by 0.5-1.0 s) — the lazy
      // branches' duplicate md5-tail recompute still overlaps on
      // otherwise-idle cores and beats the eager blocking barrier at
      // BOTH measured scales. The r19-era alternatives re-measured at
      // sf1 against the old exploded-pin spelling: lazy 16.48 s, eager
      // 16.88 s, eager ARRAY pin 46.7 s — all dominated by this shape.
      eager = false)
    val toks = ghs.select(col("doc_id"), explode(col("ghs")).as("gh"))
    // sz = |distinct shingles| is a PROJECTION of the array now, not a
    // corpus-row aggregate (r20: one exchange + one agg removed)
    val szs = ghs.select(col("doc_id"), size(col("ghs")).cast("long").as("sz"))
    val dfreq = toks.groupBy("gh").agg(count(lit(1)).as("df"))
    // prefix membership is ELIGIBLE shingles only (df ≤ dfCap), ranked
    // AFTER the filter: a document with fewer than prefix-length
    // eligible shingles automatically contributes its whole eligible
    // set (rk over the filtered rows never exceeds n_eligible) — the
    // skipped-prefix case of the scaladoc's pigeonhole derivation
    val prefix = toks.join(dfreq, "gh").join(szs, "doc_id")
      .filter(col("df") <= dfCap)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gh"))))
      .filter(col("rk") <= expr(s"(sz * ${100 - pct}) DIV 100 + 1"))
      .select(col("doc_id").as("pd"), col("gh"))
    // per-entry fan-out ≤ dfCap by construction: every prefix key is an
    // eligible shingle, so its full inverted-index posting list (which
    // the probe must see for losslessness) has at most dfCap rows
    val cand = prefix
      .join(toks.select(col("doc_id").as("td"), col("gh")), "gh")
      .filter(col("pd") =!= col("td"))
      .select(least(col("pd"), col("td")).as("doc_a"),
        greatest(col("pd"), col("td")).as("doc_b"))
      .distinct()
    (ghs, toks, cand)
  }

  /** [[containmentPairs]] over an arbitrary (doc_id, text) frame — lets
    * specs plant controlled subset documents and assert recall.
    *
    * Round 20 verification rewrite (guide §2.3 "shuffle keys and
    * metadata instead of payloads"): the old verification re-joined the
    * EXPLODED inverted index twice (cand ⋈ toks(doc_a) fanned every
    * candidate pair out to all of A's shingle rows, then the (doc_b, gh)
    * equi-join + a pair-keyed count aggregate collapsed them back) and
    * attached sizes with two more joins against a per-doc count
    * aggregate. Since the pinned base now carries each document's
    * DISTINCT shingle-hash ARRAY, n_common = |A∩B| is
    * size(array_intersect(ghs_a, ghs_b)) computed IN-ROW after two
    * doc-keyed joins of one array row per side, and sz_a/sz_b are
    * size(ghs_*) projections — the per-pair shuffle volume drops from
    * O(|A| + |B|) index rows to two array payloads, and two aggregates
    * + two joins leave the plan. Value identity: both arrays are
    * distinct, so |array_intersect| ≡ the old shared-row count (cast
    * long, as count() returned); over-cap shingles still count toward
    * n_common exactly as before (the arrays carry ALL shingles; the cap
    * only gated candidacy). Oracle-pinned at sf0.01/sf0.001, the sf1
    * hash pin, and the binding-cap fixture. */
  def containmentPairsFor(docsDF: DataFrame, pct: Int,
      dfCap: Int = ContainmentDfCap): DataFrame = {
    val (ghs, _, cand) = containmentStages(docsDF, pct, dfCap)
    cand
      .join(ghs.select(col("doc_id").as("doc_a"), col("ghs").as("ghs_a")), "doc_a")
      .join(ghs.select(col("doc_id").as("doc_b"), col("ghs").as("ghs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ghs_a"), col("ghs_b"))).cast("long")
          .as("n_common"),
        size(col("ghs_a")).cast("long").as("sz_a"),
        size(col("ghs_b")).cast("long").as("sz_b"))
      .filter(col("n_common") * 100 >= least(col("sz_a"), col("sz_b")) * pct)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sz_a"), col("sz_b"),
        round(col("n_common").cast("double") /
          least(col("sz_a"), col("sz_b")), 6).as("containment"),
        round(col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")), 6).as("jaccard"),
        (col("n_common") * 3 < col("sz_a") + col("sz_b")).as("jaccard_missed"))
  }

  // ------------------------------------------- embedding-cosine near-dup

  /**
   * Embedding-space near-duplicates, LSH-banded: candidates are pairs that
   * share ≥1 band of a hyperplane sign signature (16 planes in 4 bands of
   * 4 bits — [[Similarity.lshBucketCol]]), verified with the native
   * codegen'd cosine. The join is a hash equi-join on (band_id, band_key) —
   * NO cartesian / broadcast nested loop anywhere in the plan (asserted in
   * SketchBoundsSpec): at 100 TB the banded keys shuffle-partition the work
   * and each probe meets only its band-mates, not the whole corpus.
   *
   * The banding is part of the operator's declared semantics (it's what
   * makes the op subquadratic), and since band keys are md5-derived they
   * are engine-reproducible — the DuckDB oracle recomputes bands + cosine
   * and matches by value. The fixture's embeddings are near-orthogonal
   * (max cosine ≈ 0.48) so the demo threshold is low; on a real corpus
   * near-dups sit ≥ 0.9, where the same banding prunes far harder.
   */
  def embeddingNearDups(s: SparkSession, d: String,
      stride: Long = 50, threshold: Double = 0.25,
      nplanes: Int = 16, bands: Int = 4): DataFrame = {
    val bandBits = nplanes / bands
    val mask = (1L << bandBits) - 1
    val dim = Similarity.embeddingDim(Tables.embeddings(s, d))
    val emb = Tables.embeddings(s, d)
      .withColumn("bucket", Similarity.lshBucketCol(col("embedding"), nplanes, dim))
    def banded(df: DataFrame, id: String): DataFrame = df.select(
      col("vec_id").as(id),
      posexplode(array((0 until bands).map(k =>
        shiftright(col("bucket"), k * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band_id", "band_key")))
    val candidates = banded(emb.filter(col("vec_id") % stride === 0), "vec_a")
      .join(banded(emb, "vec_b"), Seq("band_id", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    val va = Tables.embeddings(s, d).select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val vb = Tables.embeddings(s, d).select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    candidates.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  // ------------------------------------------------------- dup clusters

  /**
   * Connected components of a near-duplicate pair graph — the step that
   * turns PAIRS into dedup decisions (keep one survivor per component, not
   * per pair). Output: (doc_id, cluster_id) with cluster_id = the
   * component's minimum doc_id — deterministic, schedule-independent.
   *
   * Algorithm: alternating **large-star / small-star** contraction
   * (Kiveris et al., "Connected Components in MapReduce and Beyond").
   * Large-star connects every neighbor u > v to m(v) = min of v's closed
   * neighborhood; small-star connects v and its neighbors u < v to m(v).
   * The alternation converges to star forests rooted at component minima
   * in O(log) rounds on ANY topology. This replaced a single-min
   * contraction with one step of path halving whose round count was
   * LINEAR on chain graphs — the clique-heavy production fixtures
   * converge in 2-3 rounds under either algorithm and hid it; the
   * ClusterSoakSpec chain soak (an L-node path must drain in ~log₂ L
   * rounds) is the regression gate. Fails loudly if `maxIter` rounds
   * don't reach the fixpoint rather than returning half-merged
   * components.
   *
   * Cost model (the 100 TB posture): each phase is one map-side min
   * aggregate over the (doubled) edge list plus one shuffle equi-join of
   * the edge list against the node-sized m table (m's agg exchange is
   * reused as its join side) — dense duplicate candidate edges collapse
   * in the aggregate's map-side partials, and the edge set only shrinks
   * (stars absorb their components). Per-round checkpoints deliberately
   * drop stats (see [[org.apache.spark.sql.GraftBridge.checkpointNoStats]]:
   * Spark ≥3.4 otherwise propagates stats through checkpoints and an
   * iterative join loop compounds the size estimate into million-bit
   * BigIntegers that hang the driver in stats code) and are LAZY: the
   * round's convergence probe materializes them, so one round = one
   * scheduler job while the node table fits `broadcastMaxNodes` (the
   * AQE-suspension threshold); above it AQE stays on for skew handling
   * and the same plan splits into per-stage jobs.
   */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 30,
      broadcastMaxNodes: Long = 2000000L,
      localFinishMaxEdges: Long = LocalFinishMaxEdgesDefault): DataFrame =
    duplicateClustersWithRounds(pairs, maxIter, broadcastMaxNodes,
      localFinishMaxEdges)._1

  /** [[duplicateClusters]] plus the star-contraction round count (one
    * round = large-star + small-star) — the observable ClusterSoakSpec
    * pins against adversarial (chain) topology, where the round count,
    * not per-round cost, is the scale risk. */
  def duplicateClustersWithRounds(pairs: DataFrame, maxIter: Int = 30,
      broadcastMaxNodes: Long = 2000000L,
      localFinishMaxEdges: Long = LocalFinishMaxEdgesDefault): (DataFrame, Int) = {
    val (edges, iter) = duplicateClusterEdges(pairs, maxIter, broadcastMaxNodes,
      localFinishMaxEdges)
    val members = edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
    val roots = edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id")).distinct()
    (members.unionByName(roots), iter)
  }

  /** Default single-task endgame threshold for [[duplicateClusterEdges]]:
    * an edge remnant of ≤2M (src, dst) longs is ~32 MB of payload and
    * ~200 MB of transient union-find maps — comfortably one executor
    * task's working memory — while the union-find itself is effectively
    * linear (min-value union with path compression but no union-by-rank
    * — the component min IS the canonical label — so the worst-case
    * bound is O(E log E) on adversarial edge orderings, not O(E·α);
    * at the 2M-edge ceiling even the log-factor case is still
    * milliseconds of CPU) against the ~0.3–0.5 s fixed per-ROUND loop
    * cost (plan composition + an 8-stage scheduler job) it replaces,
    * and a full loop round over the same edges shuffles them several
    * times. Measured at sf0.1: the text dup graph's 1.13M initial
    * candidate edges one-shot here instead of paying a loop round, and
    * the remnant tiers of genuinely large graphs (sf10: 409k member
    * edges after round 1) finish a round earlier. */
  val LocalFinishMaxEdgesDefault: Long = 2000000L

  /**
   * Endgame for the star contraction: once the (still-unconverged) edge
   * remnant fits a single task, compute the component-minima fixpoint in
   * ONE distributed job — a union-find over the coalesced edge list
   * inside a single `mapPartitions` task. No driver collect: the edge
   * list never leaves the executors, and the result is the same
   * (child > root-at-component-min) frame shape the loop converges to.
   * This is the standard two-phase CC endgame (contract while the graph
   * is cluster-sized, finish locally when the remnant fits one worker):
   * without it, a few-thousand-edge graph still pays the loop's fixed
   * per-round scheduler cost for every one of its O(log) rounds — at
   * sf0.1 that fixed cost was ~60% of q130's and q145's whole wall.
   */
  private def localFinish(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // union-find to component minima, path-compressed — emits exactly
        // the loop's fixpoint: (member, component-min) for every non-root
        val parent = scala.collection.mutable.LongMap.empty[Long]
        val nodes = scala.collection.mutable.LongMap.empty[Unit]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) { x = p; p = parent.getOrElse(x, x) }
          val root = x
          x = x0
          p = parent.getOrElse(x, x)
          while (p != x) { parent(x) = root; x = p; p = parent.getOrElse(x, x) }
          root
        }
        it.foreach { case (a, b) =>
          nodes(a) = (); nodes(b) = ()
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        nodes.keysIterator.flatMap { n =>
          val r = find(n)
          if (r != n) Iterator.single((n, r)) else Iterator.empty
        }
      }
      .toDF("src", "dst")
  }

  /** The star-contraction fixpoint as raw (child > root) edges — one row
    * per NON-ROOT member. Consumers that only need the losers (e.g.
    * [[Sampling.dedupApply]]'s anti-join) take this directly and skip the
    * roots union, which would materialize `doc_id == cluster_id` rows just
    * to filter them straight back out. */
  def duplicateClusterEdges(pairs: DataFrame, maxIter: Int = 30,
      broadcastMaxNodes: Long = 2000000L,
      localFinishMaxEdges: Long = LocalFinishMaxEdgesDefault): (DataFrame, Int) = {
    // lazy checkpoints: each round's edge set is materialized BY the
    // convergence probe's aggregate (one scheduler job per round), not by
    // a separate eager-checkpoint job — halves the tiny-job count that
    // dominates the contraction's wall clock on small dup graphs
    val ckpt = (df: DataFrame) =>
      org.apache.spark.sql.GraftBridge.checkpointNoStats(df, eager = false)

    /**
     * One job: materializes `e`'s pending local checkpoint AND returns
     * (starForestViolations, nNodes). Under the canonical child > parent
     * orientation a star forest rooted at component minima is exactly:
     * (a) no node is both child and parent, and (b) every child has ONE
     * parent (each `src` appears exactly once — without this, edges
     * (5,1),(5,2) pass check (a) alone while doc 5 sits in two clusters
     * and the true component {1,2,5} is never contracted). Both checks
     * reduce to one per-node (timesAsSrc, timesAsDst) aggregate.
     */
    def probe(e: DataFrame): (Long, Long, Long) = {
      val nodes = e.select(col("src").as("n"), lit(1L).as("s"), lit(0L).as("d"))
        .unionByName(e.select(col("dst").as("n"), lit(0L).as("s"), lit(1L).as("d")))
      val row = nodes.groupBy(col("n"))
        .agg(sum(col("s")).as("s"), sum(col("d")).as("d"))
        .agg(
          sum(when(col("s") > 1 || (col("s") > 0 && col("d") > 0), 1L)
            .otherwise(0L)).as("violations"),
          count(lit(1)).as("n_nodes"),
          sum(col("s")).as("n_edges"))
        .collect()(0)
      (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1),
        if (row.isNullAt(2)) 0L else row.getLong(2))
    }

    // canonical child > parent edges; self-pairs drop (they carry no
    // connectivity), duplicate candidate edges collapse in the distinct
    var edges = ckpt(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    // the initial probe doubles as the nNodes count that gates the AQE
    // suspension (and the edge count that sizes the loop's shuffles) — no
    // separate count job
    val (violations, nNodes, nEdges) = probe(edges)

    /** One star phase: emit (u, m(v)) for v's neighbors on one side of v
      * (large: u > v; small: u ≤ v plus v itself). Both phases emit
      * child > parent, so the canonical orientation is stable. */
    def phase(e: DataFrame, large: Boolean): DataFrame = {
      val nb = e.select(col("src").as("v"), col("dst").as("u"))
        .unionByName(e.select(col("dst").as("v"), col("src").as("u")))
      // small-star reads m twice (join build + the (v, m) union branch);
      // the agg's shuffle exchange is identical in both subtrees, so
      // ReuseExchange shares it within the job — no checkpoint needed,
      // and skipping it saves one eager materialization job per round
      val m = nb.groupBy(col("v"))
        .agg(min(col("u")).as("nmin"))
        .select(col("v"), least(col("v"), col("nmin")).as("m"))
      // shuffle join by design, both regimes: m and nb hash-partition on
      // v (the agg's exchange doubles as the join's left side, reused).
      // A broadcast(m) hint would skip nb's exchange, but every broadcast
      // exchange is its own collect JOB — in the AQE-off small regime the
      // whole round then pipelines into the probe's single job, which is
      // the cheaper shape (per-job scheduler overhead dominates tiny
      // graphs); in the large regime m is node-count-sized — not a
      // broadcast candidate at all.
      val joined = nb.join(m, "v")
      val emitted =
        if (large) joined.filter(col("u") > col("v"))
          .select(col("u").as("src"), col("m").as("dst"))
        else joined.filter(col("u") < col("v"))
          .select(col("u").as("src"), col("m").as("dst"))
          .unionByName(m.select(col("v").as("src"), col("m").as("dst")))
      val kept = emitted.filter(col("src") =!= col("dst"))
      // only small-star (the round boundary) pays a distinct shuffle:
      // large-star's input is distinct, so its output is ≤|E| rows whose
      // incidental dups (two v's mapping one u to the same m) collapse in
      // small-star's min aggregate and the round-final distinct anyway
      if (large) kept else kept.distinct()
    }

    // In the broadcast-sized regime every per-round exchange is tiny, so
    // AQE's per-stage materialization (each stage = its own job) is pure
    // scheduling overhead — ~13 jobs/round measured on a 64-node chain.
    // Suspend it for the loop and restore after. Above the threshold
    // (a genuinely large dup graph) AQE stays on: coalescing and skew
    // handling matter exactly there. BOTH conf flips are session-scoped
    // — AQE off AND spark.sql.shuffle.partitions narrowed (possibly to
    // 1) for the loop's duration: a query planned CONCURRENTLY in the
    // same session during the loop skips AQE and runs every shuffle at
    // the narrowed width for that window. Harmless for plans this engine
    // emits (nothing here multiplexes), but callers sharing one session
    // across threads should plan the loop on a cloned spark.newSession.
    val spark = pairs.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeBefore = spark.conf.get(aqeKey)
    val partsBefore = spark.conf.get(partsKey)
    val smallRegime = nNodes <= broadcastMaxNodes
    // With AQE suspended nothing coalesces the loop's shuffles, and the
    // default partition count turns each round job into hundreds of
    // near-empty tasks (measured: 8 stages × 32 partitions ≈ 2-3 s of
    // pure scheduler overhead per round at sf0.1, ~60% of the whole
    // contraction wall). Size the loop's shuffles from the probe's node
    // and edge counts instead, RE-SIZED EVERY ROUND as the graph
    // contracts: round 1 carries the full edge list (≈2M rows/task keeps
    // it parallel without fragmenting), the star-forest remnant rounds
    // collapse to a task per stage. Each round's plan is composed inside
    // the loop, so it picks up the conf set from the previous probe.
    // cap at the session's configured width — the cluster operator knows
    // the executor budget, this loop only ever narrows below it
    val confParts = math.max(1L, partsBefore.toInt.toLong)
    def resizeLoop(nn: Long, ne: Long): Unit = if (smallRegime) {
      val loopParts = math.max(1L, math.min(confParts,
        math.max(nn / 500000L, ne / 250000L) + 1L))
      spark.conf.set(partsKey, loopParts.toString)
    }
    if (smallRegime) spark.conf.set(aqeKey, "false")
    resizeLoop(nNodes, nEdges)
    try {
    // Fixpoints of the alternating contraction are star forests rooted at
    // component minima (Kiveris et al.), and under the canonical
    // child > parent orientation every star's parent is below all its
    // children — i.e. the star IS rooted at its minimum. So convergence
    // is the purely STRUCTURAL star-forest property checked by `probe`
    // on the CURRENT edge set: no confirming round, no edge-set diff.
    // (On a star: a child's only neighbor is its smaller parent, so
    // large-star re-emits (child, parent) and small-star emits (parent,
    // parent) — dropped — plus the union branch (child, parent); both
    // phases are the identity.)
    var iter = 0
    var converged = violations == 0L
    var curEdges = nEdges
    while (!converged && iter < maxIter) {
      if (localFinishMaxEdges > 0 && curEdges <= localFinishMaxEdges) {
        // single-task endgame: the remnant fits one worker — finish the
        // contraction in one job instead of O(log remnant) more rounds
        edges = ckpt(localFinish(edges))
        converged = true
      } else {
        // one lineage truncation per round, materialized by the probe's own
        // aggregate job; the large-star subplan inside is referenced twice
        // by small-star's nb union, but its exchanges are identical and
        // shared (ReuseExchange), so only the cheap post-shuffle compute
        // doubles — cheaper than an extra checkpoint job
        val prevRound = edges
        edges = ckpt(phase(phase(edges, large = true), large = false))
        iter += 1
        val (v, nn, ne) = probe(edges)
        // round N's blocks exist after the probe, so round N-1's
        // checkpoint is dead — retire it NOW instead of letting the
        // loop accrete one pinned edge set per round for the session
        org.apache.spark.sql.GraftBridge.unpersistPin(prevRound)
        converged = v == 0L
        curEdges = ne
        resizeLoop(nn, ne)
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds — raise maxIter")
    (edges, iter)
    } finally {
      spark.conf.set(aqeKey, aqeBefore)
      spark.conf.set(partsKey, partsBefore)
    }
  }

  /**
   * Session-scoped memo of the contraction fixpoint per (corpus dir,
   * maxHamming) — the q127 shared-meta discipline applied ACROSS queries:
   * q74 (clusters), q81 (dedup apply), q86 (training pipeline) and q118
   * (cluster-size histogram) all contract the identical simhash dup
   * graph of the identical corpus, and a bench/verify run executes all
   * four. The first consumer pays the fingerprint pass + band join +
   * star contraction; the rest reuse the materialized (child > root)
   * edge fixpoint (the loop's own per-round local checkpoints make the
   * returned frame an in-memory RDD — corpus-NARROW, two longs per
   * non-root member, so pinning it for the session is cheap).
   *
   * Keyed by `applicationId` so a restarted SparkContext can never serve
   * a stale RDD, and by the CANONICAL dir so path spellings collapse.
   * The corpus dirs this engine reads are immutable fixture/lake dirs;
   * a test that rewrites a dir in place must call
   * [[clearSharedClusterEdges]] (the dedup soak does, to keep its timing
   * observable honest).
   */
  private val sharedEdgesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), (DataFrame, Int)]()

  /** The contraction fixpoint for the corpus at `d` — computed once per
    * session per (dir, maxHamming), shared by every cluster consumer. */
  def sharedClusterEdges(s: SparkSession, d: String,
      maxHamming: Int = 6): (DataFrame, Int) = {
    val key = (s.sparkContext.applicationId,
      new java.io.File(d).getCanonicalPath, maxHamming)
    sharedEdgesCache.computeIfAbsent(key,
      // session scope: the fixpoint frame outlives any one query, so its
      // checkpoints must not land in the caller's transient-pin batch
      // (releaseTransientPins after the first consumer would free the
      // shared frame under every later consumer)
      _ => org.apache.spark.sql.GraftBridge.sessionPinned(
        smallCorpusRegime(s, d) {
          duplicateClusterEdges(simhashDupGraph(s, d, maxHamming))
        }))
  }

  /**
   * Extend [[duplicateClusterEdges]]'s small-regime AQE suspension to the
   * GRAPH DERIVATION as well: profiled at sf0.1 (JobCount, round 15), the
   * fixpoint's wall is ~14 AQE stage-materialization jobs + their
   * per-stage codegen over a 5,000-doc corpus — scheduling, not compute
   * (the contraction itself is rounds=0 + the single-task endgame). The
   * regime is decided by a parquet-footer row count (milliseconds, no
   * scan) against the same node bound the loop already uses: a corpus
   * over ~2M docs — every production corpus — keeps AQE on for the whole
   * derivation, where coalescing and skew handling matter. Conf flips are
   * session-scoped for the derivation's duration (the documented
   * [[duplicateClusterEdges]] caveat; callers multiplexing one session
   * across threads should plan on a cloned newSession).
   */
  private def smallCorpusRegime[T](s: SparkSession, d: String)(body: => T): T = {
    val nDocs =
      try s.read.parquet(s"$d/documents.parquet").count()
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    if (nDocs > 2000000L) body
    else {
      val aqeKey = "spark.sql.adaptive.enabled"
      val partsKey = "spark.sql.shuffle.partitions"
      val aqeBefore = s.conf.get(aqeKey)
      val partsBefore = s.conf.get(partsKey)
      s.conf.set(aqeKey, "false")
      // floor 8: the derivation's post-shuffle stages (windows, band
      // join, distinct) should still parallelize — the loop re-narrows
      // itself per round via resizeLoop; only the stage-JOB count was
      // the overhead being cut here
      s.conf.set(partsKey,
        math.min(partsBefore.toInt.toLong,
          math.max(8L, nDocs / 250000L + 1L)).toString)
      try body finally {
        s.conf.set(aqeKey, aqeBefore)
        s.conf.set(partsKey, partsBefore)
      }
    }
  }

  private[graft] def clearSharedClusterEdges(): Unit = sharedEdgesCache.clear()

  /** [[duplicateClusters]] over the simhash near-dup graph
    * ([[simhashDupGraph]]: exact duplicates collapsed before banding).
    * The pair-level distinct is skipped (multi-band duplicate candidate
    * edges collapse in the contraction's own map-side aggregates — same
    * components). Rides [[sharedClusterEdges]]. */
  def simhashClusters(s: SparkSession, d: String): DataFrame = {
    val edges = sharedClusterEdges(s, d)._1
    edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .unionByName(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id"))
        .distinct())
  }

  /**
   * q153: quality-keeper selection over the duplicate clusters — the
   * published refinement of q81's min-id dedup apply: when a near-dup
   * cluster collapses to one document, keep its BEST member (the longest
   * document — the RefinedWeb/FineWeb release practice) instead of the
   * id-minimal one, and report per source how much content the quality
   * policy retains over the min-id policy (`chars_gain`) — the number
   * that justifies (or kills) the policy switch.
   *
   * Rides the session-shared q74 contraction fixpoint
   * ([[sharedClusterEdges]]), so consumers batching several cluster
   * queries pay the contraction once. The keeper window is keyed by
   * cluster_id — group size = that cluster's member count, bounded by
   * duplicate multiplicity, never corpus-sized — over three narrow
   * columns; the min-id baseline rides the SAME window partition (the
   * `first` by doc_id in the same exchange — no second join), so the
   * whole query is label-INVARIANT: only component membership enters
   * the output, which is what lets the streaming quality-keeper ledger
   * serve this exact function over the maintained cluster forest (where
   * a late-arriving lower id may displace a root) and still equal batch.
   * Deterministic: chars-desc with NULLS LAST and doc_id tiebreak,
   * spelled identically in both engines.
   */
  def qualityKeepers(s: SparkSession, d: String): DataFrame =
    qualityKeepersOf(
      documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      simhashClusters(s, d))

  /** [[qualityKeepers]] over arbitrary (doc_id, source, n_chars) docs +
    * (doc_id, cluster_id) assignment — the [[softDedupWeightsOf]]
    * sharing shape. Membership-only semantics: the min-id baseline is
    * the component's doc_id-minimal MEMBER (identically the batch
    * contraction's root label, but never read off the label itself). */
  def qualityKeepersOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val m = clusters.join(docs, Seq("doc_id"))
    val wc = Window.partitionBy(col("cluster_id"))
    val ranked = m
      .withColumn("csize", count(lit(1)).over(wc))
      // frame start of the doc_id-ordered window = the min-id member —
      // the q81 baseline keeper — without a second pass over the table
      .withColumn("root_chars",
        first(col("n_chars")).over(wc.orderBy(col("doc_id"))))
      .withColumn("rn", row_number().over(
        wc.orderBy(col("n_chars").desc_nulls_last, col("doc_id"))))
    ranked.filter(col("rn") === 1)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_clusters_led"),
        sum(col("csize")).cast("long").as("n_members"),
        coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("kept_chars"),
        coalesce(sum(col("root_chars")), lit(0L)).cast("long")
          .as("minid_kept_chars"))
      .withColumn("chars_gain", col("kept_chars") - col("minid_kept_chars"))
  }

  /**
   * q159: soft-dedup reweighting — the third duplicate POLICY next to
   * hard deletion (q81 min-id) and best-member keeping (q153): keep
   * every document but down-weight duplicated content by its commonness.
   * A document in a near-dup cluster of size n trains with weight 1/n,
   * so every cluster contributes exactly one document's worth of
   * gradient mass while preserving the cluster's internal variation —
   * the soft deduplication of He et al. 2024, which reports better loss
   * than hard deletion at equal effective epochs. Per source: document
   * and char totals, the effective (weighted) totals a trainer would
   * see, and the fraction of the source's mass the reweighting removes —
   * the number that sizes the policy against q81/q153 for that source.
   *
   * Rides the session-shared q74 contraction fixpoint
   * ([[sharedClusterEdges]]); the only new work is a cluster-size count
   * and one narrow-column aggregate keyed by source. Weighted sums are
   * quantized per row to 12 dp and summed as DECIMAL(38,12) — exact,
   * order- and partitioning-independent — then rounded to 6 dp (the
   * suite's standard float-sum discipline, q147's spelling).
   */
  def softDedupWeights(s: SparkSession, d: String): DataFrame =
    softDedupWeightsOf(
      documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      simhashClusters(s, d))

  /** [[softDedupWeights]] over arbitrary (doc_id, source, n_chars) docs
    * and a (doc_id, cluster_id) assignment — the weights are a pure
    * function of (docs, clusters), so the streaming soft-dedup gate
    * serves THIS function over its maintained docs state + cluster
    * forest and is ≡ batch by construction (only component MEMBERSHIP
    * enters the output — cluster labels cancel inside csize). */
  def softDedupWeightsOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val assigned = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val csize = assigned.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    assigned.join(csize, "cluster_id")
      .withColumn("w",
        round(lit(1.0) / col("csize"), 12).cast("decimal(38,12)"))
      .withColumn("wc",
        round(col("n_chars") * (lit(1.0) / col("csize")), 12)
          .cast("decimal(38,12)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1).otherwise(0)).cast("long").as("n_clustered"),
        round(sum(col("w")).cast("double"), 6).as("eff_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("total_chars"),
        round(coalesce(sum(col("wc")).cast("double"), lit(0.0)), 6).as("eff_chars"))
      .withColumn("mass_removed",
        round(lit(1.0) - col("eff_docs") / col("n_docs"), 6))
  }

  /**
   * q163: data-constrained effective-dataset audit (Muennighoff et al.
   * 2023, "Scaling Data-Constrained Language Models", deterministic
   * reduction) — the scaling-law member of the duplicate-POLICY family
   * (q81 hard-delete keeps copy 1 at value 1 and drops the rest; q159
   * soft-dedup values every copy at 1/n; this one prices the i-th copy
   * of repeated content at the paper's exponentially decaying return
   * δ^(i−1), here with δ = 1/2 — dyadic, so both engines compute the
   * power EXACTLY in binary floating point before the 12-dp quantize).
   * Copies are ranked doc_id-ascending within each near-dup cluster
   * (the session-shared q74 fixpoint), so the value assignment is
   * deterministic and engine-reproducible. Per source: document count,
   * repeat count, the hard-dedup keeper count, and the decay-valued
   * effective docs/chars a data-constrained trainer would budget with —
   * plus the share of effective value contributed by repeats (the
   * number that says whether keeping duplicates buys anything at all).
   *
   * Determinism discipline: per-row values are round(…,12) and summed
   * as DECIMAL(38,12) (exact, order/partitioning-independent — q159's
   * spelling), outputs re-rounded to 6 dp; the share divides two
   * already-rounded outputs so neither engine can fork on an
   * intermediate.
   *
   * 100 TB shape: rides the shared contraction fixpoint; the only new
   * work is one per-cluster rank window over narrow (doc_id, source,
   * n_chars, cluster_id) rows — group size = cluster size, never
   * corpus-sized — and one per-source aggregate.
   */
  def effectiveData(s: SparkSession, d: String): DataFrame =
    effectiveDataOf(
      documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      simhashClusters(s, d))

  /** [[effectiveData]] over arbitrary docs + (doc_id, cluster_id)
    * assignment (the [[softDedupWeightsOf]] sharing shape). */
  def effectiveDataOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val assigned = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val ranked = assigned
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("doc_id"))))
      .withColumn("v",
        round(pow(lit(0.5), col("rk") - 1), 12).cast("decimal(38,12)"))
      .withColumn("vc",
        round(col("n_chars") * pow(lit(0.5), col("rk") - 1), 12)
          .cast("decimal(38,12)"))
    ranked.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rk") > 1, 1).otherwise(0)).cast("long")
          .as("n_repeat_docs"),
        sum(when(col("rk") === 1, 1).otherwise(0)).cast("long")
          .as("eff_docs_hard"),
        round(sum(col("v")).cast("double"), 6).as("eff_docs_decay"),
        round(coalesce(sum(col("vc")).cast("double"), lit(0.0)), 6)
          .as("eff_chars_decay"))
      .withColumn("repeat_value_share",
        round((col("eff_docs_decay") - col("eff_docs_hard")) /
          col("eff_docs_decay"), 6))
  }

  /**
   * q169: duplicate-cluster chaining audit — connected components are
   * the standard dedup clustering (q74), and their documented overreach
   * is TRANSITIVE CHAINING: A≈B and B≈C force {A,B,C} into one cluster
   * even when A and C share nothing (the agglomerative-dedup caveat in
   * every suffix-array/MinHash dedup writeup). This audit prices that
   * overreach per cluster-size band: within each cluster (size-capped —
   * per-cluster pairwise work is the declared cost, bounded by
   * sizeCap²), every member pair is re-tested against the DIRECT
   * near-dup predicate (exact h128 equality OR the q35/q74 band-share +
   * Hamming gate), density = direct pairs / all pairs, and a cluster
   * with density < 1 is chained — it contains member pairs no direct
   * evidence connects. High chained fractions in a band say q81's
   * hard-delete is erasing non-duplicate documents there, and q159's
   * soft weights are the safer policy.
   *
   * 100 TB shape: rides the session-shared contraction fixpoint and the
   * narrow fingerprint table; the pairwise stage is per-cluster-bounded
   * (≤ sizeCap² rows per cluster, clusters over sizeCap are excluded
   * from the pairwise pass by construction); the rollup is 3 rows.
   */
  def clusterChainAudit(s: SparkSession, d: String, sizeCap: Int = 64,
      maxHamming: Int = 6): DataFrame = {
    val meta = simhashMetaOf(documents(s, d).select(col("doc_id"), col("text")))
    val mm = simhashClusters(s, d).join(meta, Seq("doc_id"))
    val cs = mm.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    val m2 = mm.join(cs, "cluster_id").filter(col("csize").between(2, sizeCap))
    val a = m2.select(col("cluster_id"), col("csize"),
      col("doc_id").as("ida"), col("h128").as("ha"), col("simhash").as("sa"))
    val b = m2.select(col("cluster_id"), col("doc_id").as("idb"),
      col("h128").as("hb"), col("simhash").as("sb"))
    def bandOf(k: Int, c: Column) =
      shiftright(c, k * SimhashBandBits).bitwiseAND(SimhashBandMask)
    val shareBand = (0 until SimhashBands)
      .map(k => bandOf(k, col("sa")) === bandOf(k, col("sb")))
      .reduce(_ || _)
    val pp = a.join(b, Seq("cluster_id"))
      .filter(col("ida") < col("idb"))
      .withColumn("direct",
        when((col("ha").isNotNull && col("ha") === col("hb")) ||
          (shareBand &&
            bit_count(col("sa").bitwiseXOR(col("sb"))) <= maxHamming), 1)
          .otherwise(0))
    val pc = pp.groupBy(col("cluster_id"), col("csize"))
      .agg(count(lit(1)).as("tot"), sum(col("direct")).as("dir"))
      .withColumn("density", round(col("dir").cast("double") / col("tot"), 6))
    pc.withColumn("band",
        when(col("csize") >= 5, "5+")
          .when(col("csize") >= 3, "3-4").otherwise("2"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("density") < 1, 1).otherwise(0)).cast("long")
          .as("n_chained"),
        round(sum(col("density").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_density"),
        min(col("density")).as("min_density"))
  }

  // ------------------------------------------------------------- simhash

  /** SimHash geometry: 60-bit fingerprints in 4 bands of 15 bits. */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 15
  val SimhashBandMask: Long = (1L << SimhashBandBits) - 1

  /** 60-bit word hash from the md5 hex prefix (15 hex chars = 60 bits).
    * Chosen over xxhash64 because BOTH Spark and DuckDB compute it
    * bit-identically (`conv(substr(md5,1,15),16,10)` ≡
    * `('0x'||substr(md5,1,15))::BIGINT`), making every simhash query fully
    * oracle-checkable; the hash is an argument of [[simhashFromHashes]], so
    * swapping a faster non-cryptographic family back in is one line. */
  def mdHash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /**
   * 60-bit SimHash from a materialized word-hash column: bit b of the
   * fingerprint is the majority vote of bit b across hash(word).
   * Near-dup docs differ in few bits (small Hamming distance).
   * Computed by the native single-pass [[graft.functions.SimHash60]]
   * expression (whole-stage codegen); [[simhashFromHashesDeclarative]] is
   * the builtin-only formulation, kept as the cross-check oracle for the
   * native one (equality asserted in CosineSimilaritySpec).
   */
  def simhashFromHashes(hashesCol: Column): Column =
    graft.functions.SimHash60.simhash60(hashesCol)

  /** Declarative majority-vote form: 60 filter passes over the hash array.
    * Value-identical to the native expression, ~10× slower — test oracle. */
  def simhashFromHashesDeclarative(hashesCol: Column): Column = {
    val bits = (0 until SimhashBits).map { b =>
      // bit b set iff strictly more than half the word hashes have it set
      when(size(filter(hashesCol, h => shiftright(h, b).bitwiseAND(1) === 1)) * 2
            > size(hashesCol), lit(1L << b))
        .otherwise(0L)
    }
    bits.reduce(_ + _) // disjoint bit contributions: sum == bitwise OR
  }

  /** Convenience form over a text column (ad-hoc use only). */
  def simhash(c: Column): Column =
    simhashFromHashes(transform(array_distinct(words(c)), w => mdHash60(w)))

  /** SimHash fingerprints + 15-bit band keys for Hamming-distance blocking
    * (two docs within Hamming distance 3 share ≥1 of the 4 bands). */
  def simhashFingerprints(s: SparkSession, d: String): DataFrame = {
    val fps = documentsSpread(s, d) // per-word 60-bit hashing before any shuffle
      .select(col("doc_id"), col("text"))
      .withColumn("whs", transform(array_distinct(words(col("text"))), w => mdHash60(w)))
      .withColumn("simhash", simhashFromHashes(col("whs")))
    val cols = Seq(col("doc_id"), col("simhash")) ++
      (0 until SimhashBands).map(k =>
        shiftright(col("simhash"), k * SimhashBandBits)
          .bitwiseAND(SimhashBandMask).as(s"band_$k"))
    fps.select(cols: _*)
  }

  /** The band-blocked near-dup pair join over a (doc_id, simhash) frame:
    * equal 15-bit band ⇒ candidate; exact Hamming filter via
    * bit_count(xor). Shared by the full-corpus pair queries and the
    * exact-first dup graph. */
  private[graft] def bandPairs(fps: DataFrame, maxHamming: Int,
      wideJoin: Boolean = false): DataFrame =
    bandPairsImpl(fps, maxHamming, dedupInJoin = false, carry = Nil,
      wideJoin = wideJoin)

  /** [[bandPairs]] with each surviving pair emitted EXACTLY ONCE — from
    * its lowest shared band — plus optional per-side carried columns
    * (`c` → `a_c`/`b_c`).
    *
    * A pair within Hamming distance `maxHamming` can share up to all
    * [[SimhashBands]] bands, so the raw stream holds ≤ 4 copies and the
    * classic spelling pays a `distinct()` — a full shuffle of the pair
    * stream, which the sf10 soak measured at 130M rows (simhash's
    * short-document zero-bias concentrates low-bit fingerprints within
    * Hamming range of each other, so the TRUE pair mass is quadratic in
    * those cluster sizes — a property of the semantics, not the plan).
    * The in-join dedup instead checks, inside the join filter where BOTH
    * fingerprints are in-row, that no earlier band also matches — the
    * stream leaves the join already unique, aggregates consume it
    * map-side, and no pair row ever crosses the network. */
  private[graft] def bandPairsOnce(fps: DataFrame, maxHamming: Int,
      carry: Seq[String] = Nil): DataFrame =
    bandPairsImpl(fps, maxHamming, dedupInJoin = true, carry, wideJoin = false)

  private def bandPairsImpl(fps: DataFrame, maxHamming: Int,
      dedupInJoin: Boolean, carry: Seq[String], wideJoin: Boolean): DataFrame = {
    val banded = fps.select(
      Seq(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBands).map(k =>
          shiftright(col("simhash"), k * SimhashBandBits)
            .bitwiseAND(SimhashBandMask)): _*))
          .as(Seq("band_id", "band_key"))) ++ carry.map(col): _*)
    val l = banded.select(
      Seq(col("band_id"), col("band_key"),
        col("doc_id").as("doc_a"), col("simhash").as("sim_a")) ++
        carry.map(c => col(c).as(s"a_$c")): _*)
    val r = banded.select(
      Seq(col("band_id"), col("band_key"),
        col("doc_id").as("doc_b"), col("simhash").as("sim_b")) ++
        carry.map(c => col(c).as(s"b_$c")): _*)
    val noEarlierSharedBand = (0 until SimhashBands).map(j =>
      when(col("band_id") > j,
        shiftright(col("sim_a"), j * SimhashBandBits).bitwiseAND(SimhashBandMask) =!=
          shiftright(col("sim_b"), j * SimhashBandBits).bitwiseAND(SimhashBandMask))
        .otherwise(lit(true))).reduce(_ && _)
    // wideJoin: the band self-join's INPUT (4 rows per unique fingerprint)
    // is tiny, so AQE coalesces its partitions to 1-2 tasks by input
    // bytes — fine for plain pair emission, but when a consumer pipelines
    // a heavy partial aggregate into the same stage (the dup graph's
    // edge-distinct consumes millions of emitted pairs map-side), those
    // 1-2 tasks own ALL the aggregation work. An explicit partition count
    // on the join keys opts that one exchange out of coalescing; AQE
    // keeps the matching side at the same width. Only the graph path asks
    // for it — the pure pair queries measured faster letting AQE coalesce
    // (one fewer wide exchange). Input skew loses nothing here: band keys
    // are uniform by construction (exact-dup mass collapses before
    // banding).
    val lSide =
      if (!wideJoin) l
      else l.repartition(
        math.max(1, l.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt),
        col("band_id"), col("band_key"))
    val base = lSide.join(r, Seq("band_id", "band_key"))
      .filter(col("doc_a") < col("doc_b") &&
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming &&
        (if (dedupInJoin) noEarlierSharedBand else lit(true)))
    base.select(
      Seq(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming")) ++
        carry.flatMap(c => Seq(col(s"a_$c"), col(s"b_$c"))): _*)
  }

  /** The ASYMMETRIC band probe: near-dup pairs between a (small) probe
    * frame and a corpus frame, both (doc_id, simhash) — the incremental
    * form of the band self-join used by the streaming cluster gate
    * ([[graft.streaming.StreamingCorpus.startClusterGate]]). Each
    * qualifying (probe, corpus) pair is emitted exactly once (in-join
    * first-shared-band dedup — both fingerprints are in-row, same
    * discipline as [[bandPairsOnce]]); doc_a = probe side, doc_b = corpus
    * side, unordered (consumers canonicalize). NULL fingerprints never
    * pair (null band keys never equi-join).
    *
    * 100 TB shape: the probe side is batch-sized, the corpus side is one
    * narrow row per distinct fingerprint; the join shuffles 4 band rows
    * per fingerprint, never document text. */
  private[graft] def bandProbe(probe: DataFrame, corpus: DataFrame,
      maxHamming: Int): DataFrame = {
    def banded(df: DataFrame, idc: String, simc: String) = df.select(
      col("doc_id").as(idc), col("simhash").as(simc),
      posexplode(array((0 until SimhashBands).map(k =>
        shiftright(col("simhash"), k * SimhashBandBits).bitwiseAND(SimhashBandMask)): _*))
        .as(Seq("band_id", "band_key")))
    val noEarlierSharedBand = (0 until SimhashBands).map(j =>
      when(col("band_id") > j,
        shiftright(col("sim_a"), j * SimhashBandBits).bitwiseAND(SimhashBandMask) =!=
          shiftright(col("sim_b"), j * SimhashBandBits).bitwiseAND(SimhashBandMask))
        .otherwise(lit(true))).reduce(_ && _)
    banded(probe, "doc_a", "sim_a")
      .join(banded(corpus, "doc_b", "sim_b"), Seq("band_id", "band_key"))
      .filter(col("doc_a") =!= col("doc_b") &&
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming &&
        noEarlierSharedBand)
      .select(col("doc_a"), col("doc_b"))
  }

  /**
   * The simhash near-dup graph with EXACT duplicates collapsed before
   * banding — the edge set [[duplicateClusters]] and its consumers
   * (dedup application, the training pipeline) contract.
   *
   * Why not band the full corpus: identical texts share an identical
   * fingerprint, hence all four bands, so a text duplicated n times puts
   * n rows into each of its band groups and the band self-join emits
   * ~4·n²/2 candidate rows INSIDE ONE KEY GROUP — a quadratic blowup and
   * a straggler partition at once on real web corpora (30–60% exact
   * dups). Collapsing by content hash first caps every such group at one
   * row per DISTINCT text; the n duplicate members re-enter as n−1
   * (member → representative) edges, which is linear by construction.
   *
   * The contracted components are UNCHANGED vs banding the full corpus:
   * exact copies have equal fingerprints, so (m, x) is a full-graph edge
   * iff (rep(m), rep(x)) is a rep-graph edge (same bands, same Hamming
   * distance), and every member reaches its rep through its exact edge —
   * the component partition over doc_ids, and each component's minimum
   * (the representative IS the group minimum), are identical. Pinned by
   * the planted-duplicate soak in ClusterSoakSpec.
   *
   * 100 TB shape: fingerprint + content hash are narrow maps; ONE shuffle
   * on the 128-bit hash (a window keyed by it — group sizes are the
   * duplicate multiplicities, linear); banding then joins on unique
   * fingerprints only. The corpus body never shuffles — the windowed rows
   * carry (doc_id, h128, simhash).
   */
  def simhashDupGraph(s: SparkSession, d: String, maxHamming: Int = 6): DataFrame =
    simhashDupGraphOf(
      documentsSpread(s, d).select(col("doc_id"), col("text")), maxHamming)

  /** [[simhashDupGraph]] over an arbitrary (doc_id, text) frame. */
  def simhashDupGraphOf(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    simhashDupGraphFromMeta(simhashMetaOf(docs), maxHamming)

  /** The per-doc dedup fingerprint row (doc_id, h128, simhash) — a narrow
    * map over the corpus, and the ONLY state the near-dup graph needs.
    * The streaming path maintains exactly this table incrementally
    * ([[graft.streaming.StreamingCorpus]]): fingerprinting is per-doc
    * work done once on arrival; the graph and its contraction are then
    * derivable from fingerprints alone, never re-reading document text.
    *
    * h128 is BINARY(16) (`unhex(md5)`), not the 32-char hex string: the
    * column is pure internal state — grouped, joined, null-checked,
    * never ordered or surfaced — so equality semantics are unchanged
    * while every fingerprint checkpoint, shuffle and state table keyed
    * by it (the contraction family, the streaming rep/admission
    * indexes) carries 16 bytes per row instead of a ~40-byte
    * UTF8String. At the sf100 soak (5M docs) this is the difference
    * between the q74 fixpoint fitting a default heap or not. */
  def simhashMetaOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      unhex(md5(col("text").cast("binary"))).as("h128"),
      simhashFromHashes(
        transform(array_distinct(words(col("text"))), w => mdHash60(w)))
        .as("simhash"))

  /** [[simhashDupGraph]] from a (doc_id, h128, simhash) fingerprint frame.
    *
    * NULL fingerprints never pair: a window PARTITION BY groups nulls
    * together (unlike the equi-join of the banding step, where null keys
    * never match), so without the isNotNull guard every null-text doc
    * would become an "exact duplicate" of every other and q81 would
    * silently drop all but one of them. */
  def simhashDupGraphFromMeta(fps: DataFrame, maxHamming: Int = 6): DataFrame = {
    // The fingerprint table is consumed three times downstream (the exact
    // window, then each side of the band self-join). Without truncation
    // each consumer re-runs the full text tokenize+hash map over the
    // corpus — measured as the two dominant scan stages of every
    // contraction-family query at sf0.1. The table itself is the narrow
    // (doc_id, h128, simhash) row — node-sized, never corpus-text-sized —
    // so a lazy local checkpoint (materialized by whichever consumer runs
    // first, reused by the rest) trades three text passes for one.
    val fpsOnce = org.apache.spark.sql.GraftBridge.checkpointNoStats(fps, eager = false)
    val byText = Window.partitionBy(col("h128"))
    val withRep = fpsOnce.withColumn("rep", min(col("doc_id")).over(byText))
    val exactEdges = withRep
      .filter(col("h128").isNotNull && col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"),
        lit(0).as("hamming"))
    val uniq = withRep.filter(col("h128").isNull || col("doc_id") === col("rep"))
      .select(col("doc_id"), col("simhash"))
    // VALUE tier (the q114/q101 distinct-VALUE discipline applied to the
    // cluster graph): reps with EQUAL fingerprints are Hamming-0 near-dups
    // — one component by definition — so they collapse to the value
    // minimum BEFORE banding and only distinct fingerprint VALUES enter
    // the band join. simhash's short-document zero-bias makes value
    // multiplicities quadratic in the candidate stream: the sf10 soak's
    // banded stream fell 130.5M -> ~18M candidate rows (and the
    // contraction's round-1 input with it) from this tier alone. NULL
    // fingerprints keep the h128 guard's discipline: the window groups
    // nulls, so vrep is guarded NULL and null-simhash rows flow to the
    // band join, whose null keys never match.
    val byVal = Window.partitionBy(col("simhash"))
    val withVrep = uniq.withColumn("vrep",
      when(col("simhash").isNotNull, min(col("doc_id")).over(byVal)))
    val valueEdges = withVrep
      .filter(col("vrep").isNotNull && col("doc_id") =!= col("vrep"))
      .select(col("doc_id").as("doc_a"), col("vrep").as("doc_b"),
        lit(0).as("hamming"))
    val vuniq = withVrep
      .filter(col("vrep").isNull || col("doc_id") === col("vrep"))
      .select(col("doc_id"), col("simhash"))
    bandPairs(vuniq, maxHamming, wideJoin = true)
      .unionByName(valueEdges)
      .unionByName(exactEdges)
  }

  /** SimHash near-dup candidate pairs: equal 15-bit band ⇒ candidate; then
    * exact Hamming distance filter via bit_count(xor). Each surviving pair
    * is emitted exactly once by the in-join first-shared-band dedup
    * ([[bandPairsOnce]]) — the same row set `distinct()` produced, with
    * no shuffle of the pair stream at all. */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 6): DataFrame =
    bandPairsOnce(
      simhashFingerprints(s, d).select(col("doc_id"), col("simhash")),
      maxHamming)

  /**
   * q151: incremental (cross-snapshot) dedup — admit an INCOMING batch
   * against an EXISTING corpus, the content-level gate every continuously
   * refreshed training corpus runs on each new crawl dump (the LLM-dedup
   * twin of the reference's incremental upsert semantics: new rows are
   * admitted only where they don't collide with what's already loaded,
   * cf. `/root/reference/src/importer.rs:363-390` — there the key is the
   * PK, here it's the CONTENT). The planted split is deterministic:
   * incoming = doc_id ≡ 0 (mod `mod`), existing = the rest.
   *
   * Precedence ladder per incoming document:
   *  1. exact duplicate — its md5(text) exists in the corpus;
   *  2. near duplicate — not exact, but its simhash fingerprint is
   *     BANDED-near some corpus fingerprint (≥1 shared 15-bit band AND
   *     Hamming ≤ `maxHamming` — the q35/q74 family predicate, so all
   *     three dedup tiers share one near-dup definition);
   *  3. admitted — neither; enters the corpus.
   * NULL text ⇒ NULL hash and NULL fingerprint ⇒ never collides ⇒
   * admitted (NULL keys never equi-join, in either engine).
   *
   * Emits the per-source admission ledger (counts + admitted checksum).
   *
   * 100 TB posture: text reduces to (h128, simhash) inside the scan and
   * never shuffles. The exact gate is ONE window over the 128-bit hash
   * (group size = that text's copy count across both snapshots — bounded
   * and skew-split by AQE, never corpus-sized; NULL hashes are guarded
   * explicitly since the window, unlike a join, groups them). The near
   * gate collapses BOTH sides to distinct fingerprint VALUES in one
   * map-side-combined aggregate carrying per-side presence flags (the
   * pair-stream discipline: a fingerprint duplicated n× contributes one
   * banded row, not n), and the band join is a LEFT SEMI — each incoming
   * fingerprint row emits at most once per band no matter how many
   * corpus fingerprints it matches, so no candidate-pair stream is ever
   * materialized, let alone shuffled. The near flags rejoin the
   * incoming rows by fingerprint value; the ledger is a
   * map-side-combined per-source aggregate. The base derivation is
   * PINNED (lazy local checkpoint) so the text scan and per-word hashing
   * run exactly once for both gates.
   */
  def incrementalDedup(s: SparkSession, d: String, maxHamming: Int = 6,
      mod: Int = 3): DataFrame =
    incrementalDedupOf(
      documentsSpread(s, d).select(col("doc_id"), col("source"), col("text")),
      maxHamming, mod)

  /** Distinct PROBE fingerprint values that are banded-near (≥1 shared
    * 15-bit band AND Hamming ≤ `maxHamming` — the q35/q74 predicate) SOME
    * corpus fingerprint value: the value-level SEMI form of [[bandProbe]].
    * Inputs are single-column NULL-free `simhash` frames, already
    * collapsed to distinct values (the pair-stream discipline); the LEFT
    * SEMI means no candidate-pair stream exists even transiently, no
    * matter how many corpus values a probe value matches. Shared by
    * batch q151 ([[incrementalDedupOf]]) and the streaming admission gate
    * ([[graft.streaming.StreamingCorpus.admitBatch]]). */
  private[graft] def bandNearValues(probe: DataFrame, corpus: DataFrame,
      maxHamming: Int): DataFrame = {
    def banded(df: DataFrame, simc: String, bidc: String, bkc: String) =
      df.select(Seq(col("simhash").as(simc),
        posexplode(array((0 until SimhashBands).map(k =>
          shiftright(col("simhash"), k * SimhashBandBits)
            .bitwiseAND(SimhashBandMask)): _*)).as(Seq(bidc, bkc))): _*)
    val incB = banded(probe, "sim_a", "band_id", "band_key")
    val corB = banded(corpus, "sim_b", "cband_id", "cband_key")
    incB.join(corB,
        incB("band_id") === corB("cband_id") &&
          incB("band_key") === corB("cband_key") &&
          bit_count(incB("sim_a").bitwiseXOR(corB("sim_b"))) <= maxHamming,
        "left_semi")
      .select(col("sim_a").as("simhash")).distinct()
  }

  /** [[incrementalDedup]] over an arbitrary (doc_id, source, text) frame. */
  def incrementalDedupOf(docs: DataFrame, maxHamming: Int = 6,
      mod: Int = 3): DataFrame = {
    // one narrow derivation feeds both gates, PINNED: column pruning gives
    // each branch a different scan, so exchange reuse can NOT deduplicate
    // them (measured: 0 ReusedExchange, 3 scans) and without the pin the
    // per-word hashing runs once per branch — the dominant term at scale
    // (sf10: 5.5 s three-scan vs 3.2 s pinned)
    val base = org.apache.spark.sql.GraftBridge.checkpointNoStats(
      docs
        .withColumn("h128", unhex(md5(col("text").cast("binary"))))
        .withColumn("simhash", simhashFromHashes(
          transform(array_distinct(words(col("text"))), w => mdHash60(w))))
        .select(col("doc_id"), col("source"), col("h128"), col("simhash"),
          (col("doc_id") % mod === 0).as("incoming")),
      eager = false)
    // exact gate: one window keyed by the content hash — a group holds
    // every copy of one text across both snapshots; guarded for NULLs
    // (the window groups NULL hashes, a join would drop them)
    val wH = Window.partitionBy(col("h128"))
    val incomingFlagged = base
      .withColumn("corp_n",
        sum(when(!col("incoming"), 1).otherwise(0)).over(wH))
      .filter(col("incoming"))
      .withColumn("exact", col("h128").isNotNull && col("corp_n") > 0)
      .select(col("doc_id"), col("source"), col("simhash"), col("exact"))
    // near gate: distinct fingerprint VALUES with per-side presence flags
    // out of one map-side-combined aggregate, then the banded LEFT SEMI
    val fpAgg = base.filter(col("simhash").isNotNull)
      .groupBy(col("simhash"))
      .agg(max(when(!col("incoming"), 1).otherwise(0)).as("in_corpus"),
        max(when(col("incoming"), 1).otherwise(0)).as("in_incoming"))
    val nearFp = bandNearValues(
        fpAgg.filter(col("in_incoming") === 1).select(col("simhash")),
        fpAgg.filter(col("in_corpus") === 1).select(col("simhash")),
        maxHamming)
      .withColumn("near_flag", lit(true))
    incomingFlagged
      .join(nearFp, Seq("simhash"), "left")
      .withColumn("near", !col("exact") && coalesce(col("near_flag"), lit(false)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_incoming"),
        sum(when(col("exact"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("near"), 1L).otherwise(0L)).as("n_near_dup"),
        sum(when(!col("exact") && !col("near"), 1L).otherwise(0L))
          .as("n_admitted"),
        sum(when(!col("exact") && !col("near"), col("doc_id")).otherwise(0L))
          .as("admitted_checksum"))
  }

  /**
   * q114: Hamming-distance histogram of the near-dup pair surface — the
   * dial that sets the simhash threshold: per distance, how many banded
   * pairs exist and how many distinct documents they touch. A corpus
   * whose histogram mass sits at low distances is duplication-heavy; the
   * knee of this curve is where `maxHamming` belongs.
   *
   * Computed WITHOUT enumerating the member-level pair surface: exact
   * duplicates are collapsed by content hash first (the q74/q81/q86
   * discipline — see [[simhashDupGraph]]'s scaladoc for why banding the
   * full corpus is quadratic in duplicate multiplicity), the banded join
   * runs over UNIQUE fingerprints only, and the member-level aggregates
   * are then recovered analytically from the multiplicity table:
   *
   *  - `n_pairs` at distance h: Σ n_G·n_H over unique-fingerprint group
   *    pairs at h, plus Σ C(n_G, 2) at h = 0 (the intra-group exact pairs
   *    — identical texts share all bands, so every member pair is banded);
   *  - `n_docs_a` (docs appearing on the `doc_a = min id` side): a member
   *    d of group G is a doc_a at distance h iff some partner id exceeds
   *    it, i.e. iff d < Ta(G,h) = max over partner groups' max member id
   *    (for h = 0 the group's own max id serves — d < max(G) iff a larger
   *    co-member exists). One join of the linear membership table against
   *    the (group, hamming, Ta, Tb) threshold table counts both sides.
   *
   * Results are row-identical to the exhaustive form (pinned against
   * [[hammingHistogramExhaustive]] in PairSurfaceSpec, including a
   * 1000×-duplicated hostile doc), but candidate rows are O(unique
   * fingerprints² worst case / linear in duplicate mass) instead of
   * O(multiplicity²) — the 30–60% exact-dup rate of real web corpora
   * no longer concentrates n²/2 rows in single band groups.
   */
  def hammingHistogram(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame =
    hammingHistogramOf(
      simhashMetaOf(documentsSpread(s, d).select(col("doc_id"), col("text"))),
      maxHamming)

  /** [[hammingHistogram]] over a (doc_id, h128, simhash) fingerprint frame. */
  def hammingHistogramOf(fps: DataFrame, maxHamming: Int = 6): DataFrame = {
    import org.apache.spark.sql.GraftBridge.checkpointNoStats
    // Shared narrow tables pinned with lazy checkpoints (they materialize
    // sequentially inside perG's eager job below, so no branch ever
    // re-fingerprints the corpus).
    val live = checkpointNoStats(
      fps.filter(col("h128").isNotNull), eager = false) // null text never pairs
    // Multiplicity table — one row per distinct SIMHASH VALUE (round 10;
    // previously per distinct text): two documents share all four bands
    // and sit at Hamming 0 exactly when their fingerprints are EQUAL, so
    // every same-value member pair is an intra row and only DISTINCT
    // values need banding. Short-doc zero-bias makes same-value blocks
    // the quadratic mass of the surface — collapsing them cut the sf10
    // banded stream 130M → 18M pairs (7×) with row-identical output
    // (PairSurfaceSpec). `hh` keys the degenerate null-fingerprint rows
    // by text instead, so they never cross-pair (null bands never join)
    // while same-text exact dups still count intra at h = 0.
    val hh = when(col("simhash").isNull, col("h128"))
    val groups = checkpointNoStats(
      live.groupBy(col("simhash"), hh.as("hh"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("g"), max(col("doc_id")).as("max_id")),
      eager = false)
    // The pair stream: unique fingerprints only, each pair EXACTLY ONCE
    // (in-join first-shared-band dedup — no distinct() shuffle of the
    // stream, which is quadratic-mass on short-doc-biased corpora: the
    // sf10 soak holds 130M true pairs), with both sides' multiplicity
    // stats carried IN-ROW so no join ever touches it. The stream is
    // symmetrized by an in-row explode (still one consumer) and collapses
    // straight into the per-(group, hamming) aggregate — map-side
    // combine, ≤ groups·(maxHamming+1) output rows, which is the ONLY
    // data the stream ever sends across the network. Eager checkpoint:
    // perG feeds two branches and is tiny.
    val pairs = bandPairsOnce(
      groups.select(col("g").as("doc_id"), col("simhash"),
        col("n"), col("max_id")),
      maxHamming, carry = Seq("n", "max_id"))
    val perG = checkpointNoStats(
      pairs.select(col("hamming"), explode(array(
          struct(col("doc_a").as("g"), col("a_n").as("ng"),
            col("doc_b").as("p"), col("b_n").as("np"),
            col("b_max_id").as("pmax")),
          struct(col("doc_b").as("g"), col("b_n").as("ng"),
            col("doc_a").as("p"), col("a_n").as("np"),
            col("a_max_id").as("pmax")))).as("e"))
        .select(col("hamming"), col("e.g").as("g"), col("e.ng").as("ng"),
          col("e.p").as("p"), col("e.np").as("np"), col("e.pmax").as("pmax"))
        .groupBy(col("g"), col("hamming"))
        .agg(first(col("ng")).as("ng"), sum(col("np")).as("sum_np"),
          min(col("p")).as("tb0"), max(col("pmax")).as("ta0")),
      eager = true)
    val gn = groups.select(col("g"), col("n"), col("max_id"))
    // pair counts: every unordered pair contributes ng·np from BOTH sym
    // directions, so the per-hamming total halves exactly; intra-group
    // exact pairs add C(n,2) at h=0 (n·(n−1) pre-halving — shiftright
    // keeps the arithmetic in exact longs)
    val crossNp = perG.select(col("hamming"),
      (col("ng") * col("sum_np")).as("np2"))
    val intraNp = gn.filter(col("n") >= 2)
      .select(lit(0).as("hamming"), (col("n") * (col("n") - 1)).as("np2"))
    val pairsByH = crossNp.unionByName(intraNp)
      .groupBy(col("hamming"))
      .agg(shiftright(sum(col("np2")), 1).as("n_pairs"))
    // per-(group, hamming) partner id thresholds: Ta = max partner id
    // (doc_a side), Tb = min partner id (doc_b side; a partner group's
    // min id IS its rep); the group's own span covers the intra pairs
    val intraIds = gn.filter(col("n") >= 2)
      .select(col("g"), lit(0).as("hamming"),
        col("g").as("tb0"), col("max_id").as("ta0"))
    val thr = perG.select(col("g"), col("hamming"), col("tb0"), col("ta0"))
      .unionByName(intraIds)
      .groupBy(col("g"), col("hamming"))
      .agg(min(col("tb0")).as("tb"), max(col("ta0")).as("ta"))
    // membership (linear) × thresholds (≤ groups·(maxHamming+1)) counts
    // distinct participating docs per side without touching member pairs
    // renamed group keys — `groups` derives from `live`, so joining on
    // same-named columns would hit Spark's self-join attribute ambiguity
    val members = live
      .join(groups.select(col("simhash").as("gsim"), col("hh").as("ghh"), col("g")),
        col("simhash") <=> col("gsim") && hh <=> col("ghh"))
      .select(col("doc_id"), col("g"))
    val docsByH = members.join(thr, "g")
      .groupBy(col("hamming"))
      .agg(
        sum(when(col("doc_id") < col("ta"), 1L).otherwise(0L)).as("n_docs_a"),
        sum(when(col("doc_id") > col("tb"), 1L).otherwise(0L)).as("n_docs_b"))
    pairsByH.join(docsByH, Seq("hamming"))
      .select(col("hamming"), col("n_pairs"), col("n_docs_a"), col("n_docs_b"))
  }

  /** The pre-collapse spelling of [[hammingHistogram]] — quadratic in
    * exact-duplicate multiplicity; retained ONLY as the equivalence oracle
    * for PairSurfaceSpec. */
  private[graft] def hammingHistogramExhaustive(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame =
    hammingHistogramExhaustiveOf(
      simhashMetaOf(documentsSpread(s, d).select(col("doc_id"), col("text"))),
      maxHamming)

  /** [[hammingHistogramExhaustive]] over a (doc_id, h128, simhash) frame. */
  private[graft] def hammingHistogramExhaustiveOf(fps: DataFrame,
      maxHamming: Int = 6): DataFrame =
    bandPairs(fps.select(col("doc_id"), col("simhash")), maxHamming)
      .distinct()
      .groupBy(col("hamming"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"))

  /**
   * Cross-source duplication (leakage) matrix — the corpus-audit table
   * every multi-source training set needs: for each unordered pair of
   * sources, how many near-duplicate document pairs span them (the
   * diagonal rows are within-source duplication). Built over the
   * exhaustive [[simhashPairs]] near-dup surface; reports the pair count,
   * the distinct documents involved on each side, and the closest
   * (minimum-Hamming) pair — "src3 ships 40 docs that are near-copies of
   * src7" is exactly how benchmark contamination and inter-dump copying
   * get caught.
   *
   * Source order is normalized (src_a <= src_b, NULL sorted last) with an
   * explicit CASE — not least/greatest, whose NULL handling differs across
   * engines — so a NULL-source shard shows up as its own matrix column
   * rather than vanishing.
   *
   * 100 TB posture: the pair surface is the banded equi-join (already
   * linear in duplicate mass); attaching sources joins it twice against
   * the narrow (doc_id, source) projection — doc_id-keyed shuffles of
   * 16-byte rows, the corpus body untouched. Output is |sources|²-bounded.
   */
  def crossSourceLeakage(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame =
    // NOT spread — re-validated at BOTH bench scales (r19 + r20 VERDICT
    // item 8): unlike [[hammingHistogram]]'s entry, the matrix recompute
    // downstream dominates and the added exchange cost more than the
    // parallel fingerprinting bought at sf0.1 (1.82 s -> 2.14 s, r19)
    // AND at sf1 (4.74 s -> 5.22 s, r20 same-session min-of-3). The
    // rejection stands at scale.
    crossSourceLeakageOf(
      documents(s, d).select(col("doc_id"), col("text"), col("source")),
      maxHamming)

  /**
   * [[crossSourceLeakage]] over an arbitrary (doc_id, text, source) frame.
   *
   * Like [[hammingHistogramOf]], this never enumerates member-level pairs:
   * exact duplicates collapse by content hash, the banded join runs over
   * unique fingerprints, and the matrix cells are recovered from the
   * per-(group, source) multiplicity table `gsrc`:
   *
   *  - `n_pairs` for cell (u, v): Σ n_{G,u}·n_{H,v} over group pairs
   *    (either orientation), plus the intra-group exact-dup contributions
   *    (n_{G,u}·n_{G,v} across sources; C(n_{G,u}, 2) on the diagonal);
   *  - off-diagonal `n_docs_a/b`: orientation is decided by the SOURCE
   *    order, so every doc in (G, u) with ANY partner member in v
   *    participates — a group-level semi-join condition, docs counted as
   *    Σ n_{G,u};
   *  - diagonal cells order by doc id, so the [[hammingHistogramOf]]
   *    threshold trick applies per source: d in (G, u) is a `da` iff
   *    d < max partner id within u.
   *
   * Row-identical to the exhaustive form (PairSurfaceSpec, incl. a
   * 1000×-duplicated hostile doc); candidate volume is linear in
   * duplicate mass. Output stays |sources|²-bounded.
   */
  def crossSourceLeakageOf(docs: DataFrame, maxHamming: Int): DataFrame =
    // the fingerprint row with `source` carried in the SAME scan — the
    // [[simhashMetaOf]]-then-join spelling read the text column twice and
    // paid a doc_id shuffle join for a column the scan already had
    crossSourceLeakageFromMeta(
      docs.select(col("doc_id"),
        unhex(md5(col("text").cast("binary"))).as("h128"),
        simhashFromHashes(
          transform(array_distinct(words(col("text"))), w => mdHash60(w)))
          .as("simhash"),
        col("source")),
      maxHamming)

  /** [[crossSourceLeakageOf]] from a (doc_id, h128, simhash, source)
    * fingerprint frame — the ONLY state the matrix needs, which is what
    * makes the streaming gate incremental: fingerprinting is per-doc
    * arrival work ([[graft.streaming.StreamingCorpus.startLeakageGate]]
    * maintains exactly this table) and the matrix recompute touches
    * narrow fingerprint rows, never document text. */
  def crossSourceLeakageFromMeta(meta: DataFrame, maxHamming: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge.checkpointNoStats
    // pin the shared narrow tables once — same rationale as
    // [[hammingHistogramOf]] (several consuming branches each)
    val live = checkpointNoStats(
      meta.filter(col("h128").isNotNull), eager = false)
    // Per-(distinct SIMHASH VALUE, source) stats rolled up INTO the group
    // row as an array, so the banded join can carry them in-row (source
    // count per group is |sources|-bounded; array order is irrelevant —
    // every consumer explodes and re-aggregates). Round 10: the group
    // tier moved from distinct-text to distinct-fingerprint, the same
    // collapse as [[hammingHistogramOf]] — equal fingerprints are exactly
    // the Hamming-0 all-bands-shared mass, so same-value blocks (the
    // quadratic bulk: 130M → 18M banded pairs at sf10) become intra rows
    // and only distinct values band. `hh` quarantines null-fingerprint
    // rows by text so they never cross-pair.
    val hh = when(col("simhash").isNull, col("h128"))
    val groups = checkpointNoStats(
      live.groupBy(col("simhash"), hh.as("hh"), col("source"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("smin"), max(col("doc_id")).as("smax"))
        .groupBy(col("simhash"), col("hh"))
        .agg(min(col("smin")).as("g"),
          collect_list(struct(col("source"), col("n"),
            col("smin"), col("smax"))).as("srcs")),
      eager = false)
    val gsrc = groups.select(col("g"), explode(col("srcs")).as("e"))
      .select(col("g"), col("e.source").as("source"), col("e.n").as("n"),
        col("e.smin").as("smin"), col("e.smax").as("smax"))
    // The pair stream: unique fingerprints, each pair once (in-join
    // first-shared-band dedup), per-source stat arrays carried in-row.
    // Symmetrize + explode both sides' sources in-row, then collapse into
    // the ONE aggregate every consumer reads — per (group, doc-side
    // source u, partner-side source v, hamming): the doc side's
    // multiplicity, the summed partner multiplicity, and the partner id
    // span. Map-side combine; output ≤ groups·|sources|²·(maxHamming+1)
    // rows — the only thing the stream sends anywhere. Eager: three
    // branches read it.
    val pairs = bandPairsOnce(
      groups.select(col("g").as("doc_id"), col("simhash"), col("srcs")),
      maxHamming, carry = Seq("srcs"))
    val perGUVH = checkpointNoStats(
      pairs.select(col("hamming"), explode(array(
          struct(col("doc_a").as("g"), col("a_srcs").as("gs"),
            col("b_srcs").as("ps")),
          struct(col("doc_b").as("g"), col("b_srcs").as("gs"),
            col("a_srcs").as("ps")))).as("e"))
        .select(col("hamming"), col("e.g").as("g"),
          explode(col("e.gs")).as("gu"), col("e.ps").as("ps"))
        .select(col("hamming"), col("g"), col("gu.source").as("u"),
          col("gu.n").as("nu"), explode(col("ps")).as("pv"))
        .select(col("hamming"), col("g"), col("u"), col("nu"),
          col("pv.source").as("v"), col("pv.n").as("nv"),
          col("pv.smin").as("pvmin"), col("pv.smax").as("pvmax"))
        .groupBy(col("g"), col("u"), col("v"), col("hamming"))
        .agg(first(col("nu")).as("nu"), sum(col("nv")).as("sum_nv"),
          min(col("pvmin")).as("pvmin"), max(col("pvmax")).as("pvmax")),
      eager = true)
    // source-pair normalization: src_a <= src_b with NULL sorted last —
    // explicit CASE, not least/greatest, so both engines agree on NULLs
    def normLt(a: Column, b: Column): Column =
      a.isNotNull && (b.isNull || a < b)
    // ---- n_pairs + min_hamming per cell -------------------------------
    // cross contributions arrive from BOTH sym directions (sum halves at
    // the end); intra exact-dup contributions pre-double to match
    val uLtV = normLt(col("u"), col("v"))
    val crossCells = perGUVH.select(
      when(uLtV, col("u")).otherwise(col("v")).as("src_a"),
      when(uLtV, col("v")).otherwise(col("u")).as("src_b"),
      (col("nu") * col("sum_nv")).as("np2"),
      col("hamming"))
    val xEq = col("x.source") <=> col("y.source")
    val intraCells = gsrc.as("x")
      .join(gsrc.as("y"), col("x.g") === col("y.g"))
      .filter(normLt(col("x.source"), col("y.source")) || xEq)
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        when(xEq, col("x.n") * (col("x.n") - 1))
          .otherwise(col("x.n") * col("y.n") * 2).as("np2"),
        lit(0).as("hamming"))
      .filter(col("np2") > 0)
    val cellPairs = crossCells.unionByName(intraCells)
      .groupBy(col("src_a"), col("src_b"))
      .agg(shiftright(sum(col("np2")), 1).as("n_pairs"),
        min(col("hamming")).as("min_hamming"))
    // ---- distinct docs per cell ---------------------------------------
    // off-diagonal: doc side in u, any partner member in v, u ≠ v; the
    // partner may be a banded group (perGUVH row) or an exact-dup
    // co-member (gsrc self-pair)
    val offCross = perGUVH.select(col("g"), col("u"), col("nu"), col("v"))
    val offSelf = gsrc.as("x").join(gsrc.as("y"), col("x.g") === col("y.g"))
      .select(col("x.g").as("g"), col("x.source").as("u"),
        col("x.n").as("nu"), col("y.source").as("v"))
    val offCand = offCross.unionByName(offSelf)
      .filter(!(col("u") <=> col("v")))
      .distinct()
    val offDocs = offCand.select(
        when(uLtV, col("u")).otherwise(col("v")).as("src_a"),
        when(uLtV, col("v")).otherwise(col("u")).as("src_b"),
        when(uLtV, col("nu")).otherwise(lit(0L)).as("nda"),
        when(uLtV, lit(0L)).otherwise(col("nu")).as("ndb"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("nda")).as("n_docs_a"), sum(col("ndb")).as("n_docs_b"))
    // diagonal: same-source pairs order by doc id — per-(group, source)
    // partner id thresholds, then one membership join
    val diagThr = perGUVH
      .filter(col("u") <=> col("v"))
      .select(col("g"), col("u"), col("pvmin").as("pmin"), col("pvmax").as("pmax"))
      .unionByName(gsrc.select(col("g"), col("source").as("u"),
        col("smin").as("pmin"), col("smax").as("pmax")))
      .groupBy(col("g"), col("u"))
      .agg(min(col("pmin")).as("tb"), max(col("pmax")).as("ta"))
    val memberRows = live
      .join(groups.select(col("simhash").as("gsim"), col("hh").as("ghh"), col("g")),
        col("simhash") <=> col("gsim") && hh <=> col("ghh"))
      .select(col("doc_id"), col("g"), col("source").as("u"))
    val diagDocs = memberRows.alias("m")
      .join(diagThr.alias("t"),
        col("m.g") === col("t.g") && col("m.u") <=> col("t.u"))
      .groupBy(col("t.u"))
      .agg(
        sum(when(col("doc_id") < col("ta"), 1L).otherwise(0L)).as("n_docs_a"),
        sum(when(col("doc_id") > col("tb"), 1L).otherwise(0L)).as("n_docs_b"))
      .select(col("u").as("src_a"), col("u").as("src_b"),
        col("n_docs_a"), col("n_docs_b"))
    val docCells = offDocs.unionByName(diagDocs)
    cellPairs.alias("cp")
      .join(docCells.alias("dc"),
        col("cp.src_a") <=> col("dc.src_a") && col("cp.src_b") <=> col("dc.src_b"))
      .select(col("cp.src_a"), col("cp.src_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"), col("min_hamming"))
  }

  /**
   * q115: source-level similarity matrix from MERGEABLE MinHash union
   * sketches — "how much shingle vocabulary do two sources share?" at
   * sketch cost, the container-level complement of q101's document-pair
   * leakage matrix (q101 finds copied documents; this finds sources that
   * draw on the same underlying text mass even when no single document
   * crosses).
   *
   * The estimator rides the signature algebra: the MinHash signature of a
   * UNION of sets is the element-wise minimum of the sets' signatures, so
   * a source's sketch is `min` per permutation over its documents'
   * signatures — an associative, commutative aggregate that combines
   * map-side, shuffles |sources|·numPerm rows total, and would merge
   * incrementally in a streaming gate or across 1000 executors without
   * ever co-locating a source's documents. Matching positions / numPerm
   * then estimates J(U_a, U_b) exactly as q32/q111's per-document
   * estimator does.
   *
   * Determinism: the same md5-derived permutation family as q32
   * ([[minhashA]]/[[minhashB]], integer arithmetic mod the Mersenne
   * prime), so the sketch — and hence the estimate — is bit-identical on
   * both engines. NULL-text documents carry no shingles and drop out;
   * NULL sources form their own matrix row, normalized last. The
   * diagonal is omitted (trivially 1).
   */
  def sourceSketchSimilarity(s: SparkSession, d: String,
      numPerm: Int = 16): DataFrame =
    sourceSketchSimilarityOf(documentsSpread(s, d), numPerm)

  /** [[sourceSketchSimilarity]] over a (text, source) frame. */
  def sourceSketchSimilarityOf(docs: DataFrame, numPerm: Int): DataFrame =
    sketchMatrixOf(sourceSketchRowsOf(docs, numPerm), numPerm)

  /** The (source, p, mn) union sketch of a document frame. Min per
    * (source, p) is associative and commutative, so batch-local sketches
    * min-merge to the corpus sketch under any arrival order — this is
    * both the batch operator's aggregate and the unit the streaming gate
    * merges incrementally.
    *
    * The element-wise min is taken as numPerm SCALAR min aggregates over
    * the signature's components rather than a row-level posexplode: the
    * explode spelling dropped the signature pipeline out of whole-stage
    * codegen into the Generate (measured 10× slower at sf0.1), and
    * column-wise mins combine map-side with zero row multiplication —
    * the result pivots back to (p, mn) rows only after the aggregate, on
    * |sources| rows. */
  def sourceSketchRowsOf(docs: DataFrame, numPerm: Int): DataFrame = {
    val sigs = docs
      .filter(col("text").isNotNull)
      .withColumn("ws", words(col("text")))
      .withColumn("ngrams", ngramsFromWords(col("ws")))
      .withColumn("nh", transform(col("ngrams"), g => shingleHash(g)))
      .select(col("source"), minhashSignature(col("nh"), numPerm).as("sig"))
    val perPerm = sigs.select(Seq(col("source")) ++
      (0 until numPerm).map(p => get(col("sig"), lit(p)).as(s"s$p")): _*)
    perPerm.groupBy(col("source")).agg(
        min(col("s0")).as("s0"),
        (1 until numPerm).map(p => min(col(s"s$p")).as(s"s$p")): _*)
      .select(col("source"), posexplode(array(
        (0 until numPerm).map(p => col(s"s$p")): _*)).as(Seq("p", "mn")))
  }

  /** The pairwise estimate matrix from a (source, p, mn) sketch table —
    * shared by the batch operator and the streaming gate's recompute. */
  def sketchMatrixOf(sketch: DataFrame, numPerm: Int): DataFrame = {
    val a = sketch.select(col("source").as("src_a"), col("p"), col("mn").as("va"))
    val b = sketch.select(col("source").as("src_b"), col("p"), col("mn").as("vb"))
    a.join(b, Seq("p"))
      .filter(col("src_a").isNotNull &&
        (col("src_b").isNull || col("src_a") < col("src_b")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("n_match"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        round(col("n_match") / numPerm.toDouble, 6).as("est_jaccard"))
  }

  /**
   * q118: duplicate-cluster size histogram — the shape observable of the
   * whole dedup family: per cluster size, how many near-dup clusters
   * exist and how many documents they absorb, plus the `1` row for
   * documents untouched by any edge. The dedup ratio (what fraction of
   * the corpus a near-dup pass removes) reads directly off this table,
   * and a histogram whose mass sits in a few giant clusters is the
   * signal to inspect boilerplate/templating before trusting the graph.
   *
   * Rides [[duplicateClusters]] (exact-first contraction, O(log) rounds);
   * the histogram itself aggregates the cluster table — (doc_id, cluster)
   * rows, corpus-narrow — twice: cluster → size, then size → counts.
   * Singletons come from one count of the corpus minus the clustered
   * mass, not an anti-join scan.
   */
  def clusterSizeHistogram(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame = {
    val docs = documentsSpread(s, d).select(col("doc_id"), col("text"))
    val edges = sharedClusterEdges(s, d, maxHamming)._1
    val clusters = edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .unionByName(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id"))
        .distinct())
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
    val totals = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(clusters.agg(count(lit(1)).as("n_clustered")))
    val singletons = totals
      .filter(col("n_total") > col("n_clustered"))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    hist.unionByName(singletons)
  }

  /** The pre-collapse spelling of [[crossSourceLeakageOf]] — quadratic in
    * exact-duplicate multiplicity; retained ONLY as the equivalence oracle
    * for PairSurfaceSpec. */
  private[graft] def crossSourceLeakageExhaustiveOf(docs: DataFrame,
      maxHamming: Int): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = bandPairs(
      simhashMetaOf(docs).select(col("doc_id"), col("simhash")), maxHamming)
      .distinct()
    val j = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
    val swap = col("sb").isNotNull && (col("sa").isNull || col("sa") > col("sb"))
    j.select(
        when(swap, col("sb")).otherwise(col("sa")).as("src_a"),
        when(swap, col("sa")).otherwise(col("sb")).as("src_b"),
        when(swap, col("doc_b")).otherwise(col("doc_a")).as("da"),
        when(swap, col("doc_a")).otherwise(col("doc_b")).as("db"),
        col("hamming"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("da")).as("n_docs_a"),
        countDistinct(col("db")).as("n_docs_b"),
        min(col("hamming")).as("min_hamming"))
  }
}
