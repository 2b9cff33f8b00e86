package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** MinHash + banded LSH near-duplicate detection.
  *
  * Pipeline (each step one distributed pass, no driver-side data):
  *  1. hash: each doc's word n-grams as a sorted, distinct `array<long>`
  *     of their xxHash64 values ([[hashed]], one native pass per row via
  *     `graft_ngram_hashes`; no gram strings are built). This table is
  *     materialised once and every later step reads it.
  *  2. signature: 64 minhash lanes — lane i = min over the n-gram hashes
  *     h of `a_i·h + b_i`, all lanes folded in one map-only pass
  *     (graft.functions.MinHashLanes). The lanes over the hashes equal
  *     the lanes over the gram strings, since both hash with xxHash64
  *     seed 42.
  *  3. band: NumBands bands of LanesPerBand lanes; band hash =
  *     xxhash64 of the band's lanes.
  *  4. candidates: self-join on (band_id, band_hash) — the shuffle key is
  *     uniform hash output, so at 100 TB this join is skew-free unless
  *     a band bucket is genuinely a giant duplicate cluster (then AQE
  *     skew-join splits it).
  *  5. verify: Jaccard on candidate pairs only, over the hash sets of
  *     step 1: |A∩B| from `array_intersect` on the long arrays and
  *     |A∪B| = |A| + |B| − |A∩B|.
  *
  * Exactness of step 5. Distinct grams with equal 64-bit hashes would
  * merge and move a Jaccard. For a pair, the chance that any two of the
  * |A∪B| distinct grams collide is at most C(|A∪B|, 2) / 2⁶⁴ — about
  * 1.5·10⁻¹⁵ at |A∪B| = 240, the union of two 120-gram docs. DedupSpec
  * holds the output to a verify on the gram strings, as a set of
  * (id_a, id_b, jaccard).
  *
  * Band geometry tunes the S-curve. 16 bands × 4 lanes: P(candidate)
  * at true Jaccard s is 1-(1-s⁴)¹⁶ — ≈ 1-4·10⁻⁸ at s = 0.9, ≈ 0.988
  * at s = 0.7, ≈ 2.5% at s = 0.2. That buys near-perfect recall in the
  * near-duplicate regime (so the exact-pair SQL oracle stays valid at
  * any corpus size) at the cost of some sub-threshold candidates, all
  * discarded by exact verification. 8×8 is the cheaper-verify /
  * lower-recall alternative; both keep 64 hash lanes.
  */
object MinHashLSH {
  val NumLanes = 64
  val NumBands = 16
  val LanesPerBand: Int = NumLanes / NumBands

  /** (doc_id, shingles) with empty-shingle docs dropped: the gram
    * STRINGS, for callers that keep or compare them (MinHashIndex
    * persists them; Decontaminate joins on them). Tokenization is
    * bound to an attribute first so the shifted-slice zip_with in
    * wordNgrams (which references the token array n+1 times) consumes
    * an attribute, not a re-evaluated derived expression — the SURVEY
    * §8 higher-order-function pitfall.
    *
    * NOTE on fan-out placement: the scan-parallelism floor
    * (graft.util.Fanout) is applied by the CORPUS-scale entry points
    * ([[nearDuplicates]], [[pairRecallOn]], [[MinHashIndex.build]]),
    * NOT here — shingled is also the per-batch gateway of the probe
    * and admission loops, where an unconditional fan-out of every
    * KB-scale batch measured ~+5 s per lifecycle face (each ensure
    * plans the frame and adds an exchange for no parallelism win).
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .withColumn("graft_toks", TextOps.tokens(col(textCol)))
      .select(
        col(idCol).as("doc_id"),
        TextOps.wordNgrams(col("graft_toks"), n).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** (doc_id, hs): the same docs and grams as [[shingled]], each gram
    * as its xxhash64 — `hs` is the sorted, distinct `array<long>` of
    * `graft_ngram_hashes`. Same fan-out placement as [[shingled]].
    */
  def hashed(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"),
        call_function("graft_ngram_hashes", TextOps.tokens(col(textCol)), lit(n))
          .as("hs"))
      .filter(size(col("hs")) > 0)
  }

  /** (doc_id, lanes array<long>) minhash signatures — MAP-ONLY: all 64
    * lanes fold in one native pass per row (graft.functions
    * .MinHashLanes), so nothing shuffles until the band join. The
    * explode + 64-min-agg formulation this replaces shuffled every
    * (doc, shingle) pair — the dominant data movement of the whole
    * dedup pipeline at corpus scale. `shingleCol` holds either the
    * gram strings ([[shingled]]) or their hashes ([[hashed]]); both
    * give the same lanes.
    */
  def signatures(sh: DataFrame, shingleCol: String = "shingles"): DataFrame = {
    graft.functions.GraftFunctions.register(sh.sparkSession)
    sh.select(col("doc_id"),
      call_function("graft_minhash_lanes", col(shingleCol)).as("lanes"))
  }

  /** (doc_id, band_id, band_hash) — NumBands rows per doc, still
    * map-only (band hash = xxhash64 over the band's lanes).
    */
  def bands(sig: DataFrame): DataFrame = {
    val bandHashes = array((0 until NumBands).map { b =>
      val laneCols = (0 until LanesPerBand).map(k =>
        element_at(col("lanes"), b * LanesPerBand + k + 1))
      xxhash64(laneCols: _*)
    }: _*)
    sig.select(col("doc_id"), posexplode(bandHashes).as(Seq("band_id", "band_hash")))
  }

  /** Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket. */
  def candidates(bandDf: DataFrame): DataFrame = {
    val a = bandDf.as("a")
    val b = bandDf.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Candidates with Jaccard ≥ tau, verified on the n-gram hash sets
    * (step 5 of the object doc, with its collision bound).
    * Output: (id_a, id_b, jaccard rounded to 4).
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    // corpus-scale self-dedup: floor the scan parallelism before the
    // tokenize -> hash derivation (see shingled's note). The hash table
    // is shared by the band side and both verify sides: one tokenize
    // and hash pass per doc. The share is a lazy localCheckpoint, not
    // Dataset.persist: same in-plan block reuse, but no CacheManager
    // entry pinning the blocks for the session lifetime
    // (graft.util.Caches has the lifecycle).
    val hs = hashed(graft.util.Fanout.ensure(docs), idCol, textCol, n)
      .localCheckpoint(false)
    val cand = candidates(bands(signatures(hs, "hs")))
    val hsA = hs.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val hsB = hs.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))
    cand.join(hsA, "id_a").join(hsB, "id_b")
      .withColumn("ni", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", round(col("ni").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("ni")).cast("double"), 4))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Pair RECALL of the banded-LSH path against exact all-pairs Jaccard
    * on a deterministic 1∕`sampleMod` sample — the dedup pipeline's
    * quality gate (knn_recall's analog). The sample bounds the exact
    * side: its pair count is (n∕sampleMod)², a fixed fraction of n² the
    * operator of a 10⁹-doc corpus sets via `sampleMod`, while recall
    * measured on it estimates the corpus miss rate (a pair lands in the
    * sample iff both endpoints do — uniform over pairs). [[nearDuplicates]]
    * verifies candidates with exact Jaccard, so LSH pairs ⊆ exact pairs
    * and precision is 1 BY CONSTRUCTION; recall — the S-curve miss
    * rate — is the number to watch. One row:
    * (n_sample, n_exact, n_lsh, recall), recall NULL when the sample
    * holds no true pair.
    */
  def pairRecall(docs: DataFrame, idCol: String, textCol: String, n: Int,
      tau: Double, sampleMod: Long, seed: Long): DataFrame =
    pairRecallOn(docs.filter(
      pmod(graft.ops.ShuffleShard.hashKey(col(idCol), seed),
        lit(sampleMod)) === 0), idCol, textCol, n, tau)

  /** [[pairRecall]] with the modulus DERIVED IN-PLAN from the corpus
    * count against a constant pair budget (the emb_cos_hist
    * parameterization): sampleMod = max(1, ⌈n∕√(2·pairBudget)⌉) rides
    * a one-row broadcast aggregate, so the sampled side is
    * ~√(2·pairBudget) rows and the exact side is ≤ pairBudget pairs at
    * ANY corpus size — no operator duty to grow a knob with n. The
    * sample stays a pure function of (id, seed) given the corpus
    * count, so reruns reproduce it.
    */
  def pairRecallBudget(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, pairBudget: Long, seed: Long): DataFrame = {
    val smod = docs.agg(
      greatest(lit(1L),
        ceil(count(lit(1)).cast("double") /
          sqrt(lit(2.0 * pairBudget)))).as("graft_smod"))
    val sample = docs.crossJoin(broadcast(smod))
      .filter(pmod(graft.ops.ShuffleShard.hashKey(col(idCol), seed),
        col("graft_smod")) === 0)
      .drop("graft_smod")
    pairRecallOn(sample, idCol, textCol, n, tau)
  }

  private def pairRecallOn(sample: DataFrame, idCol: String,
      textCol: String, n: Int, tau: Double): DataFrame = {
    // exact side as a SPARSE POSTING EQUI-JOIN, not an all-pairs
    // cartesian: |A∩B| = the (id_a, id_b) pair count of the
    // shingle-hash self-join — pairs sharing NO shingle have J = 0 < τ
    // and drop out by construction, everything else is exact. Cost is
    // Σ_g df(g)² over sample shingles instead of n²·(array ops): a
    // first probe of the cartesian spelling measured 32 s at sf0.1
    // (the Jaccard predicate lands inside the nested-loop join
    // condition); this shape is sub-second. The posting join keys on
    // the same n-gram hashes nearDuplicates verifies on ([[hashed]]),
    // so it shuffles 8-byte keys, not trigram strings.
    val sh = hashed(sample, idCol, textCol, n)
      .withColumn("sz", size(col("hs")))
      .localCheckpoint(false)
    val posts = sh.select(col("doc_id"), col("sz"), explode(col("hs")).as("g"))
    val exact = posts
      .select(col("doc_id").as("id_a"), col("sz").as("sz_a"), col("g"))
      .join(posts.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("ni"))
      .withColumn("j", round(col("ni").cast("double") /
        (col("sz_a") + col("sz_b") - col("ni")).cast("double"), 4))
      .filter(col("j") >= tau)
      .select("id_a", "id_b")
    val hits = nearDuplicates(sample, idCol, textCol, n, tau)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    exact.join(hits, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_lsh"))
      .crossJoin(broadcast(sh.agg(count(lit(1)).as("n_sample"))))
      .select(col("n_sample"), col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          round(col("n_lsh").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }
}
