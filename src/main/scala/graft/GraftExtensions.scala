package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomFilterAgg, BloomMightContain, CmsEstimate, DotProductD, GraftFunctions, HeavyHitters, L2NormD, LangMarkerBest, MinHashLanes, NfcNormalize, NgramHashes, PolyFingerprint, SimHash64}

/** Standard Spark extension packaging: enables graft's native functions
  * in ANY session via configuration —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * — the same wiring `GraftFunctions.register` does imperatively, but
  * available to pure-SQL users and notebooks that never touch graft's
  * Scala API. Both paths register identical builders, so either (or
  * both) can be active.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** Arity-checked builder: wrong argument counts surface as a clear
    * error instead of an IndexOutOfBounds from inside resolution.
    */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.length == n,
        s"$name expects $n argument(s), got ${es.length}")
      build(es)
    }

  /** The full injection list — public so the spec can assert name-set
    * parity with `GraftFunctions.names` (the imperative path); apply()
    * iterates THIS list, so the two can't drift from each other.
    */
  val injections: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - double-precision dot product of two float arrays"),
      arity("graft_dot", 2)(es => DotProductD(es(0), es(1)))),
    (FunctionIdentifier("graft_l2norm"),
      info("graft_l2norm", "graft_l2norm(a) - Euclidean norm of a float array in double"),
      arity("graft_l2norm", 1)(es => L2NormD(es.head))),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a string array"),
      arity("graft_simhash64", 1)(es => SimHash64(es.head))),
    (FunctionIdentifier("graft_minhash_lanes"),
      info("graft_minhash_lanes", "graft_minhash_lanes(shingles) - 64 MinHash lane minima"),
      arity("graft_minhash_lanes", 1)(es => MinHashLanes(es.head))),
    (FunctionIdentifier("graft_ngram_hashes"),
      info("graft_ngram_hashes",
        "graft_ngram_hashes(tokens, n) - sorted distinct xxhash64 of the word n-grams"),
      arity("graft_ngram_hashes", 2)(es =>
        NgramHashes(es(0), GraftFunctions.foldableInt("graft_ngram_hashes n", es(1))))),
    (FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "graft_fingerprint(s) - rolling polynomial hash of a string"),
      arity("graft_fingerprint", 1)(es => PolyFingerprint(es.head))),
    (FunctionIdentifier("graft_heavy_hitters"),
      info("graft_heavy_hitters", "graft_heavy_hitters(col, capacity) - SpaceSaving top items"),
      arity("graft_heavy_hitters", 2)(es =>
        HeavyHitters(es(0), GraftFunctions.foldableCapacity(es(1)))
          .toAggregateExpression())),
    (FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg", "graft_bloom_agg(keyHash, numBits, numHashes) - bloom filter of the key hashes"),
      arity("graft_bloom_agg", 3)(es =>
        BloomFilterAgg(es(0),
          GraftFunctions.foldableInt("graft_bloom_agg numBits", es(1)),
          GraftFunctions.foldableInt("graft_bloom_agg numHashes", es(2)))
          .toAggregateExpression())),
    (FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains", "graft_bloom_contains(filter, keyHash) - bloom membership, no false negatives"),
      arity("graft_bloom_contains", 2)(es => BloomMightContain(es(0), es(1)))),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC normalization"),
      arity("graft_nfc", 1)(es => NfcNormalize(es.head))),
    (FunctionIdentifier("graft_lang_best"),
      info("graft_lang_best", "graft_lang_best(tokens) - marker-count language prediction"),
      arity("graft_lang_best", 1)(es =>
        LangMarkerBest(es.head, LangMarkerBest.DefaultMarkers))),
    (FunctionIdentifier("graft_cms_estimate"),
      info("graft_cms_estimate", "graft_cms_estimate(sketch, item) - Count-Min frequency estimate"),
      arity("graft_cms_estimate", 2)(es => CmsEstimate(es(0), es(1)))),
    (FunctionIdentifier("graft_lsh_buckets"),
      info("graft_lsh_buckets",
        "graft_lsh_buckets(vec, tables, bits, seed, dim) - sign-LSH bucket per table"),
      arity("graft_lsh_buckets", 5)(es =>
        graft.functions.LshBuckets(es.head,
          GraftFunctions.foldableInt("graft_lsh_buckets tables", es(1)),
          GraftFunctions.foldableInt("graft_lsh_buckets bits", es(2)),
          GraftFunctions.foldableLong("graft_lsh_buckets seed", es(3)),
          GraftFunctions.foldableInt("graft_lsh_buckets dim", es(4))))),
    (FunctionIdentifier("graft_entropy"),
      info("graft_entropy", "graft_entropy(s) - Shannon entropy (bits/char), milli-bit quantized"),
      arity("graft_entropy", 1)(es => graft.functions.CharEntropy(es.head))),
    (FunctionIdentifier("graft_deflate_size"),
      info("graft_deflate_size", "graft_deflate_size(s) - DEFLATE-compressed byte count (level 6)"),
      arity("graft_deflate_size", 1)(es => graft.functions.DeflateSize(es.head))),
    (FunctionIdentifier("graft_bitmap_and_count"),
      info("graft_bitmap_and_count", "graft_bitmap_and_count(a, b) - popcount of two bitmaps' AND"),
      arity("graft_bitmap_and_count", 2)(es =>
        graft.functions.BitmapAndCount(es(0), es(1)))),
    (FunctionIdentifier("graft_gramian"),
      info("graft_gramian", "graft_gramian(vec, dim) - Gramian (covariance numerator) aggregate"),
      arity("graft_gramian", 2)(es =>
        graft.functions.GramianAgg(es(0),
          GraftFunctions.foldableInt("graft_gramian dim", es(1)))
          .toAggregateExpression())),
    (FunctionIdentifier("graft_sign_pack"),
      info("graft_sign_pack", "graft_sign_pack(vec) - 1-bit sign code packed into longs"),
      arity("graft_sign_pack", 1)(es => graft.functions.SignPack(es.head))),
    (FunctionIdentifier("graft_hamming"),
      info("graft_hamming", "graft_hamming(a, b) - Hamming distance of two packed sign codes"),
      arity("graft_hamming", 2)(es => graft.functions.HammingDist(es(0), es(1)))),
    (FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-parity semantics)"),
      arity("graft_jaro_winkler", 2)(es =>
        graft.functions.JaroWinklerSim(es(0), es(1)))))

  def names: Set[String] = injections.map(_._1.funcName).toSet

  override def apply(ext: SparkSessionExtensions): Unit =
    injections.foreach(ext.injectFunction)
}
