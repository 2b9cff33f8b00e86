package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registers graft's native expressions in the session's function
  * registry so they are callable from both the Column API
  * (`call_function("graft_dot", a, b)`) and plain SQL — the same way
  * Spark exposes its own builtins. Idempotent; every entry point that
  * needs a native function calls this first.
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { case Seq(a, b) => DotProductD(a, b) },
    "graft_l2norm" -> { case Seq(a) => L2NormD(a) },
    "graft_simhash64" -> { case Seq(a) => SimHash64(a) },
    "graft_minhash_lanes" -> { case Seq(a) => MinHashLanes(a) },
    "graft_ngram_hashes" -> { case Seq(a, n) =>
      NgramHashes(a, foldableInt("graft_ngram_hashes n", n)) },
    "graft_fingerprint" -> { case Seq(a) => PolyFingerprint(a) },
    "graft_heavy_hitters" -> { case Seq(a, k) =>
      HeavyHitters(a, foldableCapacity(k)).toAggregateExpression() },
    "graft_bloom_agg" -> { case Seq(a, m, k) =>
      BloomFilterAgg(a, foldableInt("graft_bloom_agg numBits", m),
        foldableInt("graft_bloom_agg numHashes", k)).toAggregateExpression() },
    "graft_bloom_contains" -> { case Seq(f, v) => BloomMightContain(f, v) },
    "graft_nfc" -> { case Seq(a) => NfcNormalize(a) },
    "graft_entropy" -> { case Seq(a) => CharEntropy(a) },
    "graft_deflate_size" -> { case Seq(a) => DeflateSize(a) },
    "graft_lang_best" -> { case Seq(a) =>
      LangMarkerBest(a, LangMarkerBest.DefaultMarkers) },
    "graft_cms_estimate" -> { case Seq(s, v) => CmsEstimate(s, v) },
    "graft_bitmap_and_count" -> { case Seq(a, b) => BitmapAndCount(a, b) },
    "graft_gramian" -> { case Seq(a, d) =>
      GramianAgg(a, foldableInt("graft_gramian dim", d)).toAggregateExpression() },
    "graft_sign_pack" -> { case Seq(a) => SignPack(a) },
    "graft_hamming" -> { case Seq(a, b) => HammingDist(a, b) },
    "graft_lsh_buckets" -> { case Seq(v, t, b, s, d) =>
      LshBuckets(v, foldableInt("graft_lsh_buckets tables", t),
        foldableInt("graft_lsh_buckets bits", b),
        foldableLong("graft_lsh_buckets seed", s),
        foldableInt("graft_lsh_buckets dim", d)) },
    "graft_jaro_winkler" -> { case Seq(a, b) => JaroWinklerSim(a, b) })

  /** Names of every imperatively-registered function — the parity
    * surface FunctionsSpec holds [[graft.GraftExtensions]] to.
    */
  def names: Set[String] = builders.map(_._1).toSet

  /** Plan-time integral arg: must be a foldable integral expression —
    * a clear error beats the ClassCastException/NPE a bare
    * `eval().asInstanceOf[Int]` throws on BIGINT literals or columns.
    */
  private[graft] def foldableInt(what: String, k: Expression): Int = {
    if (!k.foldable)
      throw new IllegalArgumentException(
        s"$what must be a literal, got a non-foldable expression: ${k.sql}")
    k.eval() match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be integral, got $other")
    }
  }

  private[graft] def foldableLong(what: String, k: Expression): Long = {
    if (!k.foldable)
      throw new IllegalArgumentException(
        s"$what must be a literal, got a non-foldable expression: ${k.sql}")
    k.eval() match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$what must be integral, got $other")
    }
  }

  private[graft] def foldableCapacity(k: Expression): Int =
    foldableInt("graft_heavy_hitters capacity", k)

  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
