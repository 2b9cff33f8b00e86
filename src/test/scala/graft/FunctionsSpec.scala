package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GraftFunctions, MinHashLanes, NgramHashes}
import graft.text.TextOps

class FunctionsSpec extends SparkSpec {

  test("native functions are SQL-callable after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dot,
        |  graft_l2norm(array(3.0F, 4.0F)) AS nrm,
        |  graft_simhash64(array('a', 'b')) AS sh,
        |  graft_minhash_lanes(array('a', 'b')) AS mh
      """.stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getSeq[Long](3).length === 64)
  }

  test("dot/norm match interpreted and codegen paths") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(1.0f, 0.5f, -2.0f), Array(2.0f, 4.0f, 1.0f))).toDF("a", "b")
    val got = df.select(
      call_function("graft_dot", col("a"), col("b")),
      call_function("graft_l2norm", col("a"))).head()
    assert(math.abs(got.getDouble(0) - 2.0) < 1e-12)
    assert(math.abs(got.getDouble(1) - math.sqrt(1.0 + 0.25 + 4.0)) < 1e-12)
  }

  test("GraftExtensions registers the same function set") {
    // unit-level: apply against a fresh extensions container
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    val g = new GraftExtensions()
    g.apply(ext) // must not throw; wiring is typed
    // the conf path (spark.sql.extensions) and the imperative path
    // (GraftFunctions.register) must expose the IDENTICAL name set —
    // apply() iterates the same list names reads, so this can't drift
    assert(g.names === GraftFunctions.names,
      s"extension/imperative drift: only-ext=${g.names -- GraftFunctions.names} " +
        s"only-imp=${GraftFunctions.names -- g.names}")
  }

  test("heavy hitters: exact when capacity exceeds cardinality") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val words = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val out = words.toDF("w")
      .agg(call_function("graft_heavy_hitters", col("w"), lit(10)))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ===
      Seq(("a", 5L, 0L), ("b", 3L, 0L), ("c", 1L, 0L)))
  }

  test("heavy hitters: bounded state under eviction keeps the frequent item") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // capacity 2, stream with one dominant item: it must survive with
    // cnt >= true frequency (SpaceSaving overestimates, never loses it)
    val words = (1 to 50).map(_ => "hot") ++ (1 to 10).map(i => s"cold$i")
    val out = words.toDF("w").coalesce(1)
      .agg(call_function("graft_heavy_hitters", col("w"), lit(2)))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.size === 2)
    val hot = out.find(_.getString(0) == "hot")
    assert(hot.isDefined && hot.get.getLong(1) >= 50L)
  }

  test("bloom filter: no false negatives across partition merges") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val keys = (1L to 2000L).toDF("k").repartition(8)
    val filter = keys
      .agg(call_function("graft_bloom_agg", xxhash64(col("k")), lit(65536), lit(7)))
      .head().getAs[Array[Byte]](0)
    // every inserted key must test positive, regardless of which
    // partition's partial filter it landed in before the OR-merge
    val misses = (1L to 2000L).count { k =>
      val h = spark.range(1).select(xxhash64(lit(k))).head().getLong(0)
      !graft.functions.BloomUtil.mightContain(filter, h)
    }
    assert(misses === 0, s"bloom filter produced $misses false negatives")
  }

  test("bloom filter: false-positive rate near the sized target") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val n = 5000L
    val m = graft.functions.BloomUtil.optimalNumBits(n, 0.01)
    val k = graft.functions.BloomUtil.optimalNumHashes(m, n)
    val filter = (1L to n).toDF("k")
      .agg(call_function("graft_bloom_agg", xxhash64(col("k")), lit(m), lit(k)))
      .head().getAs[Array[Byte]](0)
    // probe keys disjoint from the inserted range; xxhash64 of a long is
    // computed spark-side once, then tested against the serialized filter
    val probeHashes = (1000001L to 1010000L).toDF("k")
      .select(xxhash64(col("k"))).collect().map(_.getLong(0))
    val fp = probeHashes.count(graft.functions.BloomUtil.mightContain(filter, _))
    val rate = fp.toDouble / probeHashes.length
    assert(rate < 0.05, s"fpp $rate far above the 0.01 target")
  }

  test("bloom contains is SQL-callable and rejects junk types") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_bloom_contains(f, xxhash64(42L)) AS hit,
        |       graft_bloom_contains(f, xxhash64(-42L)) AS miss_or_fp
        |FROM (SELECT graft_bloom_agg(xxhash64(id), 4096, 5) AS f
        |      FROM range(0, 100))""".stripMargin).head()
    assert(r.getBoolean(0), "inserted key must hit")
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bloom_agg(xxhash64(id), id, 5) FROM range(10)")
        .head()
    }
    assert(err.getMessage.contains("literal"),
      s"non-foldable numBits should fail clearly, got: ${err.getMessage}")
  }

  test("minhash lanes: permutation-invariant, sensitive to content") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Array("x y z", "y z w")),
      (2L, Array("y z w", "x y z")),
      (3L, Array("totally different"))).toDF("id", "sh")
    val lanes = df.select(col("id"), call_function("graft_minhash_lanes", col("sh")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(lanes(1L) === lanes(2L), "min over a set ignores order")
    assert(lanes(1L) !== lanes(3L))
  }

  test("graft_nfc folds decomposed and composed spellings together") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301" // e + combining acute
    val ascii = "plain ascii"
    val out = Seq(composed, decomposed, ascii).toDF("t")
      .select(call_function("graft_nfc", col("t")).as("n"),
        length(col("t")).as("raw_len"))
      .collect()
    assert(out(0).getString(0) === composed)
    assert(out(1).getString(0) === composed, "NFC must compose e+U+0301")
    assert(out(1).getAs[Int]("raw_len") === 5) // inputs really differed
    assert(out(2).getString(0) === ascii)
  }

  test("count-min estimate: exact at ample width, bounded under collisions") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // zipfish counts over 60 keys
    val rows = (0 until 60).flatMap(k => Seq.fill(1 + 600 / (k + 1))(s"k$k"))
    val df = rows.toDF("k")
    val n = rows.size.toLong
    def estimates(eps: Double) = {
      val sk = df.agg(expr(s"count_min_sketch(k, ${eps}d, 0.99d, 7)").as("cms"))
      df.groupBy("k").agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(sk))
        .select(col("k"), col("exact"),
          call_function("graft_cms_estimate", col("cms"), col("k")).as("est"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    }
    // wide sketch: exact on every key
    estimates(0.0001).foreach { case (exact, est) => assert(est === exact) }
    // forced collisions (w = ceil(2/eps) = 4 cells): never underestimates,
    // stays within the eps*N overestimate bound
    estimates(0.5).foreach { case (exact, est) =>
      assert(est >= exact, "CMS must never underestimate")
      assert(est <= exact + (0.5 * n).toLong, s"est $est exceeds eps*N bound")
    }
  }

  test("bitmap and-count: popcount of the intersection, any lengths") {
    import graft.functions.BitmapAndCount
    // known bytes: 0b1111_0000 & 0b1010_1010 = 0b1010_0000 -> 2 bits
    assert(BitmapAndCount.compute(
      Array[Byte](0xF0.toByte), Array[Byte](0xAA.toByte)) === 2L)
    // disjoint
    assert(BitmapAndCount.compute(
      Array[Byte](0x0F.toByte), Array[Byte](0xF0.toByte)) === 0L)
    // mismatched lengths: bytes past the shorter operand hold no bits
    assert(BitmapAndCount.compute(
      Array[Byte](0xFF.toByte), Array[Byte](0xFF.toByte, 0xFF.toByte)) === 8L)
    assert(BitmapAndCount.compute(Array.empty[Byte],
      Array[Byte](0xFF.toByte)) === 0L)
  }

  test("bitmap and-count in-plan: self-AND = bitmap_count; exact vs distinct join") {
    GraftFunctions.register(spark)
    // two overlapping key sets built with the engine's own bitmap agg
    val r = spark.sql(
      """SELECT graft_bitmap_and_count(a.bm, a.bm) AS self_cnt,
        |       bitmap_count(a.bm) AS ref_cnt,
        |       graft_bitmap_and_count(a.bm, b.bm) AS inter_cnt
        |FROM (SELECT bitmap_construct_agg(bitmap_bit_position(id)) AS bm
        |      FROM range(1, 101)) a,
        |     (SELECT bitmap_construct_agg(bitmap_bit_position(id)) AS bm
        |      FROM range(60, 161)) b""".stripMargin).head()
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getLong(0) === 100L)
    assert(r.getLong(2) === 41L) // [60, 100] overlap
    // wrong types rejected at analysis
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bitmap_and_count(1, 2)").head()
    }
    assert(err.getMessage.toLowerCase.contains("binary"),
      s"expected a BINARY type error, got: ${err.getMessage}")
  }

  // texts for the n-gram hash specs: UTF-8 tokens, empty and blank text,
  // docs shorter than n, repeated grams, a NULL text
  private val ngramTexts = Seq(
    "Größe café naïve 日本語 テキスト слово ёж 🙂 emoji",
    "", "   ", "one", "two words", "three little words",
    "a b a b a b a b", "x x x x x x", "the cat sat on the mat the cat sat",
    null)

  /** Both evaluation paths of one expression over a bound array input:
    * `eval` (interpreted) and a generated projection (codegen).
    */
  private def bothPaths(e: Expression, in: Any): (Any, Any) = {
    val row = InternalRow(in)
    val interp = e.eval(row)
    val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    (interp, if (gen.isNullAt(0)) null else gen.getArray(0))
  }

  private def longs(a: Any): Seq[Long] =
    if (a == null) null
    else a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq

  test("graft_ngram_hashes equals sorted distinct xxhash64 over wordNgrams, " +
    "interpreted and codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = ngramTexts.toDF("t").withColumn("toks", TextOps.tokens(col("t")))
    for (n <- 1 to 4) {
      val rows = df.select(col("toks"),
        call_function("graft_ngram_hashes", col("toks"), lit(n)).as("native"),
        array_sort(array_distinct(transform(TextOps.wordNgrams(col("toks"), n),
          g => xxhash64(g)))).as("ref"))
        .collect()
      assert(rows.length === ngramTexts.length)
      rows.foreach { r =>
        val ref = Option(r.getSeq[Long](2)).map(_.toSeq).orNull
        assert(Option(r.getSeq[Long](1)).map(_.toSeq).orNull === ref,
          s"n=$n toks=${r.get(0)}")
        val toks = Option(r.getSeq[String](0)).map(ts =>
          new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])).orNull
        val (interp, gen) = bothPaths(
          NgramHashes(BoundReference(0, ArrayType(StringType), nullable = true), n), toks)
        assert(longs(interp) === ref, s"interpreted n=$n toks=${r.get(0)}")
        assert(longs(gen) === ref, s"codegen n=$n toks=${r.get(0)}")
      }
      // the fixture really covers the edge cases at this n
      val sizes = rows.flatMap(r => Option(r.getSeq[Long](2)).map(_.size))
      assert(sizes.contains(0), s"n=$n: no gram-less doc")
      val grams = rows.flatMap(r => Option(r.getSeq[String](0)).map(_.size - n + 1))
      assert(grams.zip(sizes).exists { case (g, d) => d < g }, s"n=$n: no repeated gram")
    }
  }

  test("graft_minhash_lanes over graft_ngram_hashes equals the lanes over " +
    "the gram strings") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = ngramTexts.toDF("t").withColumn("toks", TextOps.tokens(col("t")))
    for (n <- 1 to 4) {
      val rows = df.select(
        call_function("graft_minhash_lanes",
          call_function("graft_ngram_hashes", col("toks"), lit(n))).as("hashed"),
        call_function("graft_minhash_lanes",
          TextOps.wordNgrams(col("toks"), n)).as("strings"),
        call_function("graft_ngram_hashes", col("toks"), lit(n)).as("hs"))
        .collect()
      rows.foreach { r =>
        val strings = Option(r.getSeq[Long](1)).map(_.toSeq).orNull
        assert(Option(r.getSeq[Long](0)).map(_.toSeq).orNull === strings, s"n=$n")
        // the long-input branch agrees on both evaluation paths too
        val hs = Option(r.getSeq[Long](2)).map(h => new GenericArrayData(h.toArray[Any])).orNull
        val (interp, gen) = bothPaths(
          MinHashLanes(BoundReference(0, ArrayType(LongType, containsNull = false),
            nullable = true)), hs)
        assert(longs(interp) === strings, s"interpreted n=$n")
        assert(longs(gen) === strings, s"codegen n=$n")
      }
    }
  }

  test("graft_ngram_hashes is SQL-callable and rejects junk arguments") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_ngram_hashes(array('a', 'b', 'c'), 2) AS hs").head()
    assert(r.getSeq[Long](0) === Seq("a b", "b c")
      .map(g => spark.sql(s"SELECT xxhash64('$g')").head().getLong(0)).sorted)
    val nonFoldable = intercept[Exception] {
      spark.sql("SELECT graft_ngram_hashes(array('a'), cast(id AS int)) FROM range(1)").head()
    }
    assert(nonFoldable.getMessage.contains("literal"), nonFoldable.getMessage)
    val badType = intercept[Exception] {
      spark.sql("SELECT graft_ngram_hashes(array(1, 2), 1)").head()
    }
    assert(badType.getMessage.contains("array<string>"), badType.getMessage)
  }
}
