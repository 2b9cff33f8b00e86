package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** All MinHash lanes of a shingle set in ONE per-row pass — returns
  * `array<long>` of NumLanes minima.
  *
  * Per shingle: one xxHash64 of the bytes, then each lane applies a
  * 2-universal mix `a_i * h + b_i` (odd multipliers from a fixed seed)
  * and keeps the min. 64 multiply-adds per shingle on JIT'd longs.
  *
  * The input is either the shingle strings (`array<string>`) or their
  * hashes already taken (`array<bigint>`, e.g. [[NgramHashes]]): the
  * string hash is xxHash64 seed 42, the same as Spark's `xxhash64`, so
  * `graft_minhash_lanes(transform(s, xxhash64))` equals
  * `graft_minhash_lanes(s)` lane for lane.
  *
  * The alternative formulation — explode shingles and groupBy doc with
  * 64 min-aggregates — SHUFFLES every (doc, shingle) pair; at corpus
  * scale that shuffle dominates the whole dedup pipeline. This
  * expression makes signature computation map-only: nothing moves until
  * the (much smaller) band-bucket join.
  */
case class MinHashLanes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** True when the input holds shingle hashes, not shingle strings. */
  private def hashedInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_lanes expects array<string> or array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val hashed = hashedInput
    val mins = Array.fill(MinHashLanes.NumLanes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = if (hashed) arr.getLong(i) else {
          val s = arr.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes,
            MinHashLanes.Seed)
        }
        var l = 0
        while (l < MinHashLanes.NumLanes) {
          val v = MinHashLanes.A(l) * h + MinHashLanes.B(l)
          if (v < mins(l)) mins(l) = v
          l += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val l = ctx.freshName("l")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val xxh = classOf[XXH64].getName
      val aRef = ctx.addReferenceObj("minhashA", MinHashLanes.A, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", MinHashLanes.B, "long[]")
      val n = MinHashLanes.NumLanes
      val hash =
        if (hashedInput) s"long $h = $a.getLong($i);"
        else s"""UTF8String $s = $a.getUTF8String($i);
                |    long $h = $xxh.hashUnsafeBytes(
                |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(),
                |      ${MinHashLanes.Seed}L);""".stripMargin
      s"""
         |long[] $mins = new long[$n];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $hash
         |    for (int $l = 0; $l < $n; $l++) {
         |      long $v = $aRef[$l] * $h + $bRef[$l];
         |      if ($v < $mins[$l]) $mins[$l] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashLanes =
    copy(child = newChild)
}

object MinHashLanes {
  val NumLanes = 64
  val Seed = 42L
  // 2-universal mixers: odd multipliers + offsets from a fixed-seed PRNG
  private val rng = new scala.util.Random(Seed)
  val A: Array[Long] = Array.fill(NumLanes)(rng.nextLong() | 1L)
  val B: Array[Long] = Array.fill(NumLanes)(rng.nextLong())
}
