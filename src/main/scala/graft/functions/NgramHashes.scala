package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Sorted, distinct 64-bit hashes of a token array's word n-grams —
  * `array<long>`, in ONE per-row pass with no gram strings built.
  *
  * Each gram is the UTF-8 bytes of its n tokens joined by one space
  * (`t1 t2 t3`), hashed with xxHash64 seed 42, so the result equals
  * `array_sort(array_distinct(transform(TextOps.wordNgrams(toks, n),
  * xxhash64)))` element for element: a window holding a NULL token
  * yields no gram, as wordNgrams' `array_compact` drops it. The
  * composable form runs n−1 interpreted `zip_with` lambdas and
  * allocates every gram string; here one reused byte buffer holds the
  * window and the hashes land in a primitive long array.
  *
  * Sorted order makes the array canonical: equal gram sets give equal
  * arrays. [[MinHashLanes]] takes the array as its per-shingle hashes,
  * so a signature over it equals the one over the strings.
  */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_hashes expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    NgramHashes.compute(a.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NgramHashes.compute($a, $n);")

  override def prettyName: String = "graft_ngram_hashes"

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

object NgramHashes {
  val Seed = 42L

  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!tokens.isNullAt(i)) toks(i) = tokens.getUTF8String(i)
      i += 1
    }
    val out = new Array[Long](math.max(0, len - n + 1))
    var buf = new Array[Byte](64)
    var m = 0
    var start = 0
    while (start + n <= len) {
      var bytes = n - 1
      var k = start
      while (k < start + n && toks(k) != null) { bytes += toks(k).numBytes; k += 1 }
      if (k == start + n) {
        if (bytes > buf.length) buf = new Array[Byte](math.max(bytes, 2 * buf.length))
        var pos = 0
        k = start
        while (k < start + n) {
          if (k > start) { buf(pos) = ' '.toByte; pos += 1 }
          toks(k).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += toks(k).numBytes
          k += 1
        }
        out(m) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, bytes, Seed)
        m += 1
      }
      start += 1
    }
    java.util.Arrays.sort(out, 0, m)
    var d = 0
    i = 0
    while (i < m) {
      if (d == 0 || out(i) != out(d - 1)) { out(d) = out(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (d == out.length) out else java.util.Arrays.copyOf(out, d))
  }
}
