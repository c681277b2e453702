package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Blocked-bit-array Bloom filter kernels for membership probes at
  * corpus scale (reference semantics: the same "does this shingle
  * appear in the benchmark set" question Decontaminate.contamination
  * answers with a broadcast hash join — see that scaladoc for the
  * pipeline role). The bit array replaces the broadcast shingle SET:
  * ~`bitsPerItem` BITS per eval shingle instead of tens of bytes, so
  * a 10^8-shingle benchmark suite fits in ~200 MB where the exact
  * set would not broadcast at all.
  *
  * Layout: `m = words.length * 64` bits, m a power of two. Probes use
  * Kirsch-Mitzenmacher double hashing over ONE 64-bit input hash
  * (xxhash64 of the shingle, computed by Spark's codegen'd built-in):
  * `idx_i = (h + i * h2) & (m-1)` with `h2 = (h >>> 32) | 1` forced
  * odd so the stride is coprime to the power-of-two modulus and the k
  * probes never collapse onto one bit. Both the builder and the probe
  * expression call THESE functions, so build/probe index derivation
  * cannot drift.
  */
object BloomKernels {

  /** Smallest power of two >= max(1024, nItems * bitsPerItem), the
    * bit size for a filter over `nItems` keys. Power-of-two m makes
    * the probe a mask, and rounding UP only lowers the fp rate. */
  def pickNumBits(nItems: Long, bitsPerItem: Int): Int = {
    require(nItems >= 0 && bitsPerItem > 0,
      s"need nItems >= 0 and bitsPerItem > 0, got $nItems/$bitsPerItem")
    val want = math.max(1024L, nItems * bitsPerItem)
    require(want <= (1L << 30),
      s"bloom of $want bits exceeds the 2^30 single-array cap")
    java.lang.Long.highestOneBit(want * 2 - 1).toInt
  }

  /** Optimal probe count for the bits-per-item budget: k = b·ln2. */
  def pickK(bitsPerItem: Int): Int =
    math.max(1, math.round(bitsPerItem * math.log(2.0)).toInt)

  def set(words: Array[Long], hash: Long, k: Int): Unit = {
    val mask = (words.length.toLong << 6) - 1L
    val h2 = (hash >>> 32) | 1L
    var h = hash
    var i = 0
    while (i < k) {
      val idx = (h & mask).toInt
      words(idx >>> 6) |= (1L << (idx & 63))
      h += h2
      i += 1
    }
  }

  def test(words: Array[Long], hash: Long, k: Int): Boolean = {
    val mask = (words.length.toLong << 6) - 1L
    val h2 = (hash >>> 32) | 1L
    var h = hash
    var i = 0
    while (i < k) {
      val idx = (h & mask).toInt
      if ((words(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      h += h2
      i += 1
    }
    true
  }
}

object BloomMightContain {
  /** Function-registry builder: `graft_bloom_contains(hash, words, k)`
    * where `words` is a foldable array<bigint> literal (the filter,
    * materialized ONCE at plan time into a long[] the generated code
    * references directly) and `k` a foldable int literal. */
  def build(exprs: Seq[Expression]): BloomMightContain = {
    require(exprs.length == 3,
      "graft_bloom_contains(hash, words, k) takes 3 args")
    BloomMightContain(exprs.head, LiteralArgs.longArray(exprs(1), "words"),
      LiteralArgs.int(exprs(2), "k"))
  }
}

/** Membership probe against a plan-time-constant Bloom bit array.
  * The long[] rides into generated code via `addReferenceObj` — no
  * per-row literal decoding, no ScalaUDF boundary, and the projection
  * stays inside whole-stage codegen, so the corpus-side probe is a
  * pure map with zero shuffle and zero join. */
case class BloomMightContain(child: Expression, words: Array[Long], k: Int)
  extends UnaryExpression {

  // content equality for the Array field: the case-class default is
  // reference equality, which would make two textually identical
  // probes (projection + filter of the same audit) unequal to
  // Catalyst — silently defeating common-subexpression elimination
  // and plan-cache matching, re-running the probe per occurrence
  override def equals(other: Any): Boolean = other match {
    case BloomMightContain(c, w, kk) =>
      c == child && kk == k && java.util.Arrays.equals(w, words)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Integer.valueOf(k),
      java.lang.Integer.valueOf(java.util.Arrays.hashCode(words)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType
      if words.nonEmpty && java.lang.Long.bitCount(words.length.toLong) == 1
        && k > 0 => TypeCheckResult.TypeCheckSuccess
    case LongType => TypeCheckResult.TypeCheckFailure(
      "graft_bloom_contains requires a power-of-two word count and k > 0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains requires a bigint hash, got $t")
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def nullSafeEval(a: Any): Any =
    BloomKernels.test(words, a.asInstanceOf[Long], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.BloomKernels.test($ref, $a, $k)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
