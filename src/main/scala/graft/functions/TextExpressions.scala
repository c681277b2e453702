package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernels for the door's row-local text gates: word
  * shingles, the DSIR hashed-gram score, and the bloom hit count.
  *
  * As column expressions these are higher-order functions (`zip_with`
  * over `slice`s, an `aggregate` fold, a `filter`), which Catalyst
  * evaluates through interpreted `eval()` even inside whole-stage
  * codegen, and whose arguments subexpression elimination cannot
  * share: each `slice(toks, …)` re-runs `split(lower(text))`, and each
  * gram runs md5 → hex string → `substring` → `conv` → `element_at`
  * interpreted. These kernels walk the token array once, straight
  * from generated code. TextKernelsSpec pins each bit-for-bit against
  * its lambda form, including null and overflow semantics.
  */
object TextKernels {

  /** Per-thread md5 state: generated code runs one row at a time per
    * task thread, so one digest and one 16-byte output buffer serve
    * every gram of every row without allocation. */
  private final class Md5Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out: Array[Byte] = new Array[Byte](16)
  }
  private val md5Scratch =
    ThreadLocal.withInitial[Md5Scratch](() => new Md5Scratch)

  private val Space = ' '.toByte

  /** Word n-grams of `toks`: element i is tokens i .. i+n-1 joined by
    * one space, null when any of them is null (the null propagation of
    * `concat`); fewer than `n` tokens give an empty array. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val m = math.max(len - (n - 1), 0)
    val ts = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!toks.isNullAt(i)) ts(i) = toks.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      var bytes = n - 1
      var j = i
      while (j < i + n && ts(j) != null) { bytes += ts(j).numBytes; j += 1 }
      if (j == i + n) {
        val buf = new Array[Byte](bytes)
        var pos = 0
        j = i
        while (j < i + n) {
          if (j > i) { buf(pos) = Space; pos += 1 }
          ts(j).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += ts(j).numBytes
          j += 1
        }
        out(i) = UTF8String.fromBytes(buf)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private def feed(md: MessageDigest, s: UTF8String): Unit =
    s.getBaseObject match {
      case a: Array[Byte] =>
        md.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
          s.numBytes)
      case _ => md.update(s.getBytes)
    }

  /** The first `hexDigits` nibbles of the finished digest, read as one
    * big-endian integer — the value of
    * `conv(substring(md5(g), 1, hexDigits), 16, 10)` without building
    * the hex string. */
  private def bucket(sc: Md5Scratch, hexDigits: Int): Int = {
    sc.md.digest(sc.out, 0, 16)
    var b = 0
    var j = 0
    while (j < hexDigits) {
      val byte = sc.out(j >> 1) & 0xff
      b = (b << 4) | (if ((j & 1) == 0) byte >>> 4 else byte & 0xf)
      j += 1
    }
    b
  }

  /** `Dsir.gramBucket` of one gram (the spec's handle on the bucket
    * derivation). */
  def gramBucket(gram: UTF8String, hexDigits: Int): Long = {
    val sc = md5Scratch.get()
    feed(sc.md, gram)
    bucket(sc, hexDigits).toLong
  }

  /** Σ λ[bucket(g)] over the unigrams then the bigrams of `toks`, in
    * that order (the order of `concat(toks, bigrams(toks))`), with the
    * fold's semantics: a null token makes the sum null from that gram
    * on, and an overflow throws ARITHMETIC_OVERFLOW when
    * `failOnOverflow` (ANSI `+`) or wraps otherwise. */
  def dsirLogw(toks: ArrayData, lambda: Array[Long], hexDigits: Int,
               failOnOverflow: Boolean): java.lang.Long = {
    val sc = md5Scratch.get()
    val len = toks.numElements()
    val ts = new Array[UTF8String](len)
    var acc = 0L
    var i = 0
    while (i < len) {
      if (toks.isNullAt(i)) return null
      ts(i) = toks.getUTF8String(i)
      feed(sc.md, ts(i))
      val lam = lambda(bucket(sc, hexDigits))
      acc = if (failOnOverflow) MathUtils.addExact(acc, lam) else acc + lam
      i += 1
    }
    i = 0
    while (i < len - 1) {
      feed(sc.md, ts(i))
      sc.md.update(Space)
      feed(sc.md, ts(i + 1))
      val lam = lambda(bucket(sc, hexDigits))
      acc = if (failOnOverflow) MathUtils.addExact(acc, lam) else acc + lam
      i += 1
    }
    acc
  }

  /** Seed of Spark's `xxhash64`; a null input hashes to it unchanged. */
  val XxSeed = 42L

  /** Elements of `arr` whose `xxhash64` passes the bloom probe. */
  def bloomCount(arr: ArrayData, words: Array[Long], k: Int): Long = {
    var c = 0L
    var i = 0
    while (i < arr.numElements()) {
      val h =
        if (arr.isNullAt(i)) XxSeed
        else XXH64.hashUTF8String(arr.getUTF8String(i), XxSeed)
      if (BloomKernels.test(words, h, k)) c += 1
      i += 1
    }
    c
  }
}

object Shingles {
  /** Function-registry builder: `graft_shingles(toks, n)`, `n` a
    * foldable integer literal. */
  def build(exprs: Seq[Expression]): Shingles = {
    require(exprs.length == 2, "graft_shingles(toks, n) takes 2 args")
    Shingles(exprs.head, LiteralArgs.int(exprs(1), "n"))
  }
}

/** Word n-gram shingles ([[TextKernels.shingles]]). The element type
  * is nullable, as a `zip_with` result's is. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if n >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires n >= 1, got $n")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires array<string>, got $t")
  }

  override def dataType: DataType = child.dataType match {
    case ArrayType(st, _) => ArrayType(st, containsNull = true)
    case _ => ArrayType(StringType, containsNull = true)
  }
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(a: Any): Any =
    TextKernels.shingles(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextKernels.shingles($a, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object DsirLogw {
  /** Function-registry builder: `graft_dsir_logw(toks, lambda,
    * hexDigits)`, `lambda` a foldable dense array<bigint> of
    * 16^hexDigits entries (decoded once into a long[]), `hexDigits` a
    * foldable integer literal. Overflow follows the session's ANSI
    * mode at analysis time, as Spark's `+` does. */
  def build(exprs: Seq[Expression]): DsirLogw = {
    require(exprs.length == 3,
      "graft_dsir_logw(toks, lambda, hexDigits) takes 3 args")
    DsirLogw(exprs.head, LiteralArgs.longArray(exprs(1), "lambda"),
      LiteralArgs.int(exprs(2), "hexDigits"),
      SQLConf.get.ansiEnabled)
  }
}

/** DSIR log-weight of a token array under a dense λ table
  * ([[TextKernels.dsirLogw]]); null for a null array or a null token. */
case class DsirLogw(child: Expression, lambda: Array[Long], hexDigits: Int,
                    failOnOverflow: Boolean) extends UnaryExpression {

  // content equality for the Array field (see BloomMightContain)
  override def equals(other: Any): Boolean = other match {
    case DsirLogw(c, l, h, f) =>
      c == child && h == hexDigits && f == failOnOverflow &&
        java.util.Arrays.equals(l, lambda)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Integer.valueOf(hexDigits),
      java.lang.Boolean.valueOf(failOnOverflow),
      java.lang.Integer.valueOf(java.util.Arrays.hashCode(lambda)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _)
      if hexDigits >= 1 && hexDigits <= 7 &&
        lambda.length.toLong == (1L << (4 * hexDigits)) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_dsir_logw requires hexDigits in [1, 7] and 16^hexDigits " +
        s"lambda entries, got $hexDigits and ${lambda.length}")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_dsir_logw requires array<string>, got $t")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dsir_logw"

  override def nullSafeEval(a: Any): Any =
    TextKernels.dsirLogw(a.asInstanceOf[ArrayData], lambda, hexDigits,
      failOnOverflow)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirLambda", lambda, "long[]")
    val boxed = ctx.freshName("logw")
    nullSafeCodeGen(ctx, ev, a =>
      s"""java.lang.Long $boxed = graft.functions.TextKernels.dsirLogw(
         |  $a, $ref, $hexDigits, $failOnOverflow);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed; }""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object BloomCount {
  /** Function-registry builder: `graft_bloom_count(arr, words, k)`,
    * the `graft_bloom_contains` literals. A null array counts as
    * `size(null)` does under the session's settings. */
  def build(exprs: Seq[Expression]): BloomCount = {
    require(exprs.length == 3,
      "graft_bloom_count(arr, words, k) takes 3 args")
    BloomCount(exprs.head, LiteralArgs.longArray(exprs(1), "words"),
      LiteralArgs.int(exprs(2), "k"), SQLConf.get.legacySizeOfNull)
  }
}

/** `size(filter(arr, x -> graft_bloom_contains(xxhash64(x), words, k)))`
  * as one loop ([[TextKernels.bloomCount]]), including `size`'s null
  * rule: a null array gives -1 under `legacySizeOfNull`, null
  * otherwise. */
case class BloomCount(child: Expression, words: Array[Long], k: Int,
                      legacySizeOfNull: Boolean) extends UnaryExpression {

  // content equality for the Array field (see BloomMightContain)
  override def equals(other: Any): Boolean = other match {
    case BloomCount(c, w, kk, l) =>
      c == child && kk == k && l == legacySizeOfNull &&
        java.util.Arrays.equals(w, words)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Integer.valueOf(k),
      java.lang.Boolean.valueOf(legacySizeOfNull),
      java.lang.Integer.valueOf(java.util.Arrays.hashCode(words)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _)
      if words.nonEmpty && java.lang.Long.bitCount(words.length.toLong) == 1
        && k > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckFailure(
      "graft_bloom_count requires a power-of-two word count and k > 0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_count requires array<string>, got $t")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = !legacySizeOfNull && child.nullable
  override def prettyName: String = "graft_bloom_count"

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) { if (legacySizeOfNull) -1L else null }
    else TextKernels.bloomCount(a.asInstanceOf[ArrayData], words, k)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    def count(a: String) =
      s"graft.functions.TextKernels.bloomCount($a, $ref, $k)"
    if (!legacySizeOfNull) defineCodeGen(ctx, ev, count)
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        long ${ev.value} = ${c.isNull} ? -1L : ${count(c.value.toString)};""",
        isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
