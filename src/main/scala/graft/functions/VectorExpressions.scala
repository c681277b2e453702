package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector dot product — the hot
  * kernel of every similarity query (SURVEY.md §4.2 candidate (a)).
  *
  * Compared to the `aggregate(zip_with(a, b, _*_), 0.0, _+_)` fold it
  * replaces, this generates a tight primitive loop inside whole-stage
  * codegen: no lambda-variable boxing, no intermediate product array,
  * one pass. Summation is in index order, so results are bit-identical
  * to the fold (and to the DuckDB oracle's widened-double sum) —
  * including on degenerate inputs: a length mismatch or a null element
  * yields NULL, exactly as `zip_with`'s null-padding + null-propagating
  * lambda did, so ragged or hole-y vectors stay loud instead of
  * silently scoring a prefix.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  // NULL on dim mismatch / null element, even with non-null children
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $s += $a.getDouble($i) * $b.getDouble($i);
         |    }
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The interpreted kernel, shared with the door's semantic corpus
    * gate ([[graft.streaming.SemanticSide]]): NULL on a length
    * mismatch or a null element. */
  def dotOrNull(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}

/** Native squared-L2 distance — the k-means / IVF / PQ assignment
  * kernel. Same stance as [[DotProduct]]: a tight index-order
  * primitive loop (codegen'd where the plan allows, a fast
  * `nullSafeEval` when called from inside higher-order-function
  * lambdas), bit-identical to the
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)` fold
  * it replaces and to the fused Lloyd iterate's JVM while-loop on
  * well-formed vectors — and NULL on a length mismatch or null
  * element, exactly as the fold was. NULL d2 loses every argmin
  * comparison, so the assignment folds in [[graft.operators.
  * Similarity]] surface a degenerate vector as their `cluster = -1` /
  * `code = -1` sentinel instead of silently scoring a prefix.
  */
case class SqDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sqdist requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  // NULL on dim mismatch / null element, even with non-null children
  override def nullable: Boolean = true

  override def prettyName: String = "graft_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      double $d = $a.getDouble($i) - $b.getDouble($i);
         |      $s += $d * $d;
         |    }
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Decoders for the foldable literal arguments of the registry
  * builders (plan-time constants), validated with a clear message
  * instead of a ClassCastException deep in the planner. */
private[functions] object LiteralArgs {
  def int(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be an integer literal")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  def longArray(e: Expression, what: String): Array[Long] = {
    require(e.foldable, s"$what must be a foldable array literal")
    e.eval() match {
      case a: ArrayData => a.toLongArray()
      case other => throw new IllegalArgumentException(
        s"$what must evaluate to array<bigint>, got $other")
    }
  }
}

/** Registers the engine's native functions on a session (idempotent).
  * Uses the function registry directly so it works on ANY session —
  * including the driver's — without requiring SparkSessionExtensions
  * at builder time; calls go through the public `call_function` API.
  */
object GraftFunctions {

  private def arity1(name: String)(f: Expression => Expression)
  : Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1,
      s"$name takes exactly 1 argument, got ${exprs.length}")
    f(exprs.head)
  }

  private def arity2(name: String)(
    f: (Expression, Expression) => Expression)
  : Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"$name takes exactly 2 arguments, got ${exprs.length}")
    f(exprs.head, exprs(1))
  }

  /** THE (name, impl class, builder) registry — both wiring paths
    * ([[register]] at runtime, `graft.GraftExtensions` at config
    * time) derive from this one seq, so the two can never drift (the
    * extensions path once silently lacked graft_phash64). Fixed-arity
    * builders validate the argument count up front so SQL misuse
    * fails with "takes N arguments", not an IndexOutOfBounds from
    * `exprs(1)`; the variadic builders (`MinHashBands.build` etc.)
    * carry their own checks. */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("graft_dot", classOf[DotProduct],
        arity2("graft_dot")(DotProduct(_, _))),
      ("graft_sqdist", classOf[SqDist],
        arity2("graft_sqdist")(SqDist(_, _))),
      ("graft_simhash64", classOf[SimHash64],
        arity1("graft_simhash64")(SimHash64(_))),
      ("graft_phash64", classOf[PHash64],
        arity1("graft_phash64")(PHash64(_))),
      ("graft_nfc", classOf[NfcNormalize],
        arity1("graft_nfc")(NfcNormalize(_))),
      // bands/rows arrive as foldable int literals — plan-time consts
      ("graft_minhash_bands", classOf[MinHashBands],
        MinHashBands.build _),
      ("graft_minhash_sig", classOf[MinHashSig],
        MinHashSig.build _),
      // words arrives as a foldable array<bigint> literal, decoded once
      ("graft_bloom_contains", classOf[BloomMightContain],
        BloomMightContain.build _),
      // the door's text gates: n / λ table / bloom words arrive as
      // literals, decoded once (graft.functions.TextKernels)
      ("graft_shingles", classOf[Shingles], Shingles.build _),
      ("graft_dsir_logw", classOf[DsirLogw], DsirLogw.build _),
      ("graft_bloom_count", classOf[BloomCount], BloomCount.build _),
      // the round's pair / the full merge table arrive as literals
      ("graft_bpe_merge", classOf[BpeMergePass], BpeMergePass.build _),
      ("graft_bpe_encode", classOf[BpeEncode], BpeEncode.build _))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // Guard each name individually (NOT one sentinel name for the whole
    // block): a session that registered graft_dot under an older jar
    // must still pick up functions added since. The guard also keeps
    // the per-call path quiet — register() runs on every Column
    // construction, and an unconditional createOrReplace would log a
    // "replaced a previously registered function" WARN each time.
    builders.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
