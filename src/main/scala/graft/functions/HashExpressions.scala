package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}

/** Native Catalyst expressions over the one-pass hash kernels
  * (SURVEY.md §4.2 ladder rung (b): a codegen `Expression` beats a
  * Scala UDF). The ScalaUDF forms they replace forced a
  * deserialize-to-Seq[String] conversion per row AND fenced off
  * whole-stage codegen at every use; these call the kernel's
  * `ArrayData` entry point straight from generated code, keeping the
  * dedup projections inside one codegen span.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 requires array<string>, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(a: Any): Any =
    HashKernels.simhash64Data(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.HashKernels.simhash64Data($a)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Perceptual hash of a binary payload column (HashKernels.phash64):
  * the multimodal twin of [[SimHash64]] — same 64-bit fingerprint
  * shape, so the banded hamming join downstream is shared code. */
case class PHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_phash64 requires binary, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phash64"

  override def nullSafeEval(a: Any): Any =
    HashKernels.phash64(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.HashKernels.phash64($a)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object MinHashSig {
  /** Function-registry builder: `n` must be a foldable integer
    * literal (plan-time constant array width). */
  def build(exprs: Seq[Expression]): MinHashSig = {
    require(exprs.length == 2,
      "graft_minhash_sig(array<string>, n) takes 2 args")
    MinHashSig(exprs.head, LiteralArgs.int(exprs(1), "n"))
  }
}

/** Raw minhash signature (`n` independent minima) as one array —
  * the native form of the former ScalaUDF seam: same one-pass
  * `ArrayData` kernel as [[MinHashBands]], null-propagating via
  * nullSafeEval, and staying inside whole-stage codegen. */
case class MinHashSig(child: Expression, n: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      "graft_minhash_sig requires n > 0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      HashKernels.minhashData(a.asInstanceOf[ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashKernels.minhashData($a, $n))")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object MinHashBands {
  /** Function-registry builder: `bands`/`rows` must be foldable
    * integer literals — validated here with a clear message instead
    * of an asInstanceOf ClassCastException deep in the planner. */
  def build(exprs: Seq[Expression]): MinHashBands = {
    require(exprs.length == 3,
      "graft_minhash_bands(array<string>, bands, rows) takes 3 args")
    MinHashBands(exprs.head, LiteralArgs.int(exprs(1), "bands"),
      LiteralArgs.int(exprs(2), "rows"))
  }
}

/** LSH band hashes as ONE array (fed to ONE generator — see
  * HashKernels.minhashBands on why per-band projections are 8x
  * slower). `bands`/`rows` are plan-time constants.
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if bands > 0 && rows > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      "graft_minhash_bands requires bands > 0 and rows > 0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_bands requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      HashKernels.minhashBandsData(a.asInstanceOf[ArrayData], bands, rows))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashKernels.minhashBandsData($a, $bands, $rows))")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
