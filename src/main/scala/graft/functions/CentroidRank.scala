package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The row-local rank-kernel seam of [[CentroidRanks]]: both the flat
  * K-scan ([[CentroidRankKernel]]) and the two-level hierarchy
  * ([[TwoLevelRankKernel]]) plug into the SAME codegen expression, so
  * the streaming door's transport choice is a kernel swap, never a
  * plan-shape change. */
trait RankKernel extends Serializable {
  def nCentroids: Int

  /** Top-`nProbe` placeable centroid ids, best first; shorter than
    * `nProbe` when fewer centroids are reachable for this vector. */
  def ranksOf(vec: ArrayData, nProbe: Int): Array[Long]
}

object RankKernel {
  /** ONE scoring definition for every kernel — the ArrayData twin of
    * [[graft.operators.Similarity]]'s `centScoreOrNull`
    * (safeCosDiv(dot)/norm with the denominator-first zero-norm
    * branch; invalid on dim mismatch or a null element). Fills the
    * caller's primitive arrays so the hot path never boxes. */
  private[functions] def scoreInto(vec: ArrayData,
                                   mat: Array[Array[Double]],
                                   norms: Array[Double],
                                   scores: Array[Double],
                                   valid: Array[Boolean]): Unit = {
    val n = vec.numElements()
    var k = 0
    while (k < mat.length) {
      val c = mat(k)
      if (norms(k) == 0.0d) { scores(k) = 0.0d; valid(k) = true }
      else if (c.length == n) {
        var s = 0.0d
        var ok = true
        var i = 0
        while (ok && i < n) {
          if (vec.isNullAt(i)) ok = false
          else { s += vec.getDouble(i) * c(i); i += 1 }
        }
        if (ok) { scores(k) = s / norms(k); valid(k) = true }
        else valid(k) = false
      } else valid(k) = false
      k += 1
    }
  }
}

/** Serializable top-`nProbe`-centroid kernel over a TORRENT-BROADCAST
  * quantizer — the row-local tense of the broadcast quantizer scans in
  * [[graft.operators.Similarity]]: the ingest door's semantic gate
  * must stay ROW-LOCAL (no object boundary, it composes with the one
  * allowed stateful op), so this is a native codegen expression whose
  * generated code calls ONE tight JVM method, with the quantizer
  * behind a broadcast handle that serializes as bytes-sized task
  * state.
  *
  * The kernel returns ALL probe ranks in one pass (an array of the
  * top-`nProbe` centroid ids): the door references `rank p` as a
  * `try_element_at`, so K centroids are scored ONCE per arrival, not
  * once per probe rank, and there is no in-band id sentinel — a
  * vector the quantizer cannot place yields a SHORT (possibly empty)
  * array, whose missing elements read as SQL NULL at the consumer.
  *
  * Both the interpreted `eval` and the generated code call the same
  * [[ranksOf]], so the two execution paths cannot diverge. Scoring
  * and ordering are `ivfAssignBroadcast`'s, rank by rank: same
  * index-order dot, same zero-norm-denominator-first 0.0, same SQL
  * NaN-largest ordering
  * (shared [[graft.operators.Similarity.gtSqlDouble]] — one
  * definition, not a copy), same score-desc/id-asc selection (ids
  * must arrive sorted ascending, the `ivfIndex` contract).
  */
final class CentroidRankKernel(
    bc: Broadcast[(Array[Long], Array[Array[Double]], Array[Double])])
  extends RankKernel {

  def nCentroids: Int = bc.value._1.length

  def ranksOf(vec: ArrayData, nProbe: Int): Array[Long] = {
    val (ids, mat, norms) = bc.value
    val scores = new Array[Double](ids.length)
    val valid = new Array[Boolean](ids.length)
    RankKernel.scoreInto(vec, mat, norms, scores, valid)
    // nProbe rounds of first-max selection over the id-sorted order:
    // equal scores (incl. NaN==NaN, SQL-equal) keep the smaller id
    val out = new Array[Long](nProbe)
    var found = 0
    var round = 0
    while (round < nProbe) {
      var sel = -1
      var selS = 0.0d
      var have = false
      var k = 0
      while (k < ids.length) {
        if (valid(k) && (!have ||
            graft.operators.Similarity.gtSqlDouble(scores(k), selS))) {
          sel = k; selS = scores(k); have = true
        }
        k += 1
      }
      if (sel >= 0) {
        valid(sel) = false // taken
        out(found) = ids(sel); found += 1
      }
      round += 1
    }
    if (found == nProbe) out else java.util.Arrays.copyOf(out, found)
  }
}

/** The EXTREME-K rank kernel: routes each arrival through a
  * [[graft.operators.Similarity.TwoLevelQuantizer]] behind a
  * broadcast — score the √K supers exhaustively, take the `wProbe`
  * best (first-max rounds over build order, the
  * [[graft.operators.Similarity]] `ivfAssignTwoLevel` selection),
  * then rank ONLY the probed supers' leaves. Per-arrival cost drops
  * from O(K·dim) to O((√K + wProbe·K/√K)·dim) ≈ O(wProbe·√K·dim) —
  * the IMI stance the batch assignment already ships, now available
  * to the streaming door's semantic gate.
  *
  * Semantics vs the flat [[CentroidRankKernel]]:
  *  - `wProbe` = all supers ⇒ every leaf is visible and selection is
  *    max-by (score desc, id asc), identical to the flat kernel's
  *    first-max over the id-sorted scan — FULL-PROBE PARITY, pinned
  *    by XlQuantizerSpec rank-for-rank (the explicit id tie-break is
  *    what makes the cross-group scan order immaterial).
  *  - narrow `wProbe` ⇒ leaves under an unprobed super are invisible
  *    (the documented approximation; agreement audited, wProbe the
  *    dial).
  *  - a vector that scores null against EVERY super cannot be routed
  *    and yields an EMPTY array outright, even where the flat scan
  *    would still reach a degenerate zero-norm leaf — the
  *    `ivfAssignTwoLevel` stance (the honest answer for a vector the
  *    quantizer cannot place).
  *
  * The broadcast artifact is
  * [[graft.operators.Similarity]]'s `broadcastTwoLevel` 5-tuple
  * (super matrix/norms, per-super child ids/matrix/norms — children
  * id-sorted within each super, the `twoLevelQuantizer` contract).
  */
final class TwoLevelRankKernel(
    bc: Broadcast[(Array[Array[Double]], Array[Double],
      Array[Array[Long]], Array[Array[Array[Double]]],
      Array[Array[Double]])],
    val wProbe: Int)
  extends RankKernel {

  require(wProbe >= 1 && wProbe <= bc.value._1.length,
    s"wProbe $wProbe out of range [1, ${bc.value._1.length}]")

  def nCentroids: Int = bc.value._3.iterator.map(_.length).sum

  def ranksOf(vec: ArrayData, nProbe: Int): Array[Long] = {
    val (sMat, sNorms, cIds, cMat, cNorms) = bc.value
    val nS = sMat.length
    val sScores = new Array[Double](nS)
    val sValid = new Array[Boolean](nS)
    RankKernel.scoreInto(vec, sMat, sNorms, sScores, sValid)
    // wProbe rounds of first-max over build order (supers are
    // ordinal 0..√K-1, so scan order IS id order)
    val probed = new Array[Int](wProbe)
    var nProbed = 0
    var round = 0
    while (round < wProbe) {
      var sel = -1
      var selS = 0.0d
      var have = false
      var i = 0
      while (i < nS) {
        if (sValid(i) && (!have ||
            graft.operators.Similarity.gtSqlDouble(sScores(i), selS))) {
          sel = i; selS = sScores(i); have = true
        }
        i += 1
      }
      if (sel >= 0) {
        sValid(sel) = false
        probed(nProbed) = sel; nProbed += 1
      }
      round += 1
    }
    // score the probed supers' leaves, then nProbe rounds of global
    // max-by (score desc, id asc) across the probed groups — the
    // explicit id tie-break replaces the flat kernel's reliance on
    // one id-sorted scan order, which no longer exists across groups
    val gScores = new Array[Array[Double]](nProbed)
    val gValid = new Array[Array[Boolean]](nProbed)
    var p = 0
    while (p < nProbed) {
      val mat = cMat(probed(p))
      val sc = new Array[Double](mat.length)
      val va = new Array[Boolean](mat.length)
      RankKernel.scoreInto(vec, mat, cNorms(probed(p)), sc, va)
      gScores(p) = sc; gValid(p) = va
      p += 1
    }
    val out = new Array[Long](nProbe)
    var found = 0
    round = 0
    while (round < nProbe) {
      var selP = -1
      var selJ = -1
      var selS = 0.0d
      var selId = 0L
      var have = false
      p = 0
      while (p < nProbed) {
        val ids = cIds(probed(p))
        val sc = gScores(p)
        val va = gValid(p)
        var j = 0
        while (j < sc.length) {
          if (va(j)) {
            val s = sc(j)
            if (!have ||
                graft.operators.Similarity.gtSqlDouble(s, selS) ||
                (graft.operators.Similarity.eqSqlDouble(s, selS) &&
                  ids(j) < selId)) {
              selP = p; selJ = j; selS = s; selId = ids(j); have = true
            }
          }
          j += 1
        }
        p += 1
      }
      if (have) {
        gValid(selP)(selJ) = false // taken
        out(found) = selId; found += 1
      }
      round += 1
    }
    if (found == nProbe) out else java.util.Arrays.copyOf(out, found)
  }
}

/** The expression wrapper: `graft_centroid_ranks(vec)` with the
  * kernel (and its broadcast handle) attached at construction — it
  * cannot go through the function registry (builders only receive
  * Expressions), so consumers build it via `GraftBridge.column`. See
  * [[CentroidRankKernel]] / [[TwoLevelRankKernel]] for semantics.
  * `nProbe` is validated at construction (driver plan-build time),
  * not per row. */
case class CentroidRanks(child: Expression, kernel: RankKernel,
                         nProbe: Int)
  extends UnaryExpression {

  require(nProbe >= 1 && nProbe <= kernel.nCentroids,
    s"nProbe $nProbe out of range [1, ${kernel.nCentroids}]")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_centroid_ranks requires array<double>, got $t")
    }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_centroid_ranks"

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      kernel.ranksOf(v.asInstanceOf[ArrayData], nProbe))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val kRef = ctx.addReferenceObj("graftCentroidRankKernel", kernel,
        classOf[RankKernel].getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util
         |    .GenericArrayData($kRef.ranksOf($v, $nProbe));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
