package graft

/** The retired plan-literal quantizer folds' contract, restated in
  * plain Scala as the reference the broadcast transports are checked
  * against. Deliberately shares no code with
  * [[graft.operators.Similarity]]: a fault in the engine's scoring or
  * ordering helpers cannot cancel itself out here.
  *
  * Vectors are `Seq[Option[Double]]` (None = a null element);
  * centroids never hold nulls. Doubles order as in Spark SQL: NaN is
  * larger than every other value and equal to itself.
  */
object LiteralFold {
  type Vec = Seq[Option[Double]]

  private def sqlGt(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b

  private def sumSq(c: Seq[Double]): Double =
    c.foldLeft(0.0d)((s, x) => s + x * x)

  /** The IVF score `safeCosDiv(dot(v, c), ‖c‖)`: a zero-norm centroid
    * scores 0.0 against anything; otherwise None on a dim mismatch or
    * a null element, else the index-order dot over ‖c‖. */
  def score(v: Vec, c: Seq[Double]): Option[Double] = {
    val norm = math.sqrt(sumSq(c))
    if (norm == 0.0d) Some(0.0d)
    else if (v.length != c.length || v.exists(_.isEmpty)) None
    else Some(v.indices.foldLeft(0.0d)((s, i) => s + v(i).get * c(i)) / norm)
  }

  /** Top-`n` centroid ids by (score desc in SQL order, id asc) over the
    * centroids the vector can score. */
  def ranks(v: Vec, cents: Seq[(Long, Seq[Double])], n: Int): Seq[Long] =
    cents.flatMap { case (id, c) => score(v, c).map(s => (id, s)) }
      .sortWith { case ((ia, a), (ib, b)) =>
        sqlGt(a, b) || (!sqlGt(b, a) && ia < ib) }
      .take(n).map(_._1)

  /** The IVF list assignment: rank 1, or the -1 sentinel. */
  def assign(v: Vec, cents: Seq[(Long, Seq[Double])]): Long =
    ranks(v, cents, 1).headOption.getOrElse(-1L)

  /** The k-means assignment `(cluster, d2)`: index-order (x−c)² sums,
    * a centroid of another dimension or any null element skipped,
    * strict `<` keeping the first minimum (a NaN d2 never wins), and
    * (−1, Double.MaxValue) when nothing scores. */
  def argminD2(v: Vec, cents: Seq[Seq[Double]]): (Long, Double) =
    cents.indices.foldLeft((-1L, Double.MaxValue)) { case (best, i) =>
      val c = cents(i)
      if (c.length != v.length || v.exists(_.isEmpty)) best
      else {
        val d = c.indices.foldLeft(0.0d) { (s, j) =>
          val x = v(j).get - c(j); s + x * x }
        if (d < best._2) (i.toLong, d) else best
      }
    }

  /** The PQ `c_norm`: √ of the index-order Σx², None on a null
    * element (a NaN element gives NaN, not None). */
  def norm(v: Vec): Option[Double] =
    if (v.exists(_.isEmpty)) None
    else Some(math.sqrt(v.foldLeft(0.0d)((s, x) => s + x.get * x.get)))

  /** The residual `v − c` with `zip_with`'s padding: as long as the
    * longer side, a missing element on either side is None. */
  def residual(v: Vec, c: Seq[Double]): Vec =
    (0 until math.max(v.length, c.length)).map { i =>
      if (i < v.length && i < c.length) v(i).map(_ - c(i)) else None }

  /** The PQ codes: per subspace `s` of width `book(s).head.length`,
    * the index-order d2 of the slice against each codeword, strict
    * `<` keeping the first minimum (a NaN d2 never wins); a short
    * slice, a null element or a missing vector (None) encodes -1. */
  def pqCodes(v: Option[Vec], book: Seq[Seq[Seq[Double]]]): Seq[Int] =
    book.indices.map { s =>
      val words = book(s)
      val sub = words.head.length
      val slice = v.map(_.slice(s * sub, s * sub + sub))
        .filter(sl => sl.length == sub && !sl.exists(_.isEmpty))
      slice.fold(-1) { sl =>
        words.indices.foldLeft((-1, Double.MaxValue)) { case (best, ci) =>
          val d = sl.indices.foldLeft(0.0d) { (a, j) =>
            val x = sl(j).get - words(ci)(j); a + x * x }
          if (d < best._2) (ci, d) else best
        }._1
      }
    }
}
