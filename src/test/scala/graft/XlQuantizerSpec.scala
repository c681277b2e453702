package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The quantizer transports: assignment, probe ranking, k-means
  * assignment and PQ encode with the quantizer behind a BROADCAST,
  * and the two-level hierarchy that cuts per-row routing to O(√K·dim).
  *
  * The load-bearing claim is the scoring contract at every K,
  * including the degenerate corners where engines' semantics could
  * plausibly drift: SQL's NaN-largest ordering, safeCosDiv's
  * zero-norm-centroid branch, the NULL-dot sentinel on dim mismatch /
  * null elements — pinned with explicit expected values by the
  * edge-case table and against the plain-Scala [[LiteralFold]].
  */
class XlQuantizerSpec extends SparkSpec {
  import spark.implicits._

  // two tight clusters + every degenerate shape the kernels document:
  // zero vector (id 90), NaN element (91), dim mismatch (92),
  // null element (93)
  private lazy val cands: DataFrame = {
    val base = Seq(
      Seq(1.0d, 0.02d, 0.01d, 0.0d),
      Seq(0.0d, 0.01d, 0.02d, 1.0d))
    val normal = (0 until 40).map { i =>
      val c = base(i % 2)
      (i.toLong, c.zipWithIndex.map { case (x, j) =>
        Option(x + 0.001d * ((i * 7 + j) % 5)) })
    }
    val degenerate = Seq(
      (90L, Seq(Option(0.0d), Option(0.0d), Option(0.0d), Option(0.0d))),
      (91L, Seq(Option(Double.NaN), Option(1.0d), Option(0.0d), Option(0.0d))),
      (92L, Seq(Option(1.0d), Option(2.0d), Option(3.0d))),
      (93L, Seq(Option(1.0d), None, Option(0.0d), Option(0.0d))))
    (normal ++ degenerate).toDF("c_id", "c_vec")
  }

  // id-sorted (the ivfIndex contract), with a zero-norm centroid (id 7)
  // pinning the safeCosDiv denominator-first branch
  private lazy val cents: Seq[(Long, Seq[Double])] = Seq(
    (0L, Seq(1.0d, 0.0d, 0.0d, 0.0d)),
    (1L, Seq(0.0d, 0.0d, 0.0d, 1.0d)),
    (2L, Seq(0.9d, 0.1d, 0.0d, 0.0d)),
    (3L, Seq(0.0d, 0.1d, 0.9d, 0.0d)),
    (7L, Seq(0.0d, 0.0d, 0.0d, 0.0d)))

  private def asgMap(df: DataFrame): Map[Long, Long] =
    df.select("c_id", "cent_id").as[(Long, Long)].collect().toMap

  // a frame's vectors as the plain-Scala reference reads them
  private def vecsOf(df: DataFrame, idCol: String,
      vecCol: String): Seq[(Long, LiteralFold.Vec)] =
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Option[Double]])].collect().toSeq

  private lazy val rows = vecsOf(cands, "c_id", "c_vec")

  test("ivfAssignBroadcast is bit-identical to the literal fold, " +
    "including every degenerate corner") {
    val lit = rows.map { case (id, v) => id -> LiteralFold.assign(v, cents) }
      .toMap
    val bc = asgMap(Similarity.ivfAssignBroadcast(cands, cents))
    assert(bc === lit)
    // the corners actually exercise the branches they claim to:
    // NaN is LARGEST in SQL order, so the NaN-scored row picks the
    // first centroid, not the sentinel
    assert(lit(91L) === cents.head._1)
    // dim mismatch and null element: every dot NULL except the
    // zero-norm centroid, whose safeCosDiv scores 0.0 > -Inf
    assert(lit(92L) === 7L)
    assert(lit(93L) === 7L)
    // zero VECTOR is well-formed: scores 0.0 everywhere, first max wins
    assert(lit(90L) === 0L)
  }

  test("broadcast assignment plans as one map-only projection whose " +
    "size does not grow with K") {
    def planOf(k: Int): String = {
      val cs = (0 until k).map(i =>
        (i.toLong, Seq(i * 1.0d, 1.0d, 0.0d, 0.0d)))
      Similarity.ivfAssignBroadcast(cands, cs)
        .queryExecution.executedPlan.toString
    }
    val p50 = planOf(50)
    val p500 = planOf(500)
    assert(!p50.contains("Exchange") && !p50.contains("Join"))
    // the quantizer is NOT in the plan: 10x the centroids, same plan
    assert(math.abs(p500.length - p50.length) < 100,
      s"plan grew with K: ${p50.length} -> ${p500.length}")
  }

  test("ivfIndex auto-dispatches past LiteralQuantizerMax and stays " +
    "bit-identical to the literal assignment") {
    // 64 was the retired plan-literal assignment's size limit: the
    // index build must keep the literal fold's contract past it
    val n = 64 + 104 // rows > K > 64
    val big = (0 until n).map { i =>
      (i.toLong, Seq(Option((i % 97) * 1.0d), Option(((i * 31) % 89) * 1.0d),
        Option(1.0d), Option((i % 7) * 1.0d)))
    }.toDF("c_id", "c_vec")
    val k = 64 + 54
    val idx = Similarity.ivfIndex(
      big.withColumn("c_vec", col("c_vec").cast("array<float>")),
      "c_id", "c_vec", nCentroids = k, persistIndex = false)
    assert(idx.cents.size === k)
    val viaIndex = asgMap(idx.assigned)
    val viaLiteral = vecsOf(big, "c_id", "c_vec").map { case (id, v) =>
      id -> LiteralFold.assign(v, idx.cents) }.toMap
    assert(viaIndex === viaLiteral)
  }

  test("assignBroadcastD2 is bit-identical to the d2 literal fold " +
    "(the kmeans assignment), and assignToCentroids dispatches past " +
    "the boundary") {
    val v = cands.select(col("c_id").as("id"), col("c_vec").as("v"))
    def m(df: DataFrame) = df.collect().map { r =>
      (r.getLong(r.fieldIndex("id")),
        r.getLong(r.fieldIndex("cluster")),
        java.lang.Double.doubleToLongBits(
          r.getDouble(r.fieldIndex("d2"))))
    }.toSet
    def ref(cs: Seq[Seq[Double]]) = rows.map { case (id, x) =>
      val (c, d) = LiteralFold.argminD2(x, cs)
      (id, c, java.lang.Double.doubleToLongBits(d))
    }.toSet
    // d2 semantics differ from the cosine fold on purpose: NaN d2
    // never beats MaxValue, and the zero-norm centroid is ordinary —
    // the degenerate rows (91/92/93) land on (-1, MaxValue)
    val cs: Seq[Seq[Double]] = cents.map(_._2)
    val lit = ref(cs)
    assert(m(Similarity.assignBroadcastD2(v, cs)) === lit)
    assert(lit.exists(t => t._2 == -1L)) // degenerate rows present
    // past 64 centroids (the retired literal fold's limit) the public
    // entry stays row-identical to the literal fold's contract
    val bigCs: Seq[Seq[Double]] = (0 until 64 + 6).map(i =>
      Seq(i * 1.0d, 1.0d, (i % 9) * 0.5d, 0.0d))
    val viaPublic = m(Similarity.assignToCentroids(
      cands.select(col("c_id"), col("c_vec").as("embedding")),
      "c_id", "embedding", bigCs))
    assert(viaPublic === ref(bigCs))
  }

  test("twoLevelQuantizer partitions the centroid set exactly") {
    val cs = (0 until 25).map { i =>
      (i.toLong, Seq((i % 5) * 1.0d, (i / 5) * 1.0d, 1.0d, 0.0d)) }
    val tlq = Similarity.twoLevelQuantizer(cs)
    assert(tlq.supers.size === 5) // ceil(sqrt(25))
    val childIds = tlq.children.values.flatten.map(_._1).toSeq
    assert(childIds.size === 25)
    assert(childIds.toSet === cs.map(_._1).toSet)
    assert(tlq.nCentroids === 25)
  }

  test("two-level assignment with wProbe = all supers equals the " +
    "exact assignment; narrow wProbe clears the agreement floor") {
    val tlq = Similarity.twoLevelQuantizer(cents)
    val exact = asgMap(Similarity.ivfAssignBroadcast(cands, cents))
    val all = asgMap(Similarity.ivfAssignTwoLevel(
      cands, tlq, wProbe = tlq.supers.size))
    // routable rows: full-probe two-level == exact. The dim-mismatch
    // and null-element rows (92, 93) score null against EVERY super
    // and get the -1 sentinel (scaladoc-documented divergence: the
    // flat scan can still reach the zero-norm leaf, scored 0.0 by
    // safeCosDiv's denominator-first branch)
    assert(all.filter(_._1 < 92L) === exact.filter(_._1 < 92L))
    assert(all(92L) === -1L && all(93L) === -1L)
    assert(exact(92L) === 7L && exact(93L) === 7L)
    val narrow = asgMap(Similarity.ivfAssignTwoLevel(cands, tlq,
      wProbe = math.min(2, tlq.supers.size)))
    val wellFormed = exact.keySet.filter(_ < 90L)
    val agree = wellFormed.count(id => narrow(id) == exact(id))
    assert(agree.toDouble / wellFormed.size >= 0.9,
      s"two-level agreement $agree/${wellFormed.size} below floor")
  }

  // m=2 subspaces of dim 2 over the dim-4 fixture, ksub=3
  private lazy val book: Array[Array[Seq[Double]]] = Array(
    Array(Seq(0.0d, 0.0d), Seq(1.0d, 0.0d), Seq(0.5d, 0.5d)),
    Array(Seq(0.0d, 1.0d), Seq(0.02d, 0.01d), Seq(0.5d, 0.5d)))

  private def encSet(df: DataFrame) = df.collect().map { r =>
    val nrm = if (r.isNullAt(r.fieldIndex("c_norm"))) None
      else Some(java.lang.Double.doubleToLongBits(
        r.getDouble(r.fieldIndex("c_norm"))))
    (r.getLong(0), r.getSeq[Int](r.fieldIndex("codes")).toList, nrm)
  }.toSet

  // encSet's shape from the plain-Scala reference: `enc` picks the
  // vector each row encodes (None: a missed residual centroid)
  private def encRef(vs: Seq[(Long, LiteralFold.Vec)],
      bk: Array[Array[Seq[Double]]])(
      enc: LiteralFold.Vec => Option[LiteralFold.Vec]) =
    vs.map { case (id, v) =>
      (id, LiteralFold.pqCodes(enc(v), bk.map(_.toSeq).toSeq).toList,
        LiteralFold.norm(v).map(java.lang.Double.doubleToLongBits))
    }.toSet

  test("pqEncodeBroadcast is bit-identical to the literal fold, " +
    "including every degenerate corner") {
    val lit = encRef(rows, book)(Some(_))
    val bc = encSet(Similarity.pqEncode(cands, "c_id", "c_vec", book))
    assert(bc === lit)
    val byId = lit.map(t => (t._1, (t._2, t._3))).toMap
    // short vector (92): sub 0 encodes, sub 1 overhangs -> -1; its
    // norm is over its OWN 3 elements (dot(v,v) never mismatches)
    assert(byId(92L)._1(1) === -1 && byId(92L)._1(0) >= 0)
    assert(byId(92L)._2.isDefined)
    // null element at index 1 (93): sub 0 nulls out -> -1, sub 1
    // encodes; norm is null
    assert(byId(93L)._1 === List(-1, byId(93L)._1(1)) &&
      byId(93L)._1(1) >= 0)
    assert(byId(93L)._2.isEmpty)
    // NaN element (91): NaN d2 never beats MaxValue -> sub 0 = -1;
    // norm is NaN (a real bits value, not null)
    assert(byId(91L)._1(0) === -1)
    assert(byId(91L)._2 === Some(
      java.lang.Double.doubleToLongBits(Double.NaN)))
  }

  test("composed IVF+PQ encode parity: literal == broadcast for raw " +
    "AND residual codes (including the missed-centroid sentinel)") {
    def ref(cs: Seq[(Long, Seq[Double])], residual: Boolean) =
      encRef(rows, book) { v =>
        if (!residual) Some(v)
        else cs.find(_._1 == LiteralFold.assign(v, cs))
          .map(c => LiteralFold.residual(v, c._2))
      }
    val assigned = Similarity.ivfAssignBroadcast(cands, cents)
    for (residual <- Seq(false, true)) {
      val bc = encSet(Similarity.ivfPqEncodeAssigned(
        assigned, cents, book, residual))
      assert(bc === ref(cents, residual), s"residual=$residual")
    }
    // row 92 (len 3) was assigned to the zero-norm centroid (id 7),
    // so its residual zip_with-pads to [v0-0, v1-0, v2-0, null]:
    // sub 0 encodes, sub 1 nulls out -> -1 (this pins the actual
    // padding semantics)
    val res = Similarity.ivfPqEncodeAssigned(
      assigned, cents, book, residual = true)
    val m92 = res.filter(col("c_id") === 92L)
      .select("codes").collect().head.getSeq[Int](0)
    assert(m92(0) >= 0 && m92(1) === -1)
    // a TRUE missed centroid (cent_id = -1, only reachable without
    // the zero-norm centroid): null residual -> all codes -1
    val centsNoZero = cents.filter(_._1 != 7L)
    val asg2 = Similarity.ivfAssignBroadcast(cands, centsNoZero)
    assert(asg2.filter(col("c_id") === 92L)
      .select("cent_id").head().getLong(0) === -1L)
    val bc2 = encSet(Similarity.ivfPqEncodeAssigned(
      asg2, centsNoZero, book, residual = true))
    val lit2 = ref(centsNoZero, residual = true)
    assert(bc2 === lit2)
    assert(lit2.find(_._1 == 92L).get._2 === List(-1, -1))
  }

  test("pqIndex auto-dispatches past CodebookLiteralMax and stays " +
    "bit-identical to the literal encode") {
    val corpus = cands.filter(col("c_id") < 90L)
      .select(col("c_id").as("vec_id"),
        col("c_vec").cast("array<float>").as("embedding"))
    // m=4, ksub=32 -> 128 words, past 64 (the retired literal
    // encode's codebook limit)
    val idx = Similarity.pqIndex(corpus, "vec_id", "embedding",
      m = 4, ksub = 32, persistIndex = false)
    assert(idx.codebook.length * idx.codebook(0).length > 64)
    val viaIndex = encSet(idx.encoded)
    val viaLiteral = encRef(vecsOf(corpus, "vec_id", "embedding"),
      idx.codebook)(Some(_))
    assert(viaIndex === viaLiteral)
  }

  test("native centroid-rank kernel matches the literal fold for " +
    "every rank on placeable vectors (incl. NaN and zero), NULL on " +
    "unplaceable ones") {
    import org.apache.spark.sql.graftbridge.GraftBridge
    def kernelOf(cs: Seq[(Long, Seq[Double])]) =
      new graft.functions.CentroidRankKernel(
        spark.sparkContext.broadcast((cs.map(_._1).toArray,
          cs.map(_._2.toArray).toArray,
          cs.map(c => math.sqrt(
            c._2.foldLeft(0.0d)((a, x) => a + x * x))).toArray)))
    // the kernel scores once and returns ALL ranks; compare each
    // array slot against the literal fold's per-rank order.
    // rows 90 (zero) and 91 (NaN element) ARE placeable: zero scores
    // 0.0 everywhere, NaN rides SQL's NaN-largest order in BOTH forms
    val placeable = cands.filter(col("c_id") < 92L)
    val natAll = placeable.withColumn("rs",
        GraftBridge.column(graft.functions.CentroidRanks(
          GraftBridge.expression(col("c_vec")), kernelOf(cents), cents.size)))
    val litAll = rows.filter(_._1 < 92L).map { case (id, v) =>
      id -> LiteralFold.ranks(v, cents, cents.size) }.toMap
    for (rank <- 1 to cents.size) {
      val nat = natAll
        .select(col("c_id"), try_element_at(col("rs"), lit(rank)))
        .as[(Long, Long)].collect().toMap
      assert(nat === litAll.map { case (id, r) => id -> r(rank - 1) },
        s"rank=$rank")
    }
    // dim mismatch (92) and null element (93) score null against
    // every centroid except the zero-norm one... which scores 0.0 —
    // so they ARE placeable onto it; drop it and they become truly
    // unplaceable: the kernel yields an EMPTY array (ranks read NULL)
    val un = cands.filter(col("c_id") >= 92L).withColumn("rs",
      GraftBridge.column(graft.functions.CentroidRanks(
        GraftBridge.expression(col("c_vec")),
        kernelOf(cents.filter(_._1 != 7L)), 1)))
    assert(un.count() === 2)
    assert(un.filter(size(col("rs")) > 0).count() === 0)
    assert(un.filter(
      try_element_at(col("rs"), lit(1)).isNotNull).count() === 0)
  }

  test("two-level rank kernel: full wProbe is rank-for-rank the flat " +
    "kernel; rank 1 is the two-level assignment; narrow wProbe clears " +
    "the agreement floor; an unroutable vector yields an empty array") {
    // kernel vs kernel, the pairing the streaming door dispatches
    // between. No zero-norm centroid (third coord pinned 1.0), so no super can
    // be zero-norm either: rows 92/93 are unroutable by construction.
    val k = 80
    val bigCents: Seq[(Long, Seq[Double])] = (0 until k).map(i =>
      (i.toLong, Seq((i % 19) * 1.0d, ((i * 13) % 23) * 1.0d, 1.0d,
        (i % 7) * 1.0d)))
    val tlq = Similarity.twoLevelQuantizer(bigCents)
    assert(tlq.nCentroids === k && tlq.supers.size < k)
    val np = 5
    def ranksOf(c: org.apache.spark.sql.Column): Map[Long, Seq[Long]] =
      cands.withColumn("rs", c).select(col("c_id"), col("rs"))
        .as[(Long, Seq[Long])].collect().toMap
    val flat = ranksOf(
      Similarity.centroidRanks(col("c_vec"), bigCents, np))
    val full = ranksOf(Similarity.centroidRanksTwoLevel(
      col("c_vec"), tlq, np, wProbe = tlq.supers.size))
    // every leaf visible + explicit (score desc, id asc) tie-break ==
    // the flat first-max over the id-sorted scan — for EVERY row,
    // including zero (90) and NaN (91); 92/93 are empty in BOTH forms
    // here (no zero-norm leaf to catch them)
    assert(full === flat)
    assert(flat(92L).isEmpty && flat(93L).isEmpty)
    assert(flat(90L).nonEmpty && flat(91L).nonEmpty)
    // rank 1 at the same narrow wProbe IS the two-level assignment
    // (same super selection, same global max over probed leaves) —
    // the kernel and the mapPartitions transport cannot diverge
    val asg = asgMap(Similarity.ivfAssignTwoLevel(cands, tlq, wProbe = 2))
    val narrow = ranksOf(Similarity.centroidRanksTwoLevel(
      col("c_vec"), tlq, np, wProbe = 2))
    cands.select("c_id").as[Long].collect().foreach { id =>
      val want = asg(id)
      if (want == -1L) assert(narrow(id).isEmpty, s"row $id")
      else assert(narrow(id).head === want, s"row $id")
    }
    // narrow-wProbe recall: rank-1 agreement with the flat kernel on
    // well-formed rows clears the same floor the assignment audit uses
    val wellFormed = flat.keySet.filter(_ < 90L)
    val agree = wellFormed.count(id => narrow(id).head == flat(id).head)
    assert(agree.toDouble / wellFormed.size >= 0.9,
      s"two-level rank-1 agreement $agree/${wellFormed.size} below floor")
    // the documented divergence, pinned on the SMALL fixture (whose
    // zero-norm centroid id 7 catches otherwise-unplaceable vectors):
    // the flat scan still reaches the zero-norm leaf, the hierarchy
    // cannot route a vector no super can score
    val tlqSmall = Similarity.twoLevelQuantizer(cents)
    val small = cands.filter(col("c_id") >= 92L)
      .withColumn("rs", Similarity.centroidRanksTwoLevel(
        col("c_vec"), tlqSmall, 1, wProbe = tlqSmall.supers.size))
      .select(col("c_id"), col("rs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(small(92L).isEmpty && small(93L).isEmpty)
    val smallFlat = cands.filter(col("c_id") >= 92L)
      .withColumn("rs", Similarity.centroidRanks(col("c_vec"), cents, 1))
      .select(col("c_id"), col("rs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(smallFlat(92L) === Seq(7L) && smallFlat(93L) === Seq(7L))
  }

  private def key(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("q_id", "rank", "c_id").as[(Long, Int, Long)].collect().toSet

  // The window form's results as the reference, one query at a time:
  // the query's top-`nProbe` lists in the window form's order
  // (LiteralFold.ranks: score desc, cent_id asc) are the only lists
  // left in the index, and probing every list of that index returns
  // exactly what a probe of those lists must return.
  private def viaWindowLists(queries: DataFrame,
      cents: Seq[(Long, Seq[Double])], nProbe: Int)(
      probeAll: (Seq[Long], DataFrame) => DataFrame): Set[(Long, Int, Long)] =
    queries.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Option[Double]])].collect().toSeq.flatMap {
        case (id, v) => key(probeAll(LiteralFold.ranks(v, cents, nProbe),
          queries.filter(col("vec_id") === id)))
      }.toSet

  private def ivfPqWindow(idx: Similarity.IvfPqIndex, queries: DataFrame,
      corpus: DataFrame, nProbe: Int): Set[(Long, Int, Long)] =
    viaWindowLists(queries, idx.cents, nProbe) { (lists, q) =>
      Similarity.ivfPqTopKWith(
        idx.copy(encoded = idx.encoded.filter(col("cent_id").isin(lists: _*))),
        q, corpus, "vec_id", "embedding", k = 3,
        nProbe = idx.cents.size, rerank = 8)
    }

  test("IVF+PQ coarse probe: XL transport returns exactly the " +
    "window form's results, raw AND residual") {
    val corpus = cands.filter(col("c_id") < 90L)
      .select(col("c_id").as("vec_id"),
        col("c_vec").cast("array<float>").as("embedding"))
    val queries = corpus.filter(col("vec_id") < 6L)
    for (residual <- Seq(false, true)) {
      val idx = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
        nCentroids = 4, m = 2, ksub = 4, residual = residual,
        persistIndex = false)
      val xl = key(Similarity.ivfPqTopKWith(idx, queries, corpus,
        "vec_id", "embedding", k = 3, nProbe = 2, rerank = 8))
      assert(xl === ivfPqWindow(idx, queries, corpus, 2),
        s"residual=$residual")
      assert(xl.nonEmpty)
    }
  }

  test("IVF+PQ coarse probe ABOVE the literal boundary: the kernel " +
    "transport (the branch production actually dispatches to) matches " +
    "the window form, and nProbe > nCentroids clamps instead of " +
    "throwing") {
    // 72 hash-sampled centroids: past 64, the size where the retired
    // plan-literal probe used to hand over to the kernel
    val n = 160
    val big = (0 until n).map { i =>
      (i.toLong, Seq((i % 97).toFloat, ((i * 31) % 89).toFloat,
        1.0f, (i % 7).toFloat))
    }.toDF("vec_id", "embedding")
    val k = 72
    val queries = big.filter(col("vec_id") < 6L)
    for (residual <- Seq(false, true)) {
      val idx = Similarity.ivfPqIndex(big, "vec_id", "embedding",
        nCentroids = k, m = 2, ksub = 4, residual = residual,
        persistIndex = false)
      assert(idx.cents.size === k)
      val xl = key(Similarity.ivfPqTopKWith(idx, queries, big,
        "vec_id", "embedding", k = 3, nProbe = 3, rerank = 8))
      assert(xl === ivfPqWindow(idx, queries, big, 3), s"residual=$residual")
      assert(xl.nonEmpty)
      // nProbe past the centroid count probes every list, like the
      // window form's `rn <= nProbe` — no throw
      val all = key(Similarity.ivfPqTopKWith(idx, queries, big,
        "vec_id", "embedding", k = 3, nProbe = idx.cents.size + 50,
        rerank = 8))
      assert(all === ivfPqWindow(idx, queries, big, idx.cents.size),
        s"residual=$residual clamp")
    }
  }

  test("ivfTopKWith probes exactly the window form's lists " +
    "(including a zero-norm query); ivfTopKHier at full wProbe " +
    "matches it, and a stale hierarchy is rejected") {
    val corpus = cands.filter(col("c_id") < 90L)
      .select(col("c_id").as("vec_id"),
        col("c_vec").cast("array<float>").as("embedding"))
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, persistIndex = false)
    val queries = corpus.filter(col("vec_id") < 6L)
      .unionByName(Seq((99L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"))
    val got = key(Similarity.ivfTopKWith(idx, queries,
      "vec_id", "embedding", k = 3, nProbe = 2))
    val window = viaWindowLists(queries, idx.cents, 2) { (lists, q) =>
      Similarity.ivfTopKWith(
        idx.copy(assigned = idx.assigned.filter(col("cent_id").isin(lists: _*))),
        q, "vec_id", "embedding", k = 3, nProbe = idx.cents.size)
    }
    assert(got === window)
    assert(got.exists(_._1 == 99L), "the zero-norm query probes too")
    // the batch query stage's hierarchical twin: full wProbe routes
    // every leaf — result-identical to the flat probe (incl. the
    // zero-norm query, whose all-0.0 scores rank id-ascending in
    // both transports)
    val tlq = Similarity.twoLevelQuantizer(idx.cents)
    val hier = key(Similarity.ivfTopKHier(idx, queries,
      "vec_id", "embedding", k = 3, tlq,
      nProbe = 2, wProbe = tlq.supers.size))
    assert(hier === got)
    // same-count/same-ids/stale-VECTORS hierarchy: rejected by the
    // shared vector-compare guard, not silently mis-routed
    val stale = Similarity.twoLevelQuantizer(
      idx.cents.map { case (id, v) => (id, v.map(_ + 0.25d)) })
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKHier(idx, queries, "vec_id", "embedding",
        k = 3, stale, nProbe = 2, wProbe = 1)
    }
    assert(e.getMessage.contains("stale hierarchy"))
    // a NaN-component centroid set must be ACCEPTED by the guard when
    // the hierarchy's leaves ARE those centroids: the compare is SQL
    // equality (NaN == NaN), not JVM Seq ==. twoLevelQuantizer itself
    // refuses NaN centroids (its own super-assignment require — NaN
    // d2 never beats the MaxValue seed), so the hierarchy is
    // hand-built here; the guard keeps ONE equality definition either
    // way instead of silently adopting the JVM's
    val nanCents = Seq((0L, Seq(1.0d, 0.0d, 0.0d, 0.0d)),
      (1L, Seq(Double.NaN, 1.0d, 0.0d, 0.0d)),
      (2L, Seq(0.0d, 0.0d, 1.0d, 0.0d)))
    intercept[IllegalArgumentException] {
      Similarity.twoLevelQuantizer(nanCents) // the builder refuses NaN
    }
    val tlqNan = Similarity.TwoLevelQuantizer(
      supers = Seq((0L, Seq(0.5d, 0.5d, 0.5d, 0.0d))),
      children = Map(0L -> nanCents))
    Similarity.requireHierOver(tlqNan, nanCents) // must not throw
  }

  test("quantizer edge cases: explicit expected values at K <= 64 and " +
    "K > 64 for assignment, probe ranks, k-means, PQ encode and probe") {
    import graft.operators.Similarity.{IvfIndex => _, _}
    // the shared fixture plus an exact tie: (1,0,0,1) scores 1.0
    // against both centroid 0 and centroid 1
    val edge = cands.unionByName(Seq((94L, Seq(Option(1.0d), Option(0.0d),
      Option(0.0d), Option(1.0d)))).toDF("c_id", "c_vec"))
    // K > 64: the same centroids plus 66 filler centroids pointing away
    // from every fixture vector (ids after the real ones, so the scan
    // order and every expected value stay the same)
    def widen(cs: Seq[(Long, Seq[Double])]) = cs ++ (0 until 66).map(i =>
      (100L + i, Seq(-1.0d - 0.01d * i, -1.0d, -1.0d, -1.0d)))
    // k-means centroids by position: a dim-3 centroid at index 0 that
    // would win row 0 if truncated, then three dim-4 ones
    val d2Small: Seq[Seq[Double]] = Seq(Seq(1.0d, 0.0d, 0.0d),
      Seq(1.0d, 0.0d, 0.0d, 0.0d), Seq(0.0d, 0.0d, 0.0d, 1.0d),
      Seq(0.0d, 1.0d, 0.0d, 0.0d))
    val d2Big = d2Small ++ (0 until 67).map(i =>
      Seq(100.0d + i, 100.0d, 100.0d, 100.0d))
    // PQ: 2 subspaces x 3 words, widened to 2 x 36 = 72 words
    def widenBook(b: Array[Array[Seq[Double]]]) = b.map(ws =>
      ws ++ (0 until 33).map(i => Seq(100.0d + i, 100.0d + i)))
    val noZero = cents.filter(_._1 != 7L)
    val regimes = Seq(
      ("K<=64", cents, noZero, d2Small, book),
      ("K>64", widen(cents), widen(noZero), d2Big, widenBook(book)))
    regimes.foreach { case (regime, cs, csNz, d2cs, bk) =>
      assert((regime == "K>64") == (cs.size > 64 && csNz.size > 64 &&
        d2cs.size > 64 && bk.map(_.length).sum > 64), regime)
      def assign(q: Seq[(Long, Seq[Double])]) =
        asgMap(ivfAssignBroadcast(edge, q))
      def ranks(q: Seq[(Long, Seq[Double])]) =
        edge.select(col("c_id"), centroidRanks(col("c_vec"), q, 3))
          .as[(Long, Seq[Long])].collect().toMap
      val d2 = assignToCentroids(edge, "c_id", "c_vec", d2cs)
        .select("id", "cluster").as[(Long, Long)].collect().toMap
      def codes(df: DataFrame) = df.select("c_id", "codes")
        .as[(Long, Seq[Int])].collect().toMap
      val pq = codes(pqEncode(edge, "c_id", "c_vec", bk))
      def residual(q: Seq[(Long, Seq[Double])]) = codes(
        ivfPqEncodeAssigned(ivfAssignBroadcast(edge, q), q, bk,
          residual = true))
      def probed(q: Seq[(Long, Seq[Double])]) = {
        val corpus = cands.filter(col("c_id") < 90L)
        val idx = ivfIndexWithCentroids(corpus, "c_id", "c_vec", q,
          persistIndex = false)
        ivfTopKWith(idx, edge, "c_id", "c_vec", k = 3, nProbe = 2)
          .select("q_id").as[Long].collect().toSet
      }
      val (asg, asgNz) = (assign(cs), assign(csNz))
      val (rk, rkNz) = (ranks(cs), ranks(csNz))
      val (res, resNz) = (residual(cs), residual(csNz))
      val probes = probed(csNz)
      // (case, observed, expected)
      val table: Seq[(String, Any, Any)] = Seq(
        ("clean rows take their own cluster", (asg(0L), asg(1L)), (0L, 1L)),
        ("NaN element takes the first centroid (NaN sorts largest)",
          asg(91L), 0L),
        ("NaN element ranks id-ascending", rk(91L), Seq(0L, 1L, 2L)),
        ("dim mismatch falls to the zero-norm centroid", asg(92L), 7L),
        ("null element falls to the zero-norm centroid", asg(93L), 7L),
        ("dim mismatch without a zero-norm centroid: sentinel",
          asgNz(92L), -1L),
        ("null element without a zero-norm centroid: sentinel",
          asgNz(93L), -1L),
        ("unplaceable vectors rank only the zero-norm centroid",
          (rk(92L), rk(93L)), (Seq(7L), Seq(7L))),
        ("unplaceable vectors without it rank nothing",
          (rkNz(92L), rkNz(93L)), (Seq(), Seq())),
        ("zero vector takes the first maximum", asg(90L), 0L),
        ("zero vector ranks id-ascending", rk(90L), Seq(0L, 1L, 2L)),
        ("exact tie goes to the smaller id", asg(94L), 0L),
        ("exact tie ranks the smaller id first", rk(94L), Seq(0L, 1L, 2L)),
        ("k-means: a wrong-dimension centroid is never chosen",
          (d2(0L), d2(1L)), (1L, 2L)),
        ("k-means: a dim-3 vector reaches only the dim-3 centroid",
          d2(92L), 0L),
        ("k-means: NaN or null element gets the sentinel",
          (d2(91L), d2(93L)), (-1L, -1L)),
        ("k-means: zero vector and exact tie take the first minimum",
          (d2(90L), d2(94L)), (1L, 1L)),
        ("PQ: short slice encodes -1", pq(92L), Seq(2, -1)),
        ("PQ: null element encodes -1", pq(93L), Seq(-1, 1)),
        ("PQ: NaN element never beats a codeword", pq(91L), Seq(-1, 1)),
        ("PQ: zero vector takes the first minimum", pq(90L), Seq(0, 1)),
        ("PQ residual: zip_with padding nulls the overhanging slice",
          res(92L), Seq(2, -1)),
        ("PQ residual: missed centroid encodes all -1",
          resNz(92L), Seq(-1, -1)),
        ("unplaceable probe queries get no list",
          (probes(92L), probes(93L)), (false, false)),
        ("placeable probe queries get a list",
          (probes(0L), probes(90L), probes(91L)), (true, true, true)))
      table.foreach { case (what, got, want) =>
        assert(got == want, s"$regime: $what")
      }
    }
  }
}
