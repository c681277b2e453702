package graft

import graft.functions.HashKernels
import graft.operators.Envelope
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated properties (SURVEY.md §5.2 item 5): key
  * uniqueness/monotonicity under arbitrary same-millisecond bursts,
  * dedup idempotence, envelope decode∘encode = id, hash-kernel laws.
  * Deterministic seeds — no flaky sampling.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: synthesized keys are unique with dense per-ms counters") {
    val burstGen = for {
      n <- Gen.choose(1, 60)
      ms <- Gen.listOfN(n, Gen.choose(1000L, 1010L))
    } yield ms
    samples(burstGen, 8).foreach { ms =>
      val df = ms.zipWithIndex
        .map { case (m, i) => (i.toLong, m) }
        .toDF("event_id", "ms")
        .withColumn("ts", timestamp_millis(col("ms")))
      val keyed = Envelope.withSyntheticKey(df, "ts", "event_id").cache()
      try {
        assert(keyed.select("key").distinct().count() == ms.length)
        // per millisecond, seq must be a dense 1..n counter
        val bad = keyed
          .withColumn("seq", split(col("key"), "_").getItem(1).cast("int"))
          .groupBy("ms")
          .agg(max(col("seq")).as("maxseq"), count(lit(1)).as("n"))
          .filter(col("maxseq") =!= col("n"))
          .count()
        assert(bad == 0, s"non-dense counter for burst $ms")
      } finally keyed.unpersist()
    }
  }

  test("property: envelope decode∘encode = id for JSON-safe payloads") {
    val payloadGen = Gen.nonEmptyListOf(Gen.alphaNumStr.map(_.take(40)))
    samples(payloadGen, 10).foreach { payloads =>
      val df = payloads.zipWithIndex
        .map { case (p, i) => (s"${1000 + i}_1", p) }
        .toDF("key", "value")
      val rt = df.select(
        col("key"), col("value"),
        Envelope.decodeKey(
          Envelope.encode(col("key"), col("value"))).as("k2"),
        Envelope.decodeValue(
          Envelope.encode(col("key"), col("value"))).as("v2"))
      assert(rt.filter(col("key") =!= col("k2") ||
        col("value") =!= col("v2")).count() == 0)
    }
  }

  test("property: dedupKeepFirst is idempotent and keeps min order key") {
    val gen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 5)
      v <- Gen.choose(0L, 1000L)
    } yield (s"k$k", v))
    samples(gen, 8).foreach { rows =>
      val df = rows.toDF("key", "arrival")
      // uniquify (key, arrival) survivor choice by min arrival; ties in
      // arrival are broken by the second order column below
      val once = Envelope.dedupKeepFirst(df, Seq("key"),
        Seq(col("arrival"))).cache()
      try {
        val twice = Envelope.dedupKeepFirst(once, Seq("key"),
          Seq(col("arrival")))
        assert(once.count() == rows.map(_._1).distinct.size)
        assert(twice.count() == once.count())
        val expectedMin = rows.groupBy(_._1).map { case (k, vs) =>
          (k, vs.map(_._2).min) }
        val got = once.as[(String, Long)].collect().toMap
        assert(got == expectedMin)
      } finally once.unpersist()
    }
  }

  test("property: simhash is multiset-order-insensitive; minhash is monotone") {
    val toksGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd", "e"))
    samples(toksGen, 20).foreach { toks =>
      val h1 = HashKernels.simhash64(toks)
      val h2 = HashKernels.simhash64(new scala.util.Random(7).shuffle(toks))
      assert(h1 == h2)
      val sig = HashKernels.minhash(toks, 32)
      assert(sig.length == 32)
      // adding an element can only lower each per-position minimum
      val sig2 = HashKernels.minhash(toks ++ List("zz"), 32)
      assert(sig.zip(sig2).forall { case (a, b) => b <= a })
    }
  }

  test("property: digest equality implies doorFingerprint equality") {
    // THE invariant ingestDoor's single-stateful-op budget rests on:
    // for arbitrary texts, whenever exactDigest collides,
    // doorFingerprint must collide too (the converse is free — the
    // fingerprint is the COARSER key). Generated texts mix case,
    // edge/interior spaces, punctuation, and digits so the digest
    // collisions exercised are the real normalization classes, not
    // just hand-picked ones.
    val wordGen = Gen.oneOf("apple", "Apple", "APPLE", "b.b", "c7",
      "dd!", "e", "")
    val textGen = for {
      n <- Gen.choose(0, 6)
      ws <- Gen.listOfN(n, wordGen)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield lead + ws.mkString(" ") + trail
    val texts = samples(textGen, 120).distinct
    val rows = texts.toDF("text")
      .select(col("text"),
        graft.operators.Dedup.exactDigest(col("text")).as("d"),
        graft.streaming.StreamingOps.doorFingerprint(col("text"))
          .as("fp"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // non-vacuity: the generator must actually produce digest
    // collisions between DIFFERENT raw texts
    val byDigest = rows.groupBy(_._2)
    assert(byDigest.values.exists(g => g.map(_._1).distinct.size > 1),
      "generator must produce digest-colliding raw-text variants")
    byDigest.foreach { case (d, g) =>
      assert(g.map(_._3).distinct.size == 1,
        s"digest $d maps to multiple fingerprints: " +
          g.map(t => s"'${t._1}'->${t._3}").mkString(", "))
    }
  }

  test("property: XL transport parity — broadcast assignment equals " +
    "the literal fold, and the native rank kernel equals the literal " +
    "rank, over adversarial quantizers (zero-norm, NaN, huge values)") {
    import graft.operators.Similarity
    val dim = 3
    // element pool stresses every comparison branch: zero-norm
    // centroids, NaN scores, overflow-to-Inf products, exact ties
    val elem = Gen.oneOf(-1.0d, 0.0d, 0.5d, 1.0d, 2.0d,
      Double.NaN, 1e300)
    val centsGen = for {
      k <- Gen.choose(2, 5)
      vs <- Gen.listOfN(k, Gen.listOfN(dim, elem))
    } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v: Seq[Double]) }
    val batchGen = for {
      n <- Gen.choose(8, 16)
      vs <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.frequency(9 -> elem.map(Option(_)), 1 -> Gen.const(None))))
    } yield vs.zipWithIndex.map { case (v, i) => (100L + i, v) }
    val cases = samples(Gen.zip(centsGen, batchGen), 6)
    assert(cases.nonEmpty)
    // the reference is the retired literal fold's contract in plain
    // Scala (LiteralFold), sharing no code with the engine
    cases.foreach { case (cents, batch) =>
      val df = batch.toDF("c_id", "c_vec")
      val bc = Similarity.ivfAssignBroadcast(df, cents)
        .select("c_id", "cent_id").as[(Long, Long)].collect().toMap
      val lit = batch.map { case (id, v) =>
        id -> LiteralFold.assign(v, cents) }.toMap
      assert(bc === lit, s"assignment parity, cents=$cents")
      // every rank of every row, null-element rows included: the
      // kernel's short array is the reference's unscored skip
      val nat = df.select(col("c_id"),
          Similarity.centroidRanks(col("c_vec"), cents, cents.size))
        .as[(Long, Seq[Long])].collect().toMap
      val litR = batch.map { case (id, v) =>
        id -> LiteralFold.ranks(v, cents, cents.size) }.toMap
      assert(nat === litR, s"rank parity, cents=$cents")
    }
  }

  test("property: two-level rank kernel — full-wProbe parity with the " +
    "flat kernel over adversarial quantizers (zero-norm, NaN/huge " +
    "arrivals, exact ties), and narrow-wProbe rank 1 equals the " +
    "two-level assignment transport") {
    import graft.operators.Similarity
    import org.apache.spark.sql.graftbridge.GraftBridge
    val dim = 3
    // centroid pool: finite values only (a NaN/Inf-normed centroid
    // can legitimately fail super-assignment in twoLevelQuantizer —
    // its own documented require), but KEEPS the adversarial shapes
    // that stress the comparators: all-zero vectors (zero-norm
    // leaves AND zero-norm supers) and tie-heavy small ints
    val centElem = Gen.oneOf(-1.0d, 0.0d, 0.5d, 1.0d, 2.0d)
    val centsGen = for {
      k <- Gen.choose(3, 6)
      vs <- Gen.listOfN(k, Gen.listOfN(dim, centElem))
    } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v: Seq[Double]) }
    // arrival pool: the full adversarial set — NaN, overflow-to-Inf
    // products, null elements
    val vecElem = Gen.oneOf(-1.0d, 0.0d, 0.5d, 1.0d, 2.0d,
      Double.NaN, 1e300)
    val batchGen = for {
      n <- Gen.choose(8, 16)
      vs <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.frequency(9 -> vecElem.map(Option(_)), 1 -> Gen.const(None))))
    } yield vs.zipWithIndex.map { case (v, i) => (100L + i, v) }
    val cases = samples(Gen.zip(centsGen, batchGen), 6)
    assert(cases.nonEmpty)
    cases.foreach { case (cents, batch) =>
      val tlq = Similarity.twoLevelQuantizer(cents)
      val np = cents.size
      val df = batch.toDF("c_id", "c_vec")
      def ranks(c: org.apache.spark.sql.Column) =
        df.withColumn("rs", c).select(col("c_id"), col("rs"))
          .as[(Long, Seq[Long])].collect().toMap
      val flat = ranks(GraftBridge.column(graft.functions.CentroidRanks(
        GraftBridge.expression(col("c_vec")),
        new graft.functions.CentroidRankKernel(
          spark.sparkContext.broadcast((cents.map(_._1).toArray,
            cents.map(_._2.toArray).toArray,
            cents.map(c => math.sqrt(
              c._2.foldLeft(0.0d)((a, x) => a + x * x))).toArray))),
        np)))
      val full = ranks(Similarity.centroidRanksTwoLevel(
        col("c_vec"), tlq, np, wProbe = tlq.supers.size))
      batch.foreach { case (id, v) =>
        if (v.forall(_.isDefined))
          // a fully-defined dim-matched vector scores non-null
          // against every centroid (NaN/Inf are SQL-ordered values,
          // not nulls) → routable → full-probe parity is EXACT
          assert(full(id) === flat(id), s"row $id cents=$cents")
        else
          // null-element vectors: routed (some super scored, e.g. a
          // zero-norm super) → parity; unroutable → EMPTY, the
          // documented two-level stance
          assert(full(id) === flat(id) || full(id).isEmpty,
            s"row $id cents=$cents")
      }
      // narrow wProbe: kernel rank 1 IS the ivfAssignTwoLevel
      // transport's assignment (same super selection, same global
      // max over probed leaves), sentinel ⟺ empty ranks
      val w = math.min(2, tlq.supers.size)
      val narrow = ranks(Similarity.centroidRanksTwoLevel(
        col("c_vec"), tlq, 1, wProbe = w))
      val asg = Similarity.ivfAssignTwoLevel(df, tlq, wProbe = w)
        .select("c_id", "cent_id").as[(Long, Long)].collect().toMap
      batch.foreach { case (id, _) =>
        if (asg(id) == -1L) assert(narrow(id).isEmpty, s"row $id")
        else assert(narrow(id) === Seq(asg(id)), s"row $id cents=$cents")
      }
    }
  }

  test("property: XL transport parity — the d2 (k-means) broadcast " +
    "assignment equals the d2 literal fold over adversarial " +
    "quantizers, incl. a dim-mismatched centroid and null elements") {
    import graft.operators.Similarity
    // same adversarial pool as the cosine parity above, same plain
    // Scala reference (LiteralFold); the d2 fold has its own
    // comparator corners (strict < keeps the FIRST min;
    // NaN/Inf d2 never beats the MaxValue seed; a null element or
    // dim mismatch skips that centroid; a vector no centroid can
    // score falls back to (-1, MaxValue))
    val dim = 3
    val elem = Gen.oneOf(-1.0d, 0.0d, 0.5d, 1.0d, 2.0d,
      Double.NaN, 1e300)
    val centsGen = for {
      k <- Gen.choose(2, 5)
      vs <- Gen.listOfN(k, Gen.listOfN(dim, elem))
    } yield vs.map(v => v: Seq[Double])
    val batchGen = for {
      n <- Gen.choose(8, 16)
      vs <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.frequency(9 -> elem.map(Option(_)), 1 -> Gen.const(None))))
    } yield vs.zipWithIndex.map { case (v, i) => (100L + i, v) }
    val cases = samples(Gen.zip(centsGen, batchGen), 6)
    assert(cases.nonEmpty)
    cases.foreach { case (cents0, batch) =>
      // append a dim-2 centroid: both sides must skip it for every
      // dim-3 vector (never chosen, never poisoning the argmin)
      val cents = cents0 :+ (Seq(1.0d, 2.0d): Seq[Double])
      val df = batch.toDF("id", "v")
      def m(r: org.apache.spark.sql.DataFrame) =
        r.select("id", "cluster", "d2").as[(Long, Long, Double)]
          .collect().map(t => t._1 -> ((t._2, t._3))).toMap
      val lit = batch.map { case (id, v) =>
        id -> LiteralFold.argminD2(v, cents) }.toMap
      val bc = m(Similarity.assignBroadcastD2(df, cents))
      assert(bc === lit, s"d2 parity, cents=$cents")
      // the mismatched centroid (index cents0.size) is never selected
      assert(!bc.values.exists(_._1 == cents0.size.toLong))
    }
  }
}
