package graft

import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** The door's corpus gates: each row-local snapshot kernel drops
  * exactly the rows its LEFT ANTI join form dropped (the join forms
  * stay here as the oracle), on the interpreted and the generated-code
  * path; and a running door sees an index append made between two
  * micro-batches, through every gate. */
class CorpusProbeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---- the join forms the kernels replaced: the oracle
  private def digestJoin(df: DataFrame, corpusDigests: DataFrame) =
    df.withColumn("graft_digest", Dedup.exactDigest(col("text")))
      .join(corpusDigests.select(col("digest").as("graft_digest")),
        Seq("graft_digest"), "left_anti")

  private def bandJoin(df: DataFrame, corpusBands: DataFrame,
                       maxHamming: Int) =
    (0 until Dedup.HammingBands).foldLeft(df) { (d, b) =>
      d.join(corpusBands.filter(col("band") === b).select(
          col("bits").as("graft_bits"), col("sim").as("graft_corpus_sim")),
        Dedup.bandBits(col("sim"), b) === col("graft_bits") &&
          bit_count(col("sim").bitwiseXOR(col("graft_corpus_sim")))
            <= maxHamming,
        "left_anti")
    }

  private def semanticJoin(df: DataFrame, index: Similarity.IvfIndex,
                           cosThreshold: Double, nProbe: Int,
                           hier: Option[Similarity.TwoLevelQuantizer],
                           wProbe: Int) = {
    val v = Similarity.toDouble(col("embedding"))
    val ranks = hier.fold(
      Similarity.centroidRanks(v, index.cents, nProbe))(tlq =>
      Similarity.centroidRanksTwoLevel(v, tlq, nProbe, wProbe))
    (1 to nProbe).foldLeft(df.withColumn("graft_cents",
        when(col("embedding").isNotNull, ranks))) { (d, p) =>
      d.withColumn("graft_cent", try_element_at(col("graft_cents"), lit(p)))
        .join(index.assigned.select(col("cent_id").as("graft_probe_cent"),
            col("c_vec").as("graft_corpus_vec")),
          col("graft_cent") === col("graft_probe_cent") &&
            Similarity.cosine(v, col("graft_corpus_vec")) >= cosThreshold,
          "left_anti")
        .drop("graft_cent")
    }
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  /** `kernel` and `oracle` keep the same ids, over the local relation
    * with code generation off (the kernels' `eval`) and over a
    * repartitioned copy with code generation forced. Returns the
    * oracle's ids. */
  private def sameVerdicts(label: String, arrivals: DataFrame)(
      kernel: DataFrame => DataFrame,
      oracle: DataFrame => DataFrame): Seq[Long] = {
    val want = ids(oracle(arrivals))
    val modes = Seq(
      ("interpreted", arrivals, "NO_CODEGEN", "false"),
      ("codegen", arrivals.repartition(3), "CODEGEN_ONLY", "true"))
    for ((mode, df, factory, wholeStage) <- modes) {
      val prev = Seq("spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage").map(k => k -> spark.conf.get(k))
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val got = try ids(kernel(df))
        finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(got == want, s"$label ($mode): kernel kept $got, join kept $want")
    }
    want
  }

  test("digest kernel == digest anti-join: random texts, case and " +
    "space variants, NULL text, NULL and malformed corpus digests") {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("apple", "banana", "cherry", "damson", "elder", "fig")
    def text() = Seq.fill(3 + rnd.nextInt(4))(
      vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpusTexts = Seq.fill(40)(text())
    val corpus = corpusTexts.toDF("text")
    val arrivalTexts: Seq[Option[String]] =
      corpusTexts.take(10).map(Some(_)) ++
        corpusTexts.slice(10, 20).map(t => Some(s"  ${t.toUpperCase} ")) ++
        Seq.fill(20)(Some(text())) ++ Seq(None, None)
    val arrivals = arrivalTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // a NULL digest, a malformed one, and an arrival's digest in upper
    // case: none equals an md5 digest
    val odd = Seq[Option[String]](None, Some("not-a-digest")).toDF("digest")
      .unionByName(Seq(arrivalTexts(25).get).toDF("text")
        .select(upper(Dedup.exactDigest(col("text"))).as("digest")))
    val corpusDigests = Dedup.digestIndex(corpus, "text").unionByName(odd)
    val kept = sameVerdicts("digest", arrivals)(
      _.filter(!graft.streaming.CorpusProbes.digestHit(
        Dedup.exactDigest(col("text")), corpusDigests)),
      digestJoin(_, corpusDigests))
    assert(kept.size > 2 && kept.size < arrivalTexts.size - 20,
      s"vacuous fixture: kept $kept")
    assert(kept.contains(40L) && kept.contains(41L), "NULL text must pass")
  }

  test("band kernel == per-band anti-joins: random fingerprints at " +
    "hamming 0-5 from the corpus, maxHamming 0-3, NULL fingerprints " +
    "and NULL corpus cells") {
    val rnd = new scala.util.Random(12)
    // half the corpus shares one band-0 value, so a key holds many rows
    val sims = Seq.tabulate(60)(i =>
      if (i % 2 == 0) rnd.nextLong() & ~0xFFFFL | 0x1234L else rnd.nextLong())
    def flip(x: Long, k: Int) =
      rnd.shuffle((0 until 64).toList).take(k).foldLeft(x)((a, b) =>
        a ^ (1L << b))
    val arrivalSims: Seq[Option[Long]] =
      sims.zipWithIndex.map { case (x, i) => Some(flip(x, i % 6)) } ++
        Seq.fill(20)(Some(rnd.nextLong())) ++ Seq(None, None)
    val arrivals = arrivalSims.zipWithIndex
      .map { case (x, i) => (i.toLong, x) }.toDF("id", "sim")
    val corpusBands = Dedup.hammingBandIndex(
        sims.zipWithIndex.map { case (x, i) => (i.toLong, x) }
          .toDF("doc_id", "fp"), "doc_id", "fp")
      .unionByName(Seq[(Long, Option[Long], Int, Option[Long])](
          (900L, None, 0, Some(0x1234L)), (901L, Some(sims(1)), 1, None))
        .toDF("doc", "sim", "band", "bits"))
    val keptByH = (0 to 3).map(h => sameVerdicts(s"band h=$h", arrivals)(
      _.filter(!graft.streaming.CorpusProbes.bandHit(
        col("sim"), corpusBands, h)),
      bandJoin(_, corpusBands, h)))
    assert(keptByH.sliding(2).forall { case Seq(a, b) =>
        b.size < a.size && b.toSet.subsetOf(a.toSet) },
      s"each hamming step must drop more: ${keptByH.map(_.size)}")
    assert(keptByH.forall(k => k.contains(80L) && k.contains(81L)),
      "NULL fingerprints must pass")
  }

  test("semantic kernel == per-rank anti-joins: nProbe 1-3, the " +
    "two-level route, NULL / NaN / null-element / wrong-dimension " +
    "arrivals, zero-norm / NaN / null-element / short corpus vectors") {
    val rnd = new scala.util.Random(13)
    def vec() = Seq.fill(4)(rnd.nextGaussian())
    val cents = (0L until 6L).map(i => (i, vec()))
    val corpusVecs = Seq.fill(60)(vec())
    // assigned rows are written directly (any list, any vector): the
    // gate's verdict must not depend on the assignment being right
    val odd = Seq[Seq[Option[Double]]](
      Seq.fill(4)(Some(0.0d)), Seq(Some(Double.NaN), Some(1.0), Some(0.0),
        Some(0.0)), Seq(Some(1.0), None, Some(0.0), Some(0.0)),
      Seq(Some(1.0), Some(0.0), Some(0.0)))
    val assigned = (corpusVecs.map(_.map(Option(_))) ++ odd ++ odd)
      .zipWithIndex.map { case (v, i) =>
        (i.toLong, v, (i % cents.size).toLong) }
      .toDF("c_id", "c_vec", "cent_id")
    val index = Similarity.IvfIndex(cents, assigned)
    val near = corpusVecs.take(30).map(_.map(x =>
      Option(x + 0.01 * rnd.nextGaussian())))
    val arrivalVecs: Seq[Option[Seq[Option[Double]]]] =
      near.map(Some(_)) ++ Seq.fill(20)(Some(vec().map(Option(_)))) ++
        odd.map(Some(_)) ++ Seq(None)
    val arrivals = arrivalVecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "embedding")
    val tlq = Similarity.twoLevelQuantizer(cents)
    val configs =
      (for (t <- Seq(0.9, 0.0); p <- 1 to 3) yield (t, p, None, 1)) ++
        (for (p <- 1 to 2; w <- Seq(1, tlq.supers.size))
          yield (0.9, p, Some(tlq), w))
    val kept = configs.map { case (t, p, h, w) =>
      (t, p, h.isDefined) -> sameVerdicts(
          s"semantic t=$t nProbe=$p hier=${h.isDefined} w=$w", arrivals)(
        StreamingOps.semanticProbe(_, "embedding", index, t, p, h, w),
        semanticJoin(_, index, t, p, h, w))
    }
    val flat09 = kept.collect { case ((0.9, p, false), k) => k }
    assert(flat09.head.size < arrivalVecs.size && flat09.head.size > 20,
      s"vacuous fixture: nProbe=1 kept ${flat09.head}")
    assert(flat09.sliding(2).forall { case Seq(a, b) =>
      b.toSet.subsetOf(a.toSet) }, "a wider probe must drop a superset")
    assert(flat09.forall(_.contains(arrivalVecs.size - 1L)),
      "a NULL embedding must pass")
  }

  test("freshness: a running door sees digest, band and IVF table " +
    "appends made between two micro-batches") {
    import graft.operators.{Decontaminate, Dsir, TextAnalysis => TA}
    implicit val sqlCtx = spark.sqlContext
    val digTable = "graft_fresh_dig"
    val bandTable = "graft_fresh_band"
    val ivfPrefix = "graft_fresh_ivf"
    val tables = Seq(digTable, bandTable) ++
      Similarity.ivfIndexTableNames(ivfPrefix)
    // permissive gates: this test is about the corpus sides
    val bloom = Decontaminate.buildShingleBloom(
      Seq((1L, "completely unrelated eval content", true))
        .toDF("doc_id", "text", "is_eval"),
      "doc_id", "text", col("is_eval"), n = 3)
    val dsir = Dsir.fitModel(Seq(
        (1L, "apple banana cherry damson elder", true),
        (2L, "hammer wrench pliers chisel rasp", false))
        .toDF("doc_id", "text", "is_t"),
      "doc_id", TA.tokens(col("text")), isTarget = col("is_t"))
    val fp = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"), StreamingOps.doorFingerprint(col("text")).as("fp"))
    val corpus = Seq((100L, "apple banana cherry elder quince plum"))
      .toDF("doc_id", "text")
    // two exact centroids; the corpus fills list 0 only
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 0.0, 0.0, 1.0)))
    val ivf = Similarity.appendToAnnIndex(
      Similarity.IvfIndex(cents, Seq.empty[(Long, Seq[Double], Long)]
        .toDF("c_id", "c_vec", "cent_id")),
      Seq((100L, Array(1.0f, 0.02f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val novelVec = Array(0.0f, 1.0f, 0.0f, 0.0f)
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Dedup.createDigestIndexTable(corpus, "text", digTable, 2)
      Dedup.createBandedIndexTable(fp(corpus), "doc_id", "fp",
        bandTable, 2)
      Similarity.createIvfIndexTable(ivf, ivfPrefix, 2)
      def door(df: org.apache.spark.sql.DataFrame) =
        StreamingOps.ingestDoor(df, "text", "ts", lit(100000000L),
          minScoreQ8 = 0L, bloom, dsir, spark.table(digTable),
          spark.table(bandTable), "10 minutes",
          semIndex = Some(Similarity.loadIvfIndexTable(spark, ivfPrefix)))
      val batch2 = Seq(
        // exact duplicate (case and edge spaces differ) of doc 200
        (ts("2024-01-01 10:01:00"), 2L,
          "  Cherry damson apple banana elder cherry FIG ", novelVec),
        // token permutation of doc 201: same fingerprint, new digest
        (ts("2024-01-01 10:01:01"), 3L,
          "cherry quince damson banana apple fig plum", novelVec),
        // novel text whose embedding is doc 202's semantic twin
        (ts("2024-01-01 10:01:02"), 4L,
          "elder plum banana apple cherry damson quince elder",
          Array(0.1f, 0.01f, 0.0f, 1.0f)),
        // control: novel on every gate
        (ts("2024-01-01 10:01:03"), 5L,
          "banana banana cherry apple elder plum damson", novelVec))
      // against the corpus as created, every batch-2 arrival passes:
      // a drop below can only come from the appends
      assert(door(batch2.toDF("ts", "id", "text", "embedding"))
        .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L, 5L))
      val input = MemoryStream[(Timestamp, Long, String, Array[Float])]
      val q = door(input.toDF().toDF("ts", "id", "text", "embedding"))
        .writeStream.format("memory").queryName("fresh_door")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData((ts("2024-01-01 10:00:00"), 1L,
          "damson elder apple cherry banana damson elder", novelVec))
        q.processAllAvailable()
        // appended between batch 1 and batch 2, one doc per gate
        Dedup.appendToDigestIndexTable(
          Seq((200L, "cherry damson apple banana elder cherry fig"))
            .toDF("doc_id", "text"), "text", digTable, 2)
        Dedup.appendToBandedIndexTable(fp(
          Seq((201L, "plum fig apple banana damson quince cherry"))
            .toDF("doc_id", "text")), "doc_id", "fp", bandTable, 2)
        Similarity.appendToIvfIndexTable(
          Seq((202L, Array(0.1f, 0.0f, 0.0f, 1.0f)))
            .toDF("vec_id", "embedding"),
          "vec_id", "embedding", ivfPrefix, 2)
        input.addData(batch2: _*)
        // the second batch re-reads each changed corpus once, on the
        // driver, and says why
        val builds = SparkSpec.logsOf(
            graft.streaming.CorpusSnapshots.getClass,
            org.apache.logging.log4j.Level.INFO)(q.processAllAvailable())
          .filter(_.startsWith("door corpus snapshot built"))
        assert(Seq("digest", "band", "semantic").forall(g => builds.exists(
            b => b.contains(s"gate=$g ") && b.contains("cause=token change"))),
          s"snapshot builds logged: $builds")
        val admitted = spark.table("fresh_door")
          .select("id").as[Long].collect().sorted.toSeq
        val missed = Seq(2L -> "digest", 3L -> "band", 4L -> "semantic")
          .collect { case (id, gate) if admitted.contains(id) => gate }
        assert(missed.isEmpty && admitted == Seq(1L, 5L),
          s"appends not seen by the next batch through the " +
            s"${missed.mkString(", ")} gate(s); admitted $admitted")
      } finally q.stop()
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
