package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp

/** Streaming semantics with MemoryStream (SURVEY.md §5.2 item 3):
  * watermark late-data drop, dedup-within-watermark, session windows,
  * and the reference's stateful per-ms counter (A4 streaming form).
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark drops data later than the allowed lateness") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = StreamingOps.tumblingAgg(
      input.toDF().toDF("ts", "value"), "ts", "value",
      "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts("2024-01-01 10:01:00"), 1.0),
        (ts("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      input.addData((ts("2024-01-01 11:00:00"), 3.0))
      q.processAllAvailable()
      // this event is older than watermark (11:00 - 5m) → dropped
      input.addData((ts("2024-01-01 10:02:00"), 100.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 12:00:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.table("wm_sink")
        .select("win_start", "cnt", "total")
        .as[(Timestamp, Long, Double)].collect()
        .map { case (t, c, v) => (t.toString, (c, v)) }.toMap
      // the 10:00 window must have closed WITHOUT the late 100.0
      assert(rows("2024-01-01 10:00:00.0") == ((2L, 3.0)))
    } finally q.stop()
  }

  test("dedupByKey drops redeliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val deduped = StreamingOps.dedupByKey(
      input.toDF().toDF("ts", "key"), "ts", "key", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dd_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), "k1"),
        (ts("2024-01-01 10:00:01"), "k1"), // duplicate (redelivery)
        (ts("2024-01-01 10:00:02"), "k2"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:00:03"), "k1")) // still duplicate
      q.processAllAvailable()
      assert(spark.table("dd_sink").count() == 2)
    } finally q.stop()
  }

  test("session windows merge events within gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val sess = StreamingOps.sessionAgg(
      input.toDF().toDF("ts", "user"), "ts", "user",
      "30 minutes", "10 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), "u1"),
        (ts("2024-01-01 10:20:00"), "u1"),  // same session
        (ts("2024-01-01 11:30:00"), "u1"))  // new session
      q.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), "u1")) // push watermark
      q.processAllAvailable()
      val rows = spark.table("sess_sink")
        .select("session_start", "cnt").as[(Timestamp, Long)]
        .collect().toMap.map { case (k, v) => (k.toString, v) }
      assert(rows("2024-01-01 10:00:00.0") == 2L)
      assert(rows("2024-01-01 11:30:00.0") == 1L)
    } finally q.stop()
  }

  test("dedupAgainstCorpus drops known digests and in-stream repeats") {
    implicit val sqlCtx = spark.sqlContext
    // corpus already contains "old doc" (normalized digest)
    val corpus = Seq("old doc").toDF("text")
      .select(graft.operators.Dedup.exactDigest(
        org.apache.spark.sql.functions.col("text")).as("digest"))
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.dedupAgainstCorpus(
      input.toDF().toDF("ts", "text"), "text", "ts", corpus, "10 minutes")
    val q = out.writeStream.format("memory").queryName("corpus_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), "old doc"),      // in corpus → drop
        (ts("2024-01-01 10:00:01"), "  OLD DOC  "),  // normalizes to same → drop
        (ts("2024-01-01 10:00:02"), "fresh doc"),    // keep
        (ts("2024-01-01 10:00:03"), "fresh doc"),    // in-stream repeat → drop
        (ts("2024-01-01 10:00:04"), "another"))      // keep
      q.processAllAvailable()
      // a later batch repeating a survivor is also dropped (state)
      input.addData((ts("2024-01-01 10:01:00"), "fresh doc"))
      q.processAllAvailable()
      val kept = spark.table("corpus_dedup")
        .select("text").as[String].collect().sorted.toSeq
      assert(kept == Seq("another", "fresh doc"))
      // the internal digest column must not leak into the output, and
      // the output schema must be exactly the input's
      assert(spark.table("corpus_dedup").columns.toSeq == Seq("ts", "text"))
    } finally q.stop()
  }

  test("dedupAgainstCorpus guards its working column") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("x").toDF("text")
      .select(graft.operators.Dedup.exactDigest(
        org.apache.spark.sql.functions.col("text")).as("digest"))
    val input = MemoryStream[(Timestamp, String, String)]
    intercept[IllegalArgumentException] {
      StreamingOps.dedupAgainstCorpus(
        input.toDF().toDF("ts", "text", "graft_digest"),
        "text", "ts", corpus, "10 minutes")
    }
  }

  test("nearDupAgainstCorpus drops banded near-dups and in-stream repeats") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // controlled fingerprints: corpus doc 100L has fingerprint 0xF0F0;
    // arriving fingerprints at hamming 1 (0xF0F1), 3 (0xF0F0^0b111 in
    // one band), 4 (no shared band guarantee — constructed to differ
    // in every band) and far
    val corpusHashed = Seq((100L, 0xF0F0L), (101L, 0x0FF0000L))
      .toDF("doc_id", "fp")
    val corpusBands = graft.operators.Dedup
      .hammingBandIndex(corpusHashed, "doc_id", "fp")
    val input = MemoryStream[(Timestamp, Long, Long)]
    val out = StreamingOps.nearDupAgainstCorpus(
      input.toDF().toDF("ts", "id", "fp"), col("fp"), "ts",
      corpusBands, "10 minutes", maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("neardup_door")
      .outputMode(OutputMode.Append).start()
    try {
      // hamming(0xF0F1, 0xF0F0)=1 → drop; hamming(0xF0F7,0xF0F0)=3 → drop;
      // 0x0F0F is hamming 16 from 0xF0F0 → keep; one band-collision
      // (low band 0x0000 shared with 0x0FF0000L's low band) but
      // hamming 10 > 3 → the residual condition keeps it
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 0xF0F1L),     // near corpus → drop
        (ts("2024-01-01 10:00:01"), 2L, 0xF0F7L),     // hamming 3 → drop
        (ts("2024-01-01 10:00:02"), 3L, 0x0F0FL),     // far → keep
        (ts("2024-01-01 10:00:03"), 4L, 0x0F0FL),     // in-stream repeat → drop
        (ts("2024-01-01 10:00:04"), 5L, 0xABCD1234L)) // far → keep
      q.processAllAvailable()
      // cross-batch repeat of a survivor's fingerprint → dropped by state
      input.addData((ts("2024-01-01 10:01:00"), 6L, 0xABCD1234L))
      q.processAllAvailable()
      // assert on FINGERPRINTS (which-row-survives-state-dedup is not
      // order-guaranteed for same-batch duplicates): one survivor per
      // far fingerprint, near-corpus fingerprints gone
      val kept = spark.table("neardup_door")
        .select("fp").as[Long].collect().toSeq
      assert(kept.sorted == Seq(0x0F0FL, 0xABCD1234L))
      // the working fingerprint column must not leak
      assert(spark.table("neardup_door").columns.toSeq ==
        Seq("ts", "id", "fp"))
    } finally q.stop()
  }

  test("nearDupAgainstCorpus parity: stream drops exactly the docs the batch join pairs with the corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // derive fingerprints from a deterministic generator so band
    // collisions happen naturally, then assert the streamed survivors
    // complement the batch pairing verdicts exactly
    val corpusHashed = (0L until 40L).map(i =>
      (i, i * 0x9E3779B97F4A7C15L)).toDF("doc_id", "fp")
    val arrivals = (0L until 30L).map { i =>
      val base = (i % 20) * 0x9E3779B97F4A7C15L
      // half arrive within hamming 2 of a corpus fingerprint, half far
      val fp = if (i % 2 == 0) base ^ 0x3L else ~base
      (i + 1000L, fp)
    }
    val corpusBands = graft.operators.Dedup
      .hammingBandIndex(corpusHashed, "doc_id", "fp")
    // batch verdict: which arrivals pair with a corpus doc?
    val batchPairs = graft.operators.Dedup.hammingNearDupsBanded(
      corpusHashed.unionByName(arrivals.toDF("doc_id", "fp")),
      "doc_id", "fp", maxHamming = 3)
    // fingerprints the batch join pairs with a corpus doc (ids >= 1000
    // are arrivals; doc_a < doc_b puts corpus ids first)
    val arrivalFp = arrivals.toMap
    val droppedFp = batchPairs
      .filter(col("doc_a") < 1000L && col("doc_b") >= 1000L)
      .select(col("doc_b")).as[Long].collect().toSet
      .map(arrivalFp)
    val input = MemoryStream[(Timestamp, Long, Long)]
    val out = StreamingOps.nearDupAgainstCorpus(
      input.toDF().toDF("ts", "id", "fp"), col("fp"), "ts",
      corpusBands, "10 minutes", maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("neardup_parity")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(arrivals.map { case (id, fp) =>
        (ts("2024-01-01 10:00:00"), id, fp) }: _*)
      q.processAllAvailable()
      // order-insensitive parity: the kept FINGERPRINT set must be
      // exactly the distinct arrival fps minus the batch-paired ones
      // (stage-2 state keeps one row per fp, whichever arrives first)
      val keptFp = spark.table("neardup_parity")
        .select("fp").as[Long].collect()
      assert(keptFp.length == keptFp.distinct.length,
        "state dedup must keep at most one row per fingerprint")
      val expectedFp = arrivals.map(_._2).toSet -- droppedFp
      assert(keptFp.toSet == expectedFp,
        s"stream kept ${keptFp.toSet}, batch-complement $expectedFp")
    } finally q.stop()
  }

  test("nearDupAgainstCorpus composes with phash payloads (multimodal door)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the same transform guards BINARY ingest: corpus index over
    // phash64 of stored blobs, arriving payloads probed by the same
    // fingerprint expression (byte-level perturbations land within
    // the hamming budget, unrelated payloads far outside)
    val blob = Array.tabulate(256)(i => (i * 7 + 3).toByte)
    val nearBlob = blob.clone(); nearBlob(40) = (nearBlob(40) + 1).toByte
    val farBlob = Array.tabulate(256)(i => (i * 131 + 17).toByte)
    val near = graft.functions.HashKernels.phash64(nearBlob)
    val base = graft.functions.HashKernels.phash64(blob)
    val far = graft.functions.HashKernels.phash64(farBlob)
    assume(java.lang.Long.bitCount(base ^ near) <= 3 &&
      java.lang.Long.bitCount(base ^ far) > 3)
    val corpusBands = graft.operators.Dedup.hammingBandIndex(
      Seq((1L, blob)).toDF("doc_id", "payload")
        .select(col("doc_id"),
          graft.operators.Multimodal.perceptualHash(col("payload"))
            .as("fp")),
      "doc_id", "fp")
    val input = MemoryStream[(Timestamp, Long, Array[Byte])]
    val out = StreamingOps.nearDupAgainstCorpus(
      input.toDF().toDF("ts", "id", "payload"),
      graft.operators.Multimodal.perceptualHash(col("payload")), "ts",
      corpusBands, "10 minutes", maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("phash_door")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 10L, nearBlob), // near stored blob → drop
        (ts("2024-01-01 10:00:01"), 11L, farBlob))  // unrelated → keep
      q.processAllAvailable()
      val kept = spark.table("phash_door").select("id").as[Long].collect().toSeq
      assert(kept == Seq(11L))
    } finally q.stop()
  }

  test("nearDupAgainstCorpus guards: working column, hamming bound") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val corpusBands = graft.operators.Dedup.hammingBandIndex(
      Seq((1L, 2L)).toDF("doc_id", "fp"), "doc_id", "fp")
    val input = MemoryStream[(Timestamp, Long, Long)]
    intercept[IllegalArgumentException] {
      StreamingOps.nearDupAgainstCorpus(
        input.toDF().toDF("ts", "id", "graft_sim"), col("graft_sim"),
        "ts", corpusBands, "10 minutes")
    }
    intercept[IllegalArgumentException] {
      StreamingOps.nearDupAgainstCorpus(
        input.toDF().toDF("ts", "id", "fp"), col("fp"),
        "ts", corpusBands, "10 minutes", maxHamming = 4)
    }
  }

  test("stream-static enrichment joins the broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int)]
    val dim = Seq((1, "gold"), (2, "silver")).toDF("cust_id", "tier")
    val enriched = StreamingOps.enrichWithStatic(
      input.toDF().toDF("ts", "cust"), dim, "cust", "cust_id")
      .select("cust", "tier")
    val q = enriched.writeStream.format("memory").queryName("enr_sink")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1),
        (ts("2024-01-01 10:00:01"), 3))
      q.processAllAvailable()
      val rows = spark.table("enr_sink")
        .as[(Int, Option[String])].collect().toMap
      assert(rows(1).contains("gold"))
      assert(rows(3).isEmpty) // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("batchDrift in foreachBatch: per-batch TV vs the corpus baseline") {
    implicit val sqlCtx = spark.sqlContext
    // corpus baseline: 3 docs in bucket 0, 1 in bucket 1
    val baseline = graft.operators.Curation.histogram(
      (Seq.fill(3)(0) ++ Seq(1)).toDF("v"), col("v"))
      .persist()
    baseline.count()
    val input = MemoryStream[Int]
    val drifts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = input.toDF().toDF("v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        StreamingOps.batchDrift(batch, col("v"), baseline)
          .collect().foreach(r => drifts +=
            ((r.getAs[Long]("t_a"), r.getAs[Long]("tv_permille"))))
        ()
      }
      .start()
    try {
      input.addData(0, 0, 0, 1) // same mix as baseline -> 0
      q.processAllAvailable()
      input.addData(7, 7, 7, 7) // disjoint support -> 1000
      q.processAllAvailable()
      assert(drifts.toSeq == Seq((4L, 0L), (4L, 1000L)))
    } finally { q.stop(); baseline.unpersist(); () }
  }

  test("slidingDrift: per-event-time-window TV matches the batch tvPermille kernel") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // baseline: 3 docs in bucket 0, 1 in bucket 1 (same fixture as the
    // per-batch monitor test, so the two tenses are directly comparable)
    val baseline = graft.operators.Curation.histogram(
      (Seq.fill(3)(0) ++ Seq(1)).toDF("v"), col("v")).persist()
    baseline.count()
    // 10-minute tumble-aligned events: window A matches the baseline
    // mix exactly (tv 0), window B is disjoint support (tv 1000),
    // window C is half-shifted
    val events = Seq(
      (ts("2024-01-01 10:00:00"), 0), (ts("2024-01-01 10:01:00"), 0),
      (ts("2024-01-01 10:02:00"), 0), (ts("2024-01-01 10:03:00"), 1),
      (ts("2024-01-01 10:10:00"), 7), (ts("2024-01-01 10:11:00"), 7),
      (ts("2024-01-01 10:20:00"), 0), (ts("2024-01-01 10:21:00"), 1))
    val input = MemoryStream[(Timestamp, Int)]
    val drift = StreamingOps.slidingDrift(
      input.toDF().toDF("ts", "v"), "ts", col("v"),
      windowLen = "10 minutes", slide = "10 minutes",
      lateness = "5 minutes", baseline, nBuckets = 16)
    val q = drift.writeStream.format("memory").queryName("sdrift_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // push the watermark far enough to close all three windows
      input.addData((ts("2024-01-01 11:00:00"), 0))
      q.processAllAvailable()
      val got = spark.table("sdrift_sink")
        .select("win_start", "t_a", "t_b", "tv_permille")
        .as[(Timestamp, Long, Long, Long)].collect()
        .map { case (w, a, b, tv) => (w.toString, (a, b, tv)) }.toMap
      // per-window parity with the batch kernel: same rows, same TV
      def batchTv(vs: Seq[Int]): Long =
        graft.operators.Curation.tvPermille(
          graft.operators.Curation.histogram(vs.toDF("v"), col("v")),
          baseline)
          .select("tv_permille").as[Long].head()
      assert(got("2024-01-01 10:00:00.0") ==
        ((4L, 4L, batchTv(Seq(0, 0, 0, 1)))))
      assert(got("2024-01-01 10:10:00.0") ==
        ((2L, 4L, batchTv(Seq(7, 7)))))
      assert(got("2024-01-01 10:20:00.0") ==
        ((2L, 4L, batchTv(Seq(0, 1)))))
      // and the fixture is non-vacuous: identical mix → 0, disjoint → 1000
      assert(got("2024-01-01 10:00:00.0")._3 == 0L)
      assert(got("2024-01-01 10:10:00.0")._3 == 1000L)
    } finally { q.stop(); baseline.unpersist(); () }
  }

  test("slidingDrift: overlapping windows each get their own row") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val baseline = graft.operators.Curation.histogram(
      Seq(0, 1).toDF("v"), col("v"))
    val input = MemoryStream[(Timestamp, Int)]
    val drift = StreamingOps.slidingDrift(
      input.toDF().toDF("ts", "v"), "ts", col("v"),
      windowLen = "10 minutes", slide = "5 minutes",
      lateness = "1 minute", baseline, nBuckets = 4)
    val q = drift.writeStream.format("memory").queryName("sdrift_slide")
      .outputMode(OutputMode.Append).start()
    try {
      // one event at 10:07 lands in the 10:00 and 10:05 windows
      input.addData((ts("2024-01-01 10:07:00"), 0))
      input.addData((ts("2024-01-01 11:00:00"), 1)) // close them
      q.processAllAvailable()
      val wins = spark.table("sdrift_slide")
        .filter(col("t_a") === 1L && col("tv_permille") === 500L)
        .select("win_start").as[Timestamp].collect().map(_.toString).sorted
      assert(wins.toSeq == Seq("2024-01-01 10:00:00.0",
        "2024-01-01 10:05:00.0"))
    } finally q.stop()
  }

  test("stream-stream interval join matches purchase to preceding click") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Int, String)]
    val clicks = MemoryStream[(Timestamp, Int, String)]
    val joined = StreamingOps.intervalJoin(
      purchases.toDF().toDF("p_ts", "p_user", "p_id"),
      clicks.toDF().toDF("c_ts", "c_user", "c_id"),
      "p_ts", "c_ts", "p_user", "c_user",
      maxGap = "'30' MINUTE", lateness = "1 hour")
      .select("p_id", "c_id")
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 7, "click1"),
        (ts("2024-01-01 08:00:00"), 7, "clickOld"))
      purchases.addData((ts("2024-01-01 10:10:00"), 7, "buy1"))
      q.processAllAvailable()
      val rows = spark.table("ssj_sink")
        .as[(String, String)].collect().toSet
      assert(rows == Set(("buy1", "click1"))) // clickOld outside 30m gap
    } finally q.stop()
  }

  test("map-only curation ops run unchanged on streams, batch-identical") {
    // The curation surface's membership/labels are pure functions of
    // the row id, so the SAME operator calls must produce the SAME
    // rows whether the corpus arrives as a table or as a stream in
    // arbitrary micro-batches — the batch/stream parity contract that
    // makes incremental ingest safe.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val rows = (0L until 300L).map(i =>
      (i, Seq("a", "b", "c")(i.toInt % 3), s"doc $i mail$i@x.com"))
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.DataSplit.withSplit(
        graft.operators.Mixing.mixWeighted(df, "id", "src",
          Map("a" -> 1.5, "b" -> 1.0), defaultWeight = 0.25), "id")
        .withColumn("red", graft.operators.TextAnalysis.redact(col("text")))
        .select("id", "src", "copy", "split", "red")
    val expected = curate(rows.toDF("id", "src", "text"))
      .as[(Long, String, Long, String, String)].collect().sortBy(r => (r._1, r._3))
    val input = MemoryStream[(Long, String, String)]
    val q = curate(input.toDF().toDF("id", "src", "text"))
      .writeStream.format("memory").queryName("stream_curate")
      .outputMode(OutputMode.Append).start()
    try {
      // split across micro-batches at an arbitrary boundary
      input.addData(rows.take(117): _*)
      q.processAllAvailable()
      input.addData(rows.drop(117): _*)
      q.processAllAvailable()
      val got = spark.table("stream_curate")
        .as[(Long, String, Long, String, String)].collect().sortBy(r => (r._1, r._3))
      assert(got.toSeq == expected.toSeq)
      assert(expected.nonEmpty && expected.exists(_._5.contains("<EMAIL>")))
    } finally q.stop()
  }

  test("stateful per-millisecond counter (A4 streaming form)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counted = StreamingOps.statefulKeyCounter(input.toDS())
    val q = counted.toDF("ms", "seq", "payload")
      .writeStream.format("memory").queryName("ctr_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1000L, "a"), (1000L, "b"), (1001L, "c"))
      q.processAllAvailable()
      input.addData((1000L, "d")) // same ms arrives in a LATER batch
      q.processAllAvailable()
      val rows = spark.table("ctr_sink")
        .as[(Long, Int, String)].collect().toSet
      assert(rows == Set((1000L, 1, "a"), (1000L, 2, "b"),
        (1001L, 1, "c"), (1000L, 3, "d")))
    } finally q.stop()
  }

  test("ingest door: quality + bloom decontamination, batch parity") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon", true))
      .toDF("doc_id", "text", "is_eval")
    val model = graft.operators.Decontaminate.buildShingleBloom(
      evalDocs, "doc_id", "text", col("is_eval"), n = 3)
    // length-saturation-only Q8 model: 6 tokens -> 6,000,000
    def scoreQ8 = {
      val toks = graft.operators.TextAnalysis.tokens(col("text"))
      val lenSatQ4 = floor(least(size(toks), lit(100)).cast("double")
        / 100.0d * 10000.0d + 0.5d).cast("long")
      graft.operators.TextAnalysis.linearModelQ8(
        Seq((lenSatQ4, 10000L)), biasQ8 = 0L)
    }
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "the quick brown fox jumps over"),
      (ts("2024-01-01 10:00:01"), 2L, "tiny low"), // quality drop
      // 3 of 4 trigrams in the eval set: 750 permille -> contam drop
      (ts("2024-01-01 10:00:02"), 3L,
        "alpha beta gamma delta epsilon zeta"),
      // 1 of 5 trigrams: 200 permille -> admitted
      (ts("2024-01-01 10:00:03"), 4L,
        "alpha beta gamma completely different now yes"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val gated = StreamingOps.admitAtDoor(
      input.toDF().toDF("ts", "id", "text"), "text",
      scoreQ8, minScoreQ8 = 5000000L, model)
    val q = gated.writeStream.format("memory").queryName("door_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamIds = spark.table("door_sink")
        .select("id").as[Long].collect().sorted.toSeq
      assert(streamIds == Seq(1L, 4L))
      // the gate is stateless, so the SAME call on a static frame
      // must admit the SAME ids — batch/stream parity by construction
      val batchIds = StreamingOps.admitAtDoor(
          rows.toDF("ts", "id", "text"), "text",
          scoreQ8, minScoreQ8 = 5000000L, model)
        .select("id").as[Long].collect().sorted.toSeq
      assert(batchIds == streamIds)
      // gate output keeps the caller's schema: no graft_ residue
      assert(spark.table("door_sink").columns.toSeq ==
        Seq("ts", "id", "text"))
    } finally q.stop()
  }

  test("doorFingerprint: digest equality implies fingerprint equality") {
    import org.apache.spark.sql.functions.col
    // the exactDigest-colliding classes — case and edge SPACES (Spark
    // trim strips ' ' only, and exactDigest uses the same trim, so
    // e.g. a trailing newline makes digests differ too — consistently
    // on both sides) — must collapse to ONE fingerprint, or
    // ingestDoor's single state lookup cannot subsume the exact-dedup
    // story
    val variants = Seq("fresh doc", "FRESH DOC", "  fresh doc  ",
      " Fresh Doc ").toDF("text")
      .select(graft.operators.Dedup.exactDigest(col("text")).as("d"),
        StreamingOps.doorFingerprint(col("text")).as("fp"))
      .distinct().collect()
    assert(variants.length == 1,
      s"digest-identical variants must share one fingerprint: " +
        variants.mkString(","))
  }

  test("appendToBandedIndex: batch-N admit blocks its batch-N+1 near-dup; append == rebuild") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Dedup
    // static corpus: one doc at fingerprint 0xF0F0
    val corpus = Seq((100L, 0xF0F0L)).toDF("doc_id", "fp")
    var index = Dedup.hammingBandIndex(corpus, "doc_id", "fp")
    // batch N: doc 1 far from the corpus → admitted by the probe
    val batchN = Seq((1L, 0xABCD1234L)).toDF("doc_id", "fp")
    // run the REAL stateless probe the door uses, in batch mode: the
    // transform is watermark-elided on static frames, so the same call
    // is both the streaming gate and this test's per-batch probe
    def admit(batch: org.apache.spark.sql.DataFrame) =
      StreamingOps.nearDupAgainstCorpus(
        batch.withColumn("ts", lit(ts("2024-01-01 10:00:00"))),
        col("fp"), "ts", index, "10 minutes", maxHamming = 3)
        .select("doc_id", "fp")
    val admittedN = admit(batchN).as[(Long, Long)].collect().toSeq
    assert(admittedN == Seq((1L, 0xABCD1234L)))
    // ONE append folds the admitted docs in — no corpus rebuild
    index = Dedup.appendToBandedIndex(index,
      admittedN.toDF("doc_id", "fp"), "doc_id", "fp")
    // batch N+1: doc 2 is hamming-1 from the batch-N admit → must now
    // be dropped; doc 3 far from everything → admitted
    val batchN1 = Seq((2L, 0xABCD1235L), (3L, 0x00FF00FF00L))
      .toDF("doc_id", "fp")
    val admittedN1 = admit(batchN1).as[(Long, Long)].collect().toSeq
    assert(admittedN1 == Seq((3L, 0x00FF00FF00L)),
      "the window the scaladoc promises to close: a batch-N admit " +
        "must block its hamming-1 twin after one append")
    // append == rebuild, row-identical: the same index a from-scratch
    // hammingBandIndex over (corpus ∪ admitted) would build
    val rebuilt = Dedup.hammingBandIndex(
      corpus.unionByName(admittedN.toDF("doc_id", "fp")), "doc_id", "fp")
    val got = index.as[(Long, Long, Int, Long)].collect().sorted.toSeq
    val want = rebuilt.as[(Long, Long, Int, Long)].collect().sorted.toSeq
    assert(got == want, "appended index must be bit-identical to rebuild")
  }

  test("appendToDigestIndex: append == rebuild; refreshed digests drop next batch's dups") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Dedup
    val corpus = Seq((100L, "old doc")).toDF("doc_id", "text")
    var digests = Dedup.digestIndex(corpus, "text")
    def admit(batch: org.apache.spark.sql.DataFrame) =
      StreamingOps.dedupAgainstCorpus(
        batch.withColumn("ts", lit(ts("2024-01-01 10:00:00"))),
        "text", "ts", digests, "10 minutes")
        .select("doc_id", "text")
    // batch N: fresh doc admitted (and an in-batch repeat dropped)
    val admittedN = admit(Seq((1L, "fresh doc"), (2L, "fresh doc"))
      .toDF("doc_id", "text")).as[(Long, String)].collect().toSeq
    assert(admittedN.map(_._2) == Seq("fresh doc"))
    digests = Dedup.appendToDigestIndex(digests,
      admittedN.toDF("doc_id", "text"), "text")
    // batch N+1: the batch-N admit (even renormalized) is now a corpus
    // dup; a new doc passes
    val admittedN1 = admit(Seq((3L, "  FRESH DOC  "), (4L, "another"))
      .toDF("doc_id", "text")).as[(Long, String)].collect().toSeq
    assert(admittedN1.map(_._1) == Seq(4L))
    // append == rebuild over corpus ∪ admitted, row-identical
    val rebuilt = Dedup.digestIndex(
      corpus.unionByName(admittedN.toDF("doc_id", "text")), "text")
    assert(digests.as[String].collect().sorted.toSeq ==
      rebuilt.as[String].collect().sorted.toSeq)
  }

  test("ingestDoor composes every gate: stream admits == batch admits, one stateful op") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Decontaminate, Dsir, TextAnalysis => TA}
    // ---- models and corpus indexes (tiny but every gate non-vacuous)
    val evalDocs = Seq((900L, "alpha beta gamma delta epsilon", true))
      .toDF("doc_id", "text", "is_eval")
    val bloom = Decontaminate.buildShingleBloom(
      evalDocs, "doc_id", "text", col("is_eval"), n = 3)
    val dsirCorpus = Seq(
      (1L, "apple banana cherry damson elder", true),
      (2L, "banana cherry apple elder damson", true),
      (3L, "hammer wrench pliers chisel rasp", false),
      (4L, "wrench hammer rasp pliers chisel", false)
    ).toDF("doc_id", "text", "is_t")
    val dsir = Dsir.fitModel(dsirCorpus, "doc_id",
      TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "apple banana cherry elder quince plum"))
      .toDF("doc_id", "text")
    val corpusDigests = Dedup.digestIndex(corpus, "text")
    val simOf = StreamingOps.doorFingerprint(col("text"))
    val corpusBands = Dedup.hammingBandIndex(
      corpus.select(col("doc_id"), simOf.as("fp")), "doc_id", "fp")
    def scoreQ8 = {
      val toks = TA.tokens(col("text"))
      val lenSatQ4 = floor(least(size(toks), lit(100)).cast("double")
        / 100.0d * 10000.0d + 0.5d).cast("long")
      TA.linearModelQ8(Seq((lenSatQ4, 10000L)), biasQ8 = 0L)
    }
    def door(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.ingestDoor(df, "text", "ts",
        scoreQ8, minScoreQ8 = 4000000L, bloom, dsir,
        corpusDigests, corpusBands, "10 minutes")
    val rows = Seq(
      // fruit, long, clean, novel → ADMIT
      (ts("2024-01-01 10:00:00"), 1L,
        "apple damson cherry banana elder damson apple cherry"),
      // tool vocabulary → DSIR drop
      (ts("2024-01-01 10:00:01"), 2L,
        "hammer wrench pliers chisel rasp hammer wrench pliers"),
      // too short → quality drop (and DSIR-ambiguous)
      (ts("2024-01-01 10:00:02"), 3L, "apple banana cherry"),
      // fruit-leading but saturated with eval shingles (3 of 5
      // trigrams = 600 permille >= 500) → decontam drop
      (ts("2024-01-01 10:00:03"), 4L,
        "apple banana alpha beta gamma delta epsilon"),
      // byte-identical to the corpus doc → exact-dedup drop
      (ts("2024-01-01 10:00:04"), 5L,
        "apple banana cherry elder quince plum"),
      // token permutation of the corpus doc → same simhash → near-dup drop
      (ts("2024-01-01 10:00:05"), 6L,
        "plum quince elder cherry banana apple"),
      // in-stream repeat of doc 1's text → state drop
      (ts("2024-01-01 10:00:06"), 7L,
        "apple damson cherry banana elder damson apple cherry"),
      // second distinct clean fruit doc → ADMIT
      (ts("2024-01-01 10:00:07"), 8L,
        "cherry elder apple damson banana cherry elder apple damson"),
      // edge-space + case variant of doc 1: digest-IDENTICAL
      // (exactDigest lowers and trims) and, because doorFingerprint
      // normalizes the same way, fingerprint-identical too → the ONE
      // state lookup drops it — the subsumption the door's budget
      // rests on
      (ts("2024-01-01 10:00:08"), 9L,
        "  APPLE damson cherry banana elder damson apple cherry  "))
    // ---- streaming run (two micro-batches at an arbitrary boundary)
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = door(input.toDF().toDF("ts", "id", "text"))
      .writeStream.format("memory").queryName("full_door")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(5): _*)
      q.processAllAvailable()
      input.addData(rows.drop(5): _*)
      q.processAllAvailable()
      val streamIds = spark.table("full_door")
        .select("id").as[Long].collect().sorted.toSeq
      assert(streamIds == Seq(1L, 8L),
        s"door must admit exactly the clean novel docs, got $streamIds")
      // column ownership: no graft_ residue anywhere in the chain
      assert(spark.table("full_door").columns.toSeq ==
        Seq("ts", "id", "text"))
      // ---- end-to-end batch parity: the SAME composed call on the
      // static frame admits the SAME documents. Compared on the
      // NORMALIZED text (docs 1/7/9 are digest-identical variants,
      // and which of the equivalent rows survives a key-dedup is not
      // order-guaranteed on either path — the admitted CONTENT CLASS
      // is the contract)
      val norm = lower(trim(col("text")))
      val streamTexts = spark.table("full_door")
        .select(norm).as[String].collect().toSet
      val batchTexts = door(rows.toDF("ts", "id", "text"))
        .select(norm).as[String].collect().toSet
      assert(batchTexts == streamTexts,
        s"batch door admitted $batchTexts, stream admitted $streamTexts")
    } finally q.stop()
  }

  test("ingestDoor drops a NULL-text document without crashing") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Decontaminate, Dsir, TextAnalysis => TA}
    // a null payload carries no trainable content; the door must
    // reject it through its ordinary gates (null score fails the
    // quality filter), not crash or let it ride a null join key
    // through the anti-probes
    val evalDocs = Seq((900L, "alpha beta gamma", true))
      .toDF("doc_id", "text", "is_eval")
    val bloom = Decontaminate.buildShingleBloom(
      evalDocs, "doc_id", "text", col("is_eval"), n = 3)
    val dsirCorpus = Seq(
      (1L, "apple banana cherry damson elder", true),
      (2L, "hammer wrench pliers chisel rasp", false))
      .toDF("doc_id", "text", "is_t")
    val dsir = Dsir.fitModel(dsirCorpus, "doc_id",
      TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "quince plum fig")).toDF("doc_id", "text")
    val corpusDigests = Dedup.digestIndex(corpus, "text")
    val corpusBands = Dedup.hammingBandIndex(
      corpus.select(col("doc_id"),
        StreamingOps.doorFingerprint(col("text")).as("fp")),
      "doc_id", "fp")
    val scoreQ8 = {
      val toks = TA.tokens(col("text"))
      val lenSatQ4 = floor(least(size(toks), lit(100)).cast("double")
        / 100.0d * 10000.0d + 0.5d).cast("long")
      TA.linearModelQ8(Seq((lenSatQ4, 10000L)), biasQ8 = 0L)
    }
    val rows: Seq[(Timestamp, Long, Option[String])] = Seq(
      (ts("2024-01-01 10:00:00"), 1L,
        Some("apple damson cherry banana elder damson apple cherry")),
      (ts("2024-01-01 10:00:01"), 2L, None))
    val admitted = StreamingOps.ingestDoor(
        rows.toDF("ts", "id", "text"), "text", "ts",
        scoreQ8, minScoreQ8 = 4000000L, bloom, dsir,
        corpusDigests, corpusBands, "10 minutes")
      .select("id").as[Long].collect().toSeq
    assert(admitted == Seq(1L),
      s"null-text doc must be dropped at the door, got $admitted")
  }

  test("ingestDoor + index append: the full incremental loop closes the near-dup window") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Decontaminate, Dsir, TextAnalysis => TA}
    // permissive gates (this test is about the index loop, not scoring)
    val bloom = Decontaminate.buildShingleBloom(
      Seq((1L, "completely unrelated eval content", true))
        .toDF("doc_id", "text", "is_eval"),
      "doc_id", "text", col("is_eval"), n = 3)
    val dsirCorpus = Seq(
      (1L, "apple banana cherry damson elder", true),
      (2L, "hammer wrench pliers chisel rasp", false))
      .toDF("doc_id", "text", "is_t")
    val dsir = Dsir.fitModel(dsirCorpus, "doc_id",
      TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "apple banana cherry elder quince plum"))
      .toDF("doc_id", "text")
    val simOf = StreamingOps.doorFingerprint(col("text"))
    // the mutable loop state: both corpus indexes, refreshed per batch
    var digests = Dedup.digestIndex(corpus, "text").persist()
    var bands = Dedup.hammingBandIndex(
      corpus.select(col("doc_id"), simOf.as("fp")), "doc_id", "fp")
      .persist()
    def doorBatch(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.ingestDoor(df, "text", "ts",
        lit(100000000L), minScoreQ8 = 0L, bloom, dsir,
        digests, bands, "10 minutes")
    val admits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Timestamp, Long, String)]
    // foreachBatch IS the production loop: admit through the door,
    // then fold the admitted docs into both indexes so the NEXT batch
    // probes a refreshed corpus — the operator form of the scaladoc's
    // "caught on the next corpus-index refresh"
    val q = input.toDF().toDF("ts", "id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val admitted = doorBatch(batch)
          .select(col("id"), col("text")).as[(Long, String)].collect()
        admits ++= admitted.map(_._1)
        if (admitted.nonEmpty) {
          val adf = admitted.toSeq.toDF("doc_id", "text")
          digests = Dedup.appendToDigestIndex(digests, adf, "text")
          bands = Dedup.appendToBandedIndex(bands,
            adf.select(col("doc_id"), simOf.as("fp")), "doc_id", "fp")
        }
        ()
      }.start()
    try {
      // batch N: a novel fruit doc (admitted, then appended)
      input.addData((ts("2024-01-01 10:00:00"), 11L,
        "damson elder apple cherry banana damson elder"))
      q.processAllAvailable()
      assert(admits.toSeq == Seq(11L))
      // batch N+1: a PERMUTATION of batch N's admit (same token set →
      // same simhash, different digest) — only a refreshed band index
      // can drop it; plus one genuinely new doc
      input.addData(
        (ts("2024-01-01 10:01:00"), 12L,
          "elder damson cherry apple banana elder damson"),
        (ts("2024-01-01 10:01:01"), 13L,
          "quince plum damson apple elder banana cherry quince"))
      q.processAllAvailable()
      assert(admits.toSeq == Seq(11L, 13L),
        s"batch-N admit must block its permutation in batch N+1, got $admits")
    } finally { q.stop(); digests.unpersist(); bands.unpersist(); () }
  }

  test("BatchIdGate: redelivered batches skip, crash-before-commit replays") {
    val path = java.nio.file.Files
      .createTempDirectory("gate").resolve("applied").toString
    val gate = new graft.streaming.BatchIdGate(path)
    assert(gate.lastCommitted() == -1L && gate.isNew(0L))
    // normal flow: apply + commit, then the redelivery skips
    gate.commit(0L)
    assert(!gate.isNew(0L) && gate.isNew(1L))
    // crash BETWEEN side effect and commit = nothing recorded: the
    // redelivered batch is (correctly) applied again
    assert(gate.isNew(1L))
    gate.commit(1L)
    assert(!gate.isNew(1L) && !gate.isNew(0L) && gate.isNew(2L))
    // a fresh instance over the same file recovers the watermark
    // (driver restart), and regressing commits are rejected
    val recovered = new graft.streaming.BatchIdGate(path)
    assert(recovered.lastCommitted() == 1L && !recovered.isNew(1L))
    intercept[IllegalArgumentException] { recovered.commit(0L) }
    // the full loop shape: only new batches run the appends
    val applied = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (bid <- Seq(2L, 3L, 3L, 4L)) { // 3 redelivered
      if (recovered.isNew(bid)) { applied += bid; recovered.commit(bid) }
    }
    assert(applied.toSeq == Seq(2L, 3L, 4L))
    // a record an OS-level crash left empty/garbled must degrade to
    // "replay everything" (-1), never wedge the loop in a crash cycle
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Array.emptyByteArray)
    val corrupt = new graft.streaming.BatchIdGate(path)
    assert(corrupt.lastCommitted() == -1L && corrupt.isNew(0L))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "not-a-number".getBytes("UTF-8"))
    assert(corrupt.lastCommitted() == -1L)
    corrupt.commit(7L) // and the gate resumes normal service
    assert(corrupt.lastCommitted() == 7L)
  }

  test("semanticProbe drops near-identical embeddings against the " +
    "staged IVF index: drop/keep fixture, NULL passes, batch parity, " +
    "nProbe widens across a centroid boundary") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // exact centroids (constructed index, not sampled) so every
    // assignment in the fixture is arithmetically forced
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 0.0, 0.0, 1.0)))
    val emptyAssigned = Seq.empty[(Long, Seq[Double], Long)]
      .toDF("c_id", "c_vec", "cent_id")
    val corpus = Seq(
      (0L, Array(1.0f, 0.02f, 0.0f, 0.0f)),   // cluster 0
      (1L, Array(0.98f, 0.0f, 0.01f, 0.0f)),  // cluster 0
      (2L, Array(0.0f, 0.01f, 0.0f, 1.0f)),   // cluster 1
      // near the boundary but in cluster 0 (cos to c0 beats c1)
      (3L, Array(1.0f, 0.0f, 0.0f, 0.99f)))
      .toDF("vec_id", "embedding")
    val index = Similarity.appendToAnnIndex(
      Similarity.IvfIndex(cents, emptyAssigned),
      corpus, "vec_id", "embedding")
    val rows: Seq[(Timestamp, Long, Array[Float])] = Seq(
      // near-identical to corpus 0, same cluster → DROP
      (ts("2024-01-01 10:00:00"), 10L, Array(1.0f, 0.021f, 0.0f, 0.0f)),
      // cluster 0 but angled (cos ~0.8 to every member) → KEEP
      (ts("2024-01-01 10:00:01"), 11L, Array(0.8f, 0.6f, 0.0f, 0.0f)),
      // near-identical to corpus 2 in cluster 1 → DROP
      (ts("2024-01-01 10:00:02"), 12L, Array(0.0f, 0.012f, 0.0f, 1.0f)),
      // novel direction → KEEP
      (ts("2024-01-01 10:00:03"), 13L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      // NULL embedding: no semantic evidence → KEEP, never crash
      (ts("2024-01-01 10:00:04"), 14L, null),
      // near-identical TWIN of corpus 3 but lands in cluster 1
      // (cos to c1 beats c0) — the straddle nProbe exists for
      (ts("2024-01-01 10:00:05"), 15L, Array(0.99f, 0.0f, 0.0f, 1.0f)))
    def probe(df: org.apache.spark.sql.DataFrame, nProbe: Int) =
      StreamingOps.semanticProbe(df, "embedding", index,
        cosThreshold = 0.95, nProbe = nProbe)
    // ---- streaming tense
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = probe(input.toDF().toDF("ts", "id", "embedding"), 1)
      .writeStream.format("memory").queryName("sem_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamIds = spark.table("sem_sink")
        .select("id").as[Long].collect().sorted.toSeq
      // nProbe=1: the straddler (15) is MISSED — it probes cluster 1
      // where its twin is not
      assert(streamIds == Seq(11L, 13L, 14L, 15L),
        s"semantic gate admitted $streamIds")
      // column ownership: no graft_ residue
      assert(spark.table("sem_sink").columns.toSeq ==
        Seq("ts", "id", "embedding"))
      // ---- batch parity: stateless probe, identical verdicts
      val batchIds = probe(rows.toDF("ts", "id", "embedding"), 1)
        .select("id").as[Long].collect().sorted.toSeq
      assert(batchIds == streamIds)
    } finally q.stop()
    // ---- nProbe=2 also probes the straddler's second-nearest list
    // and catches the boundary twin; everything else is unchanged
    val wide = probe(rows.toDF("ts", "id", "embedding"), 2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(wide == Seq(11L, 13L, 14L),
      s"nProbe=2 must catch the boundary twin, admitted $wide")
  }

  test("semanticProbe agrees with an XL-built index: the row-local " +
    "native rank kernel lands arrivals in the lists the BROADCAST " +
    "assignment filled, batch and streaming") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // 5000 vectors -> sqrt-N = 71 centroids: the index build runs on
    // the broadcast mapPartitions transport and the door's probe rank
    // on the native CentroidRank kernel — two transports whose
    // scoring contracts compose, pinned end to end here (drop
    // requires the kernel's rank-1 to equal the assignment that
    // filled the list)
    val corpus = (0 until 5000).map { i =>
      val c = if (i % 2 == 0) Array(1.0f, 0.02f, 0.01f, 0.0f)
              else Array(0.0f, 0.01f, 0.02f, 1.0f)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val index = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      Similarity.suggestedNCentroids(5000L), persistIndex = false)
    assert(index.cents.size === 71)
    // corpus member 0's embedding, per the generator above
    val twin = Array(1.0f, 0.021f, 0.012f, 0.003f)
    val novel = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val rows: Seq[(Timestamp, Long, Array[Float])] = Seq(
      (ts("2024-01-01 10:00:00"), 10L, twin),   // near corpus 0 → DROP
      (ts("2024-01-01 10:00:01"), 11L, novel))  // novel → KEEP
    val out = StreamingOps.semanticProbe(
        rows.toDF("ts", "id", "embedding"), "embedding", index,
        cosThreshold = 0.999, nProbe = 1)
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(11L),
      s"XL-index semantic gate admitted $out (twin must drop via the " +
        "list the broadcast assignment filled)")
    // the STREAMING tense: the probe rank is the native CentroidRank
    // kernel — prove it serializes, codegens, and verdicts
    // identically inside a real streaming query
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = StreamingOps.semanticProbe(
        input.toDF().toDF("ts", "id", "embedding"), "embedding", index,
        cosThreshold = 0.999, nProbe = 1)
      .writeStream.format("memory").queryName("sem_xl_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamIds = spark.table("sem_xl_sink")
        .select("id").as[Long].collect().sorted.toSeq
      assert(streamIds == out,
        s"streaming XL gate admitted $streamIds, batch admitted $out")
    } finally q.stop()
  }

  test("semanticProbe through the two-level hierarchy: full wProbe is " +
    "verdict-identical to the flat kernel on an XL index, batch and " +
    "streaming; narrow wProbe still catches the in-cluster twin; a " +
    "mismatched hierarchy is rejected") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // the XL fixture above: 71 centroids, two tight clusters — flat
    // gate = CentroidRankKernel, hierarchical
    // gate = TwoLevelRankKernel over the SAME index
    val corpus = (0 until 5000).map { i =>
      val c = if (i % 2 == 0) Array(1.0f, 0.02f, 0.01f, 0.0f)
              else Array(0.0f, 0.01f, 0.02f, 1.0f)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val index = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      Similarity.suggestedNCentroids(5000L), persistIndex = false)
    assert(index.cents.size === 71)
    val tlq = Similarity.twoLevelQuantizer(index.cents)
    val twin = Array(1.0f, 0.021f, 0.012f, 0.003f)
    val novel = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val rows: Seq[(Timestamp, Long, Array[Float])] = Seq(
      (ts("2024-01-01 10:00:00"), 10L, twin),   // near corpus 0 → DROP
      (ts("2024-01-01 10:00:01"), 11L, novel),  // novel → KEEP
      (ts("2024-01-01 10:00:02"), 12L, null))   // NULL → KEEP
    def probe(df: org.apache.spark.sql.DataFrame,
              h: Option[Similarity.TwoLevelQuantizer], w: Int) =
      StreamingOps.semanticProbe(df, "embedding", index,
        cosThreshold = 0.999, nProbe = 1, hier = h, wProbe = w)
        .select("id").as[Long].collect().sorted.toSeq
    val flat = probe(rows.toDF("ts", "id", "embedding"), None, 2)
    val full = probe(rows.toDF("ts", "id", "embedding"),
      Some(tlq), tlq.supers.size)
    assert(full == flat && flat == Seq(11L, 12L),
      s"full-wProbe hierarchy admits $full, flat admits $flat")
    // narrow wProbe: the twin's nearest list sits under its own
    // top-scored super in this well-separated fixture, so the gate
    // still drops it with the √K scan
    val narrow = probe(rows.toDF("ts", "id", "embedding"), Some(tlq), 2)
    assert(narrow == flat,
      s"narrow-wProbe hierarchy admits $narrow, flat admits $flat")
    // streaming tense: the TwoLevelRankKernel serializes, codegens,
    // and verdicts identically inside a real streaming query
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = StreamingOps.semanticProbe(
        input.toDF().toDF("ts", "id", "embedding"), "embedding", index,
        cosThreshold = 0.999, nProbe = 1, hier = Some(tlq), wProbe = 2)
      .writeStream.format("memory").queryName("sem_tlq_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamIds = spark.table("sem_tlq_sink")
        .select("id").as[Long].collect().sorted.toSeq
      assert(streamIds == flat,
        s"streaming two-level gate admitted $streamIds, flat $flat")
    } finally q.stop()
    // a hierarchy built over the WRONG centroid set cannot silently
    // mis-route: the probe rejects it at plan-build time
    val wrongTlq = Similarity.twoLevelQuantizer(index.cents.take(8))
    val e = intercept[IllegalArgumentException] {
      StreamingOps.semanticProbe(rows.toDF("ts", "id", "embedding"),
        "embedding", index, nProbe = 1, hier = Some(wrongTlq))
    }
    assert(e.getMessage.contains("build the TwoLevelQuantizer"))
    // the REALISTIC stale case: a rebuild keeps K and reuses ids
    // 0..K-1, so a hierarchy cached across it has the right COUNT and
    // the right ID SET but the old vectors — the guard compares
    // vectors and still rejects it
    val staleTlq = Similarity.twoLevelQuantizer(
      index.cents.map { case (id, v) => (id, v.map(_ + 0.25d)) })
    assert(staleTlq.nCentroids == index.cents.size)
    val e2 = intercept[IllegalArgumentException] {
      StreamingOps.semanticProbe(rows.toDF("ts", "id", "embedding"),
        "embedding", index, nProbe = 1, hier = Some(staleTlq))
    }
    assert(e2.getMessage.contains("stale hierarchy"))
  }

  test("DSIR gate admits target-like docs at the door, batch parity") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // training corpus: fruit vocabulary is the clean target
    // distribution, tool vocabulary the raw-only noise
    val corpus = Seq(
      (1L, "apple banana cherry damson elder", true),
      (2L, "banana cherry apple elder damson", true),
      (3L, "hammer wrench pliers chisel rasp", false),
      (4L, "wrench hammer rasp pliers chisel", false),
      (5L, "apple banana cherry damson elder", false),
      (6L, "hammer apple wrench banana rasp", false)
    ).toDF("doc_id", "text", "is_t")
    val model = graft.operators.Dsir.fitModel(corpus, "doc_id",
      graft.operators.TextAnalysis.tokens(col("text")),
      isTarget = col("is_t"))
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "cherry apple banana damson"),
      (ts("2024-01-01 10:00:01"), 2L, "pliers chisel hammer wrench"),
      // never-trained grams score the smoothed default — a doc of only
      // unknowns lands at the default per-gram weight; what matters
      // here is that stream and batch agree on its fate
      (ts("2024-01-01 10:00:02"), 3L, "zyxxy quorble fnord"),
      (ts("2024-01-01 10:00:03"), 4L, "apple elder cherry banana"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val gated = StreamingOps.dsirAdmitAtDoor(
      input.toDF().toDF("ts", "id", "text"), "text", model)
    val q = gated.writeStream.format("memory").queryName("dsir_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamIds = spark.table("dsir_sink")
        .select("id").as[Long].collect().sorted.toSeq
      // fruit docs admitted, tool doc dropped
      assert(streamIds.contains(1L) && streamIds.contains(4L))
      assert(!streamIds.contains(2L))
      // stateless gate: identical verdicts on the static twin
      val batchIds = StreamingOps.dsirAdmitAtDoor(
          rows.toDF("ts", "id", "text"), "text", model)
        .select("id").as[Long].collect().sorted.toSeq
      assert(batchIds == streamIds)
      assert(spark.table("dsir_sink").columns.toSeq ==
        Seq("ts", "id", "text"))
    } finally q.stop()
  }

  test("retrievalProbe in foreachBatch: per-batch scoring == one-shot " +
    "BM25 over the table state each batch saw; an appended doc is " +
    "retrievable in the NEXT batch") {
    import graft.operators.{Retrieval, TextAnalysis => TA}
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog")).toDF("doc_id", "text")
    val newDoc = Seq((4L, "elk elk apple")).toDF("doc_id", "text")
    val prefix = "graft_probe_bm25"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      val input = MemoryStream[(Long, String)]
      // the streaming tense is foreachBatch BY CONTRACT
      val err = intercept[IllegalArgumentException] {
        StreamingOps.retrievalProbe(
          input.toDF().toDF("query_id", "text"), "query_id",
          TA.tokens(col("text")), prefix, k = 3)
      }
      assert(err.getMessage.contains("foreachBatch"))
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      val q = input.toDF().toDF("query_id", "text").writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
            val s = batch.sparkSession
            // the cross-session visibility contract: the appender
            // below runs in the TEST session; the stream's cloned
            // session must refresh before re-planning over the tables
            tables.foreach(s.catalog.refreshTable)
            got ++= StreamingOps.retrievalProbe(batch, "query_id",
                TA.tokens(col("text")), prefix, k = 10)
              .select("query", "rank", "doc", "score_q6")
              .as[(Long, Long, Long, Long)](
                org.apache.spark.sql.Encoders.product[
                  (Long, Long, Long, Long)])
              .collect()
            ()
        }.start()
      try {
        input.addData((100L, "apple cherry"))
        q.processAllAvailable()
        // between batches: the ingest loop folds an admitted doc into
        // the postings tables — zero corpus re-reads
        Retrieval.appendToPostingsIndexTable(newDoc, "doc_id",
          TA.tokens(col("text")), prefix, buckets = 2)
        input.addData((101L, "elk"), (102L, "apple cherry"))
        q.processAllAvailable()
        // and a TAKEDOWN between batches: the tombstone delete is
        // visible to the very next probe, no corpus re-reads either
        Retrieval.deleteFromPostingsIndexTable(spark,
          Seq(1L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
          batchId = Some(0L))
        input.addData((103L, "apple cherry"))
        q.processAllAvailable()
      } finally q.stop()
      def oneShot(c: org.apache.spark.sql.DataFrame, qs: Seq[(Long, String)]) =
        Retrieval.bm25TopK(c, "doc_id", TA.tokens(col("text")),
            qs.toDF("query_id", "text"), "query_id",
            TA.tokens(col("text")), k = 10)
          .select("query", "rank", "doc", "score_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      val batch1 = got.filter(_._1 == 100L).toSet
      val batch2 = got.filter(r => r._1 == 101L || r._1 == 102L).toSet
      val batch3 = got.filter(_._1 == 103L).toSet
      // batch 1 scored against the 3-doc table state
      assert(batch1 === oneShot(corpus, Seq((100L, "apple cherry"))))
      // batch 2 sees the appended doc: the elk query retrieves doc 4,
      // and the repeated apple/cherry query's scores reflect the NEW
      // N/avg-length/df — exactly the post-append one-shot
      assert(batch2 === oneShot(corpus.unionByName(newDoc),
        Seq((101L, "elk"), (102L, "apple cherry"))))
      assert(batch2.exists(r => r._1 == 101L && r._3 == 4L),
        "the appended doc must be retrievable in the next batch")
      // batch 3 sees the takedown: the same query re-scored over the
      // surviving corpus exactly (df/N/avg-length all shrunk), and
      // the deleted doc is gone from the lists
      assert(batch3 === oneShot(
        corpus.filter(col("doc_id") =!= 1L).unionByName(newDoc),
        Seq((103L, "apple cherry"))))
      assert(batch3.nonEmpty && !batch3.exists(_._3 == 1L),
        "a deleted doc must not be retrievable in the next batch")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("rerankProbe in foreachBatch: per-batch funnel == one-shot " +
    "retrieve-then-rerank over the table state each batch saw; a doc " +
    "whose postings AND embedding landed in batch N is rerankable in " +
    "batch N+1") {
    import graft.operators.{Retrieval, TextAnalysis => TA}
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog")).toDF("doc_id", "text")
    val newDoc = Seq((4L, "elk elk apple")).toDF("doc_id", "text")
    def vecOf(i: Long) = Array.tabulate(3)(j =>
      (((i * 7 + j * 5) % 9) - 4).toFloat)
    val prefix = "graft_rerank_bm25"
    val embTable = "graft_rerank_emb"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _) :+ embTable
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      graft.sources.BucketedTables.writeBucketed(
        Seq(1L, 2L, 3L).map(i => (i, vecOf(i))).toDF("vec_id", "embedding"),
        embTable, buckets = 2, Seq("vec_id"))
      val input = MemoryStream[(Long, String, Array[Float])]
      // kRetrieve < k is a contract violation, not a silent truncation
      intercept[IllegalArgumentException] {
        StreamingOps.rerankProbe(
          Seq((100L, "apple", vecOf(100L))).toDF("query_id", "text", "qv"),
          "query_id", TA.tokens(col("text")), "qv", prefix,
          embTable, "vec_id", "embedding", kRetrieve = 2, k = 5)
      }
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double)]
      val q = input.toDF().toDF("query_id", "text", "qv").writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
            val s = batch.sparkSession
            (tables :+ embTable).foreach(s.catalog.refreshTable)
            got ++= StreamingOps.rerankProbe(batch, "query_id",
                TA.tokens(col("text")), "qv", prefix,
                embTable, "vec_id", "embedding", kRetrieve = 10, k = 2)
              .select(col("query"), col("rank"), col("doc"),
                graft.rnd(col("cos"), 4).as("cos"))
              .as[(Long, Long, Long, Double)](
                org.apache.spark.sql.Encoders.product[
                  (Long, Long, Long, Double)])
              .collect()
            ()
        }.start()
      try {
        input.addData((100L, "apple cherry", vecOf(100L)))
        q.processAllAvailable()
        // the ingest loop lands batch N's admit in BOTH staged states:
        // postings tables and the bucketed embeddings table
        Retrieval.appendToPostingsIndexTable(newDoc, "doc_id",
          TA.tokens(col("text")), prefix, buckets = 2)
        graft.sources.BucketedTables.appendBucketed(
          Seq((4L, vecOf(4L))).toDF("vec_id", "embedding"),
          embTable, buckets = 2, Seq("vec_id"))
        input.addData((101L, "elk", vecOf(101L)),
          (102L, "apple cherry", vecOf(102L)))
        q.processAllAvailable()
      } finally q.stop()
      // the one-shot twin: same operators over the same corpus state,
      // outside any stream
      def oneShot(c: org.apache.spark.sql.DataFrame,
                  qs: Seq[(Long, String, Array[Float])]) = {
        val qdf = qs.toDF("query_id", "text", "qv")
        val cands = Retrieval.bm25TopK(c, "doc_id",
          TA.tokens(col("text")), qdf, "query_id",
          TA.tokens(col("text")), k = 10)
        Retrieval.rerankByCosine(cands, qdf, "query_id", "qv",
            c.select("doc_id").join(
              (Seq(1L, 2L, 3L, 4L).map(i => (i, vecOf(i))))
                .toDF("vec_id", "embedding"),
              col("doc_id") === col("vec_id")),
            "vec_id", "embedding", k = 2)
          .select(col("query"), col("rank"), col("doc"),
            graft.rnd(col("cos"), 4).as("cos"))
          .as[(Long, Long, Long, Double)].collect().toSet
      }
      val batch1 = got.filter(_._1 == 100L).toSet
      val batch2 = got.filter(_._1 != 100L).toSet
      assert(batch1 === oneShot(corpus,
        Seq((100L, "apple cherry", vecOf(100L)))))
      assert(batch2 === oneShot(corpus.unionByName(newDoc),
        Seq((101L, "elk", vecOf(101L)),
          (102L, "apple cherry", vecOf(102L)))))
      assert(batch2.exists(r => r._1 == 101L && r._3 == 4L),
        "the doc landed in batch N must be rerankable in batch N+1")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("hybridProbe in foreachBatch: per-batch lexical ⊕ dense RRF " +
    "fusion == one-shot over the same staged state; a NULL-vector " +
    "query contributes only its lexical list") {
    import graft.operators.{Retrieval, Similarity, TextAnalysis => TA}
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog"), (4L, "dog elk"))
      .toDF("doc_id", "text")
    def vecOf(i: Long) = Array.tabulate(3)(j =>
      (((i * 13 + j * 7) % 9) - 4).toFloat)
    val corpusVecs = Seq(1L, 2L, 3L, 4L)
      .map(i => (i, vecOf(i))).toDF("vec_id", "embedding")
    val prefix = "graft_hybrid_bm25"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      val ivf = Similarity.ivfIndex(corpusVecs, "vec_id", "embedding",
        nCentroids = 2, persistIndex = false)
      // contract violation raises before any probe runs
      intercept[IllegalArgumentException] {
        StreamingOps.hybridProbe(
          Seq((100L, "apple", vecOf(100L))).toDF("query_id", "text", "qv"),
          "query_id", TA.tokens(col("text")), "qv", prefix, ivf,
          kRetrieve = 1, k = 5)
      }
      val queries = Seq(
        (100L, "apple cherry", vecOf(100L)),
        // NULL vector: lexical list only — still fused, never dropped
        (101L, "dog banana", null.asInstanceOf[Array[Float]]),
        // no token matches anything: dense list only
        (102L, "zyxxy", vecOf(102L)))
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      val input = MemoryStream[(Long, String, Array[Float])]
      val q = input.toDF().toDF("query_id", "text", "qv").writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
            val s = batch.sparkSession
            tables.foreach(s.catalog.refreshTable)
            got ++= StreamingOps.hybridProbe(batch, "query_id",
                TA.tokens(col("text")), "qv", prefix, ivf,
                kRetrieve = 10, k = 3, nProbe = 2)
              .select("query", "rank", "doc", "rrf_q6")
              .as[(Long, Long, Long, Long)](
                org.apache.spark.sql.Encoders.product[
                  (Long, Long, Long, Long)])
              .collect()
            ()
        }.start()
      try {
        input.addData(queries.take(2): _*)
        q.processAllAvailable()
        input.addData(queries.drop(2): _*)
        q.processAllAvailable()
      } finally q.stop()
      // one-shot twin: same operators over the same staged state,
      // all queries in one frame, outside any stream
      val qdf = queries.toDF("query_id", "text", "qv")
      val bm = Retrieval.bm25TopKWith(
          Retrieval.loadPostingsIndex(spark, prefix),
          qdf, "query_id", TA.tokens(col("text")), k = 10)
        .select("query", "rank", "doc")
      val dense = Similarity.ivfTopKWith(ivf, qdf, "query_id", "qv",
          k = 10, nProbe = 2)
        .select(col("q_id").as("query"),
          col("rank").cast("long").as("rank"), col("c_id").as("doc"))
      val want = Retrieval.rrfFuse(Seq(bm, dense), k = 3)
        .select("query", "rank", "doc", "rrf_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.toSet === want)
      // the edge semantics actually occurred: the NULL-vec query
      // produced results (lexical-only), the no-match query produced
      // results (dense-only)
      assert(got.exists(_._1 == 101L), "lexical-only query must fuse")
      assert(got.exists(_._1 == 102L), "dense-only query must fuse")
      // and a consensus doc (in both lists) exists for query 100 —
      // its rrf_q6 must exceed any single-list-rank-1 contribution
      val top100 = got.filter(_._1 == 100L).minBy(_._2)
      assert(top100._4 > math.floor(1000000.0 / 61).toLong,
        s"expected a consensus boost for query 100: $top100")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("hybrid takedown: a doc deleted from BOTH spaces (postings " +
    "tables + IVF index) never resurfaces through hybridProbe, and " +
    "the fused lists equal a frozen-quantizer rebuild over the " +
    "survivors") {
    import graft.operators.{Retrieval, Similarity, TextAnalysis => TA}
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog"), (4L, "dog elk"))
      .toDF("doc_id", "text")
    def vecOf(i: Long) = Array.tabulate(3)(j =>
      (((i * 13 + j * 7) % 9) - 4).toFloat)
    val corpusVecs = Seq(1L, 2L, 3L, 4L)
      .map(i => (i, vecOf(i))).toDF("vec_id", "embedding")
    val prefix = "graft_hybrid_takedown"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax",
      "_stats", "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      val ivf = Similarity.ivfIndex(corpusVecs, "vec_id", "embedding",
        nCentroids = 2, persistIndex = false)
      // the victim's OWN text and vector as the query — the hardest
      // case: both spaces consider it the best match
      val qdf = Seq((200L, "cherry cherry cherry dog", vecOf(3L)))
        .toDF("query_id", "text", "qv")
      def fused(ix: Similarity.IvfIndex) =
        StreamingOps.hybridProbe(qdf, "query_id",
            TA.tokens(col("text")), "qv", prefix, ix,
            kRetrieve = 10, k = 4, nProbe = 2)
          .select("query", "rank", "doc", "rrf_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      assert(fused(ivf).exists(_._3 == 3L),
        "pre-delete, the victim must be in the fused list")
      // the takedown, applied to BOTH retrieval spaces
      Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(3L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
        batchId = Some(0L))
      val ivfDel = Similarity.deleteFromAnnIndex(ivf,
        Seq(3L).toDF("vec_id"), "vec_id")
      val after = fused(ivfDel)
      assert(after.nonEmpty && !after.exists(_._3 == 3L),
        "post-delete, the victim must be gone from the fused list")
      // delete == rebuild at the FUSED level: fresh postings tables
      // over the survivors + the same-quantizer IVF over the
      // survivors fuse to the identical lists
      val survivors = corpus.filter(col("doc_id") =!= 3L)
      val survVecs = corpusVecs.filter(col("vec_id") =!= 3L)
      val prefix2 = prefix + "_rb"
      val tables2 = Seq("_postings", "_doclen", "_dfreq", "_tfmax",
        "_stats", "_tombstones").map(prefix2 + _)
      try {
        Retrieval.createPostingsIndexTable(survivors, "doc_id",
          TA.tokens(col("text")), prefix2, buckets = 2)
        val ivfSurv = Similarity.appendToAnnIndex(
          Similarity.IvfIndex(ivf.cents, ivf.assigned.limit(0)),
          survVecs, "vec_id", "embedding")
        val want = StreamingOps.hybridProbe(qdf, "query_id",
            TA.tokens(col("text")), "qv", prefix2, ivfSurv,
            kRetrieve = 10, k = 4, nProbe = 2)
          .select("query", "rank", "doc", "rrf_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(after === want)
      } finally tables2.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("filtered hybridProbe: the allowlist constrains BOTH spaces " +
    "inside their rankings — the fused lists equal probing " +
    "subset-restricted index states, and a disallowed doc that tops " +
    "both spaces never appears") {
    import graft.operators.{Retrieval, Similarity, TextAnalysis => TA}
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog"), (4L, "dog elk"))
      .toDF("doc_id", "text")
    def vecOf(i: Long) = Array.tabulate(3)(j =>
      (((i * 13 + j * 7) % 9) - 4).toFloat)
    val corpusVecs = Seq(1L, 2L, 3L, 4L)
      .map(i => (i, vecOf(i))).toDF("vec_id", "embedding")
    val prefix = "graft_hybrid_filtered"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax",
      "_stats", "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      val ivf = Similarity.ivfIndex(corpusVecs, "vec_id", "embedding",
        nCentroids = 2, persistIndex = false)
      // doc 3's own text+vector as the query: it tops BOTH spaces,
      // and the allowlist excludes it
      val qdf = Seq((200L, "cherry cherry cherry dog", vecOf(3L)))
        .toDF("query_id", "text", "qv")
      val allowed = Seq(1L, 2L, 4L).toDF("doc")
      val got = StreamingOps.hybridProbe(qdf, "query_id",
          TA.tokens(col("text")), "qv", prefix, ivf,
          kRetrieve = 10, k = 4, nProbe = 2,
          allowedDocs = Some(allowed))
        .select("query", "rank", "doc", "rrf_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.nonEmpty && !got.exists(_._3 == 3L),
        s"the disallowed doc must never appear: $got")
      // parity: the same fusion over explicitly subset-restricted
      // index states (the one-shot the operator promises)
      val bm = Retrieval.bm25TopKWith(
          Retrieval.restrictToDocs(
            Retrieval.loadPostingsIndex(spark, prefix),
            allowed, "doc"),
          qdf, "query_id", TA.tokens(col("text")), k = 10)
        .select("query", "rank", "doc")
      val dense = Similarity.ivfTopKWith(
          Similarity.restrictAnnToIds(ivf, allowed, "doc"),
          qdf, "query_id", "qv", k = 10, nProbe = 2)
        .select(col("q_id").as("query"),
          col("rank").cast("long").as("rank"), col("c_id").as("doc"))
      val want = Retrieval.rrfFuse(Seq(bm, dense), k = 4)
        .select("query", "rank", "doc", "rrf_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === want)
      // and the allowed docs RANK UP: rank 1 now goes to an allowed
      // doc that an unfiltered probe ranks below doc 3
      val unfiltered = StreamingOps.hybridProbe(qdf, "query_id",
          TA.tokens(col("text")), "qv", prefix, ivf,
          kRetrieve = 10, k = 1, nProbe = 2)
        .select("doc").as[Long].head()
      assert(unfiltered === 3L, "fixture: the victim tops unfiltered")
      assert(got.exists(_._2 == 1L), "filtered rank 1 must exist")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("filtered hybridProbe honors the allowlist on EVERY dense " +
    "family (LSH, PQ, IVF+PQ): fused lists equal explicitly " +
    "restricted fusion and the disallowed doc never appears") {
    // round-13 shipped the allowlist for the IVF dense side only; a
    // deployment serving hybrid off any OTHER family could not honor
    // it and would leak disallowed docs through RRF — this pins the
    // restrictAnnToIds/annTopKWith seam per family, against the same
    // fixture as the IVF test above (doc 3 tops both spaces, the
    // allowlist excludes it)
    import graft.operators.{Retrieval, Similarity, TextAnalysis => TA}
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog"), (4L, "dog elk"))
      .toDF("doc_id", "text")
    def vecOf(i: Long) = Array.tabulate(3)(j =>
      (((i * 13 + j * 7) % 9) - 4).toFloat)
    val corpusVecs = Seq(1L, 2L, 3L, 4L)
      .map(i => (i, vecOf(i))).toDF("vec_id", "embedding")
    val prefix = "graft_hybrid_filtered_fam"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax",
      "_stats", "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      val qdf = Seq((200L, "cherry cherry cherry dog", vecOf(3L)))
        .toDF("query_id", "text", "qv")
      val allowed = Seq(1L, 2L, 4L).toDF("doc")
      // the PQ families' exact-rerank frame, columns named like the
      // query frame's (the annTopKWith contract)
      val rerank = corpusVecs
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val fams: Seq[Similarity.AnnIndex] = Seq(
        Similarity.lshIndex(corpusVecs, "vec_id", "embedding",
          nPlanes = 2, persistIndex = false),
        Similarity.pqIndex(corpusVecs, "vec_id", "embedding",
          m = 3, ksub = 2, persistIndex = false),
        Similarity.ivfPqIndex(corpusVecs, "vec_id", "embedding",
          nCentroids = 2, m = 3, ksub = 2, persistIndex = false))
      fams.foreach { ix =>
        val fam = ix.getClass.getSimpleName
        val got = StreamingOps.hybridProbe(qdf, "query_id",
            TA.tokens(col("text")), "qv", prefix, ix,
            kRetrieve = 10, k = 4, nProbe = 2,
            allowedDocs = Some(allowed),
            semRerankVecs = Some(rerank))
          .select("query", "rank", "doc", "rrf_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got.nonEmpty && !got.exists(_._3 == 3L),
          s"$fam: the disallowed doc must never appear: $got")
        // parity with the one-shot over explicitly restricted states
        val bm = Retrieval.bm25TopKWith(
            Retrieval.restrictToDocs(
              Retrieval.loadPostingsIndex(spark, prefix),
              allowed, "doc"),
            qdf, "query_id", TA.tokens(col("text")), k = 10)
          .select("query", "rank", "doc")
        val dense = Similarity.annTopKWith(
            Similarity.restrictAnnToIds(ix, allowed, "doc"),
            qdf, "query_id", "qv", k = 10, nProbe = 2,
            rerankVecs = Some(rerank), rerankDepth = 10)
          .select(col("q_id").as("query"),
            col("rank").cast("long").as("rank"), col("c_id").as("doc"))
        val want = Retrieval.rrfFuse(Seq(bm, dense), k = 4)
          .select("query", "rank", "doc", "rrf_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got === want, s"$fam: filtered hybrid must equal " +
          "fusion over restricted states")
      }
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Drive the orderedMerge fixture (interleaved queues, a
    * same-millisecond tie, a later-than-watermark record, a
    * still-held tail record) against either merge form and return
    * the emitted rows in sink order plus the dropped-late total. */
  private def runOrderedMergeFixture(
      merge: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[graft.sources.mq.MQSources.QueueRecord],
      sink: String): (List[(String, Timestamp, Int, String)], Long) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Int, String, String)]
    val merged = merge(
      input.toDF().toDF("queue", "put_ts", "seq", "key", "value"))
    val q = merged.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append).start()
    def rec(qn: String, t: String, s: Int) =
      (qn, ts(t), s, s"$qn@$t#$s", "payload")
    try {
      // batch 1: two queues interleaved, arrival order deliberately
      // NOT the event order; the same-millisecond tie (10:00:03 on
      // both queues, seq 1 each) must resolve by queue name
      input.addData(
        rec("qA", "2024-01-01 10:00:05", 1),
        rec("qB", "2024-01-01 10:00:04", 1),
        rec("qA", "2024-01-01 10:00:03", 1),
        rec("qB", "2024-01-01 10:00:03", 1))
      q.processAllAvailable() // wm -> 10:00:03
      // batch 2: watermark advances to 10:00:08 -> releases :03/:03,
      // then :04, :05; the :10 record waits
      input.addData(rec("qB", "2024-01-01 10:00:10", 1))
      q.processAllAvailable()
      // batch 3: a record older than the watermark (:04 < :08) is
      // dropped — the documented lateness horizon; :12 waits
      input.addData(
        rec("qA", "2024-01-01 10:00:04", 9),
        rec("qA", "2024-01-01 10:00:12", 1))
      q.processAllAvailable() // wm -> 10:00:10; timeout flushes :10
      input.addData(rec("qB", "2024-01-01 10:00:20", 1))
      q.processAllAvailable() // wm -> 10:00:18 -> releases :12
      val got = spark.table(sink)
        .select("queue", "put_ts", "seq", "key")
        .as[(String, Timestamp, Int, String)].collect().toList
      (got, graft.sources.mq.MQSources.droppedLateTotal(q))
    } finally q.stop()
  }

  private def assertOrderedMergeContract(
      got: List[(String, Timestamp, Int, String)], dropped: Long): Unit = {
    // emitted sequence is globally ordered ACROSS batches
    val keys = got.map(r => (r._2.getTime, r._3, r._1))
    assert(keys == keys.sorted, s"out of order: $got")
    // exactly the in-watermark records, the tie broken qA-then-qB,
    // and the late seq=9 record absent
    assert(got.map(_._4) == List(
      "qA@2024-01-01 10:00:03#1", "qB@2024-01-01 10:00:03#1",
      "qB@2024-01-01 10:00:04#1", "qA@2024-01-01 10:00:05#1",
      "qB@2024-01-01 10:00:10#1", "qA@2024-01-01 10:00:12#1"))
    // the :20 record is still held (watermark has not passed it)
    assert(!got.exists(_._4.contains("10:00:20")))
    // the lateness horizon is OBSERVABLE: exactly the one
    // later-than-watermark record surfaced in the progress metric
    assert(dropped == 1L,
      s"expected the late seq=9 record in numRowsDroppedByWatermark, " +
        s"got $dropped")
  }

  test("orderedMerge: interleaved arrivals across queues emit in " +
    "global (put_ts, seq, queue) order within the watermark; " +
    "later-than-watermark arrivals drop, observably") {
    val (got, dropped) = runOrderedMergeFixture(
      graft.sources.mq.MQSources.orderedMerge(_, lateness = "2 seconds"),
      "om_sink")
    assertOrderedMergeContract(got, dropped)
  }

  test("purgeFromLanding rewrites ONLY the victims' own batch " +
    "partitions, is idempotent, and recovers a crashed swap") {
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files.createTempDirectory("graft-purge")
    val dir = root.toString
    def land(b: Long, rows: (Long, String)*): Unit =
      StreamingOps.writeBatchIdempotent(
        rows.toDF("doc_id", "text"), b, dir)
    def landedIds(): Set[Long] =
      spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    def fileSig(b: Long): Set[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(dir, s"batch_id=$b")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(s =>
        (s.getPath.getName, s.getModificationTime)).toSet
    }
    land(0L, (1L, "alpha"), (2L, "beta"))
    land(1L, (3L, "gamma"), (4L, "delta"))
    land(2L, (5L, "epsilon"))
    val sig0 = fileSig(0L)
    val sig2 = fileSig(2L)
    // victim 3 lives in batch 1; id 99 is absent — only batch 1 may
    // be rewritten, and exactly one row leaves
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(3L, 99L).toDF("doc_id"), "doc_id") === 1L)
    assert(landedIds() === Set(1L, 2L, 4L, 5L))
    assert(fileSig(0L) === sig0 && fileSig(2L) === sig2,
      "untouched batches must keep their files byte-identical")
    // idempotent: the victim is gone, so nothing matches
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(3L).toDF("doc_id"), "doc_id") === 0L)
    assert(landedIds() === Set(1L, 2L, 4L, 5L))
    // purge a whole partition to empty — readers keep working
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(5L).toDF("doc_id"), "doc_id") === 1L)
    assert(landedIds() === Set(1L, 2L, 4L))
    // crashed swap, variant A: died between delete and rename — the
    // staging dir holds the only copy; the next call restores it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir, "batch_id=0"),
      new org.apache.hadoop.fs.Path(dir, "batch_id=0__purging"))
    assert(StreamingOps.purgeFromLanding(spark, dir,
      spark.emptyDataset[Long].toDF("doc_id"), "doc_id") === 0L)
    assert(landedIds() === Set(1L, 2L, 4L))
    // crashed swap, variant B: died before the swap started — live
    // AND (possibly incomplete) staging present, no trash; the stale
    // staging is discarded, live wins
    land(3L, (7L, "zeta"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir,
      "batch_id=3__purging"))
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(7L).toDF("doc_id"), "doc_id") === 1L)
    assert(landedIds() === Set(1L, 2L, 4L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "batch_id=3__purging")))
    // crashed swap, variant C: died between the two atomic renames —
    // live is aside in __purged, the completed staging copy is
    // authoritative; non-victim row 9 must survive
    land(4L, (8L, "eta"), (9L, "theta"))
    Seq((9L, "theta")).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/batch_id=4__purging")
    fs.rename(new org.apache.hadoop.fs.Path(dir, "batch_id=4"),
      new org.apache.hadoop.fs.Path(dir, "batch_id=4__purged"))
    assert(StreamingOps.purgeFromLanding(spark, dir,
      spark.emptyDataset[Long].toDF("doc_id"), "doc_id") === 0L)
    assert(landedIds() === Set(1L, 2L, 4L, 9L),
      "the staging survivors must be restored, the victim gone")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "batch_id=4__purged")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "batch_id=4__purging")))
    // crashed swap, variant D: died after the swap completed but
    // before the trash delete — live intact, stray trash removed
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir,
      "batch_id=4__purged"))
    assert(StreamingOps.purgeFromLanding(spark, dir,
      spark.emptyDataset[Long].toDF("doc_id"), "doc_id") === 0L)
    assert(landedIds() === Set(1L, 2L, 4L, 9L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "batch_id=4__purged")))
  }

  test("landing lookup: admit-time (id → batch_id) rows equal the " +
    "scan's pairs, lookup-driven purge equals the scan path, and " +
    "lookup hygiene keeps re-purges no-ops") {
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files.createTempDirectory("graft-plkp")
    val dir = s"$root/landing"
    val lkp = s"$root/lookup"
    def land(b: Long, rows: (Long, String)*): Unit = {
      StreamingOps.writeBatchIdempotent(
        rows.toDF("doc_id", "text"), b, dir)
      StreamingOps.writeLandingLookup(
        rows.toDF("doc_id", "text"), "doc_id", b, lkp)
    }
    def pairs(d: String): Set[(Long, Long)] =
      spark.read.parquet(d).select(col("doc_id"),
          col("batch_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    def landedIds(): Set[Long] =
      spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    def fileSig(d: String, b: Long): Set[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(d, s"batch_id=$b")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(s =>
        (s.getPath.getName, s.getModificationTime)).toSet
    }
    land(0L, (1L, "alpha"), (2L, "beta"))
    land(1L, (3L, "gamma"), (4L, "delta"))
    land(2L, (5L, "epsilon"))
    // DISCOVERY PARITY: the lookup holds exactly the landing's
    // (id, batch) pairs — so filtering either to the victims yields
    // the same affected-partition set, which is the purge's whole
    // discovery contract
    assert(pairs(lkp) === pairs(dir))
    // a replayed admit batch must not duplicate lookup rows (the
    // writeBatchIdempotent _SUCCESS gate covers the lookup too)
    land(1L, (3L, "gamma"), (4L, "delta"))
    assert(pairs(lkp) === pairs(dir))
    // lookup-driven purge: same result as the scan path, untouched
    // partitions byte-identical in BOTH directories
    val sigL0 = fileSig(dir, 0L)
    val sigK0 = fileSig(lkp, 0L)
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(3L, 99L).toDF("doc_id"), "doc_id",
      lookupDir = Some(lkp)) === 1L)
    assert(landedIds() === Set(1L, 2L, 4L, 5L))
    assert(fileSig(dir, 0L) === sigL0 && fileSig(lkp, 0L) === sigK0,
      "batches without victims must keep their files byte-identical")
    // HYGIENE: the victim's lookup row left with it, so the lookup
    // again equals the landing — and a re-purge of the same id finds
    // no partition to touch on either path
    assert(pairs(lkp) === pairs(dir))
    val sigL1 = fileSig(dir, 1L)
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(3L).toDF("doc_id"), "doc_id",
      lookupDir = Some(lkp)) === 0L)
    assert(fileSig(dir, 1L) === sigL1,
      "a re-purge of an already-purged id must not re-swap its " +
        "old partition (the hygiene pass removed its lookup row)")
    // and the no-lookup scan path purges the rest identically
    assert(StreamingOps.purgeFromLanding(spark, dir,
      Seq(5L).toDF("doc_id"), "doc_id") === 1L)
    assert(landedIds() === Set(1L, 2L, 4L))
  }

  test("staged allowlist: gated grant/revoke between batches drives " +
    "the NEXT probe's serving set, revoke → re-grant round-trips " +
    "(tombstones can't), replay is idempotent, compaction is " +
    "serving-equivalent") {
    import graft.operators.{Allowlist, Retrieval, TextAnalysis => TA}
    import graft.streaming.StreamingOps
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog"), (4L, "dog elk"))
      .toDF("doc_id", "text")
    val prefix = "graft_allow_funnel"
    val aprefix = "graft_allow_state"
    val tables = Retrieval.indexTableNames(prefix) ++
      Allowlist.allowlistTableNames(aprefix)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      Allowlist.createAllowlistTable(corpus.select("doc_id"),
        "doc_id", aprefix, buckets = 2)
      val qdf = Seq((200L, "cherry cherry cherry dog"))
        .toDF("query_id", "text")
      // the funnel's call shape: the allowlist is re-resolved from
      // its staged table per probe call, so a change staged in batch
      // N serves in batch N+1 with no other plumbing
      def probe(): Set[Long] = StreamingOps.retrievalProbe(qdf,
          "query_id", TA.tokens(col("text")), prefix, k = 10,
          allowedDocs = Some(Allowlist.loadAllowlist(spark, aprefix)))
        .select("doc").as[Long].collect().toSet
      assert(probe().contains(3L), "base grant set must serve doc 3")
      // batch 0 revokes doc 3 (license reclassification mid-stream)
      Allowlist.stageAllowlistChange(Seq(3L).toDF("doc_id"), "doc_id",
        allowed = false, aprefix, buckets = 2, batchId = 0L)
      val afterRevoke = probe()
      assert(afterRevoke.nonEmpty && !afterRevoke.contains(3L))
      // per-batch == one-shot: the staged-state probe equals the
      // explicit-frame form under the same allowed set
      val explicit = StreamingOps.retrievalProbe(qdf, "query_id",
          TA.tokens(col("text")), prefix, k = 10,
          allowedDocs = Some(Seq(1L, 2L, 4L).toDF("doc")))
        .select("doc").as[Long].collect().toSet
      assert(afterRevoke === explicit)
      // replaying the same gated mutation is idempotent
      Allowlist.stageAllowlistChange(Seq(3L).toDF("doc_id"), "doc_id",
        allowed = false, aprefix, buckets = 2, batchId = 0L)
      assert(probe() === afterRevoke)
      // batch 1 re-grants: latest-wins event log — the semantics a
      // tombstone-only allowlist cannot express
      Allowlist.stageAllowlistChange(Seq(3L).toDF("doc_id"), "doc_id",
        allowed = true, aprefix, buckets = 2, batchId = 1L)
      assert(probe().contains(3L), "re-grant must serve doc 3 again")
      // batch 2 revokes again; compaction then collapses the event
      // log serving-equivalently (and drops the revoked doc's rows)
      Allowlist.stageAllowlistChange(Seq(3L).toDF("doc_id"), "doc_id",
        allowed = false, aprefix, buckets = 2, batchId = 2L)
      val served = Allowlist.loadAllowlist(spark, aprefix)
        .as[Long].collect().toSet
      // the growth alarm: base + three gated mutations = four batch
      // dirs > maxBatchDirs — maintain compacts (audit-gated, the
      // maintainPostingsIndexTable contract)
      assert(Allowlist.maintainAllowlistTable(spark, aprefix,
        buckets = 2, maxBatchDirs = 2),
        "four batch dirs must trip the growth alarm")
      assert(Allowlist.loadAllowlist(spark, aprefix)
        .as[Long].collect().toSet === served)
      assert(probe() === afterRevoke,
        "compaction must not change the serving set")
      // healthy after the collapse (one base dir): no-op
      assert(!Allowlist.maintainAllowlistTable(spark, aprefix,
        buckets = 2, maxBatchDirs = 2))
      // a fresh mutation re-arms the alarm only past the bound
      Allowlist.stageAllowlistChange(Seq(2L).toDF("doc_id"), "doc_id",
        allowed = false, aprefix, buckets = 2, batchId = 3L)
      assert(!Allowlist.maintainAllowlistTable(spark, aprefix,
        buckets = 2, maxBatchDirs = 2),
        "two dirs within the bound must stay a no-op")
      // the PRE-swap crash window (round 16, ADVICE): staging copy
      // fully written, live table never dropped — both exist. A
      // healthy maintain pass must drop the stale staging copy (the
      // live table is intact, so this is housekeeping, not a rewrite)
      // instead of leaving it to linger until the next growth alarm.
      val allowTbl = aprefix + "_allow"
      graft.sources.BucketedTables.writeBucketed(
        spark.table(allowTbl), allowTbl + "_compacting", 2,
        Seq("doc"), partitionCols = Seq("batch_id"))
      val servedBefore = Allowlist.loadAllowlist(spark, aprefix)
        .as[Long].collect().toSet
      assert(!Allowlist.maintainAllowlistTable(spark, aprefix,
        buckets = 2, maxBatchDirs = 2),
        "stale-staging cleanup is housekeeping, not a rewrite")
      assert(!spark.catalog.tableExists(allowTbl + "_compacting"),
        "a healthy maintain pass must drop the stale staging copy")
      assert(Allowlist.loadAllowlist(spark, aprefix)
        .as[Long].collect().toSet === servedBefore,
        "dropping the stale copy must not touch the live table")
      intercept[IllegalArgumentException] {
        Allowlist.maintainAllowlistTable(spark, aprefix, buckets = 2,
          maxBatchDirs = 0)
      }
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("staged allowlist mutates MID-STREAM: a revoke staged while " +
    "batch N processes gates batch N+1's probe — the true " +
    "foreachBatch tense, cross-session refreshTable included") {
    import graft.operators.{Allowlist, Retrieval, TextAnalysis => TA}
    import graft.streaming.StreamingOps
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry dog"), (4L, "dog elk"))
      .toDF("doc_id", "text")
    val prefix = "graft_allow_stream"
    val aprefix = "graft_allow_stream_state"
    val tables = Retrieval.indexTableNames(prefix) ++
      Allowlist.allowlistTableNames(aprefix)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      Allowlist.createAllowlistTable(corpus.select("doc_id"),
        "doc_id", aprefix, buckets = 2)
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val seen = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Set[Long])]
      val q = input.toDF().toDF("query_id", "text").writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
            val s = batch.sparkSession
            // the cloned session caches file listings — the capstone's
            // cross-session visibility contract applies to the
            // allowlist table like any staged table
            (Retrieval.indexTableNames(prefix) ++
              Allowlist.allowlistTableNames(aprefix))
              .foreach(s.catalog.refreshTable)
            val got = StreamingOps.retrievalProbe(batch, "query_id",
                TA.tokens(col("text")), prefix, k = 10,
                allowedDocs =
                  Some(Allowlist.loadAllowlist(s, aprefix)))
              .select("doc")
              .collect().map(_.getLong(0)).toSet
            seen += ((batchId, got))
            // the license reclassification lands DURING batch 0 —
            // exactly where a production loop stages it (gated on the
            // batch's own id)
            if (batchId == 0L)
              Allowlist.stageAllowlistChange(
                s.createDataset(Seq(3L))(
                  org.apache.spark.sql.Encoders.scalaLong)
                  .toDF("doc_id"),
                "doc_id", allowed = false, aprefix, buckets = 2,
                batchId = 0L)
        }
        .start()
      try {
        input.addData((200L, "cherry cherry cherry dog"))
        q.processAllAvailable()
        input.addData((201L, "cherry cherry cherry dog"))
        q.processAllAvailable()
      } finally q.stop()
      val byBatch = seen.toMap
      assert(byBatch(0L).contains(3L),
        s"batch 0 probes the pre-revoke serving set: $seen")
      assert(byBatch(1L).nonEmpty && !byBatch(1L).contains(3L),
        s"batch 1 must serve under the batch-0 revoke: $seen")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
