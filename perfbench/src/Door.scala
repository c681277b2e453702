package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.operators.{Decontaminate, Dedup, Dsir, Similarity, TextAnalysis => TA}
import graft.streaming.StreamingOps

/** `door_backlog`: the production ingest loop. An `ibmmq` file queue
  * feeds the full five-gate `ingestDoor` (in-plan band gate, semantic
  * gate on a √N-centroid IVF index) into a parquet landing sink with a
  * checkpoint, draining a pre-filled backlog in rate-capped
  * micro-batches. Corpus, index recipe and arrival mix follow
  * `tools/ingest_bench.scala`; the corpus is generated from the seed. */
object Door {
  val BatchCap = 500 // messages per trigger: half a second at 1000 msg/s
  // backlog size per second of --seconds: 16 batches at 10 s, a drain of
  // 14-30 s on 4 cores
  val ArrivalsPerSecond = 800
  val Lateness = "10 minutes"
  val WarmUpBatches = 5
  val Classes = Seq("exact_dup", "near_variant", "novel")

  /** Deterministic 8-dim embedding of the two-token prefix: variants
    * sharing a prefix are semantic twins only the fifth gate sees. */
  def embedOf(text: Column): Column = {
    val prefix = concat_ws(" ", slice(TA.tokens(text), 1, 2))
    transform(sequence(lit(0), lit(7)), i =>
      (pmod(xxhash64(concat_ws("_", prefix, i.cast("string"))),
        lit(2000L)).cast("double") - 1000.0d) / 1000.0d)
  }

  /** The integer Q8 quality model of q_text_quality_model. */
  def scoreQ8Of(text: Column): Column = {
    val toks = TA.tokens(text)
    def q4(x: Column) = (x * 10000).cast("long")
    val g2 = TA.shingles(toks, 2)
    val stopQ4 = q4(TA.stopwordRatio(toks, Seq("the", "a", "of", "and", "to")))
    val repQ4 = q4(when(size(g2) === 0, lit(0.0d)).otherwise(
      lit(1.0d) - size(array_distinct(g2)).cast("double") / size(g2).cast("double")))
    val lenSatQ4 = q4(least(size(toks), lit(100)).cast("double") / 100.0d)
    val shortQ4 = when(size(toks) < 20, lit(10000L)).otherwise(lit(0L))
    TA.linearModelQ8(Seq((stopQ4, 8000L), (repQ4, -12000L), (lenSatQ4, 6000L),
      (shortQ4, -5000L)), biasQ8 = 20000000L)
  }

  final case class Model(bloom: Decontaminate.BloomModel, dsir: Dsir.DsirModel,
                         ivf: Similarity.IvfIndex, digests: DataFrame,
                         bands: DataFrame, corpusDigests: Set[String])

  /** Builds the corpus-side state and the arrival queues. Returns the
    * model, per-step seconds, and the class share of the arrivals. */
  def setup(ctx: Ctx, tracer: Tracer, nArrivals: Int)
  : (Model, Map[String, Double], Map[String, Double]) = {
    val spark = ctx.spark
    val steps = scala.collection.mutable.Map.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(name, "setup")(body)
      steps(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val docs = step("corpus") {
      val d = spark.read.parquet(s"${ctx.data}/documents.parquet")
        .select("doc_id", "text").persist()
      d.count()
      d
    }
    val buckets = 2 * ctx.cores
    step("digest_index") {
      spark.sql("DROP TABLE IF EXISTS pb_dig")
      Dedup.createDigestIndexTable(docs, "text", "pb_dig", buckets)
    }
    step("band_index") {
      spark.sql("DROP TABLE IF EXISTS pb_band")
      Dedup.createBandedIndexTable(docs.select(col("doc_id"),
        StreamingOps.doorFingerprint(col("text")).as("fp")),
        "doc_id", "fp", "pb_band", buckets)
    }
    val bloom = step("bloom")(Decontaminate.buildShingleBloom(
      docs.withColumn("is_eval", col("doc_id") % 11 === 0),
      "doc_id", "text", col("is_eval"), n = 3))
    val dsir = step("dsir")(Dsir.fitModel(
      docs.limit(2000).withColumn("is_t", col("doc_id") % 2 === 0),
      "doc_id", TA.tokens(col("text")), isTarget = col("is_t")))
    val nCorpus = docs.count()
    val ivf = step("ivf")(Similarity.ivfIndex(
      docs.select(col("doc_id").as("vec_id"), embedOf(col("text")).as("embedding")),
      "vec_id", "embedding", nCentroids = Similarity.suggestedNCentroids(nCorpus),
      persistIndex = true))
    val shares = step("queue") {
      // per corpus doc: one exact duplicate, three near/semantic variants
      // sharing its opening tokens, two novel docs; seeded order
      val arrivals = docs.crossJoin(spark.range(6).toDF("variant"))
        .select(col("variant"),
          when(col("variant") === 0, col("text"))
            .when(col("variant") < 4,
              concat(col("text"), lit(" variant token "), col("variant")))
            .otherwise(concat(lit("novel"), col("doc_id"), lit("v"),
              col("variant"), lit(" opening "), reverse(col("text")))).as("msg"))
        .orderBy(xxhash64(col("variant"), col("msg"), lit(ctx.seed)))
        .limit(nArrivals).collect()
      val sb = new java.lang.StringBuilder
      arrivals.zipWithIndex.foreach { case (r, i) =>
        sb.append(1700000000000L + i).append('\t').append(r.getString(1)).append('\n') }
      Files.write(Paths.get(ctx.dir("queue"), "queue.jsonl"), sb.toString.getBytes(UTF_8))
      val cls = arrivals.map(r => r.getLong(0) match {
        case 0 => "exact_dup"; case v if v < 4 => "near_variant"; case _ => "novel" })
      Classes.map(c => c -> cls.count(_ == c).toDouble / arrivals.length).toMap
    }
    val digests = spark.table("pb_dig")
    val corpusDigests = digests.select("digest").as[String](Encoders.STRING).collect().toSet
    (Model(bloom, dsir, ivf, digests, spark.table("pb_band"), corpusDigests),
      steps.toMap, shares)
  }

  def door(m: Model, s: DataFrame): DataFrame =
    StreamingOps.ingestDoor(s, "value", "put_ts", scoreQ8Of(col("value")), 0L,
      m.bloom, m.dsir, m.digests, m.bands, lateness = Lateness, semIndex = Some(m.ivf))

  /** Cumulative stages in door order; the delta between consecutive
    * stages is one gate's cost and drop count. The digest stage is
    * `dedupAgainstCorpus`, which also drops in-stream exact repeats. */
  def stages(m: Model): Seq[(String, DataFrame => DataFrame)] = {
    def s1(s: DataFrame) = StreamingOps.dsirAdmitAtDoor(s, "value", m.dsir)
    def s2(s: DataFrame) = StreamingOps.admitAtDoor(s1(s), "value",
      scoreQ8Of(col("value")), 0L, m.bloom)
    Seq(
      "source" -> ((s: DataFrame) => s),
      "dsir" -> (s1 _),
      "quality_decontam" -> (s2 _),
      "digest" -> ((s: DataFrame) => StreamingOps.dedupAgainstCorpus(s2(s), "value",
        "put_ts", m.digests, Lateness)),
      "band" -> ((s: DataFrame) => StreamingOps.ingestDoor(s, "value", "put_ts",
        scoreQ8Of(col("value")), 0L, m.bloom, m.dsir, m.digests, m.bands,
        lateness = Lateness)),
      "semantic" -> ((s: DataFrame) => door(m, s)))
  }

  final case class Drain(secs: Double, messages: Long, admitted: DataFrame,
                         progress: Seq[StreamingQueryProgress])

  /** Drains the queue in `queueDir` through `f` into a fresh parquet sink. */
  def drain(ctx: Ctx, log: ProgressLog, queueDir: String, tag: String,
            f: DataFrame => DataFrame): Drain = {
    val out = ctx.dir(s"$tag/out")
    val t0 = System.nanoTime()
    val q = f(ctx.spark.readStream.format("ibmmq").option("path", queueDir)
        .option("maxMessagesPerTrigger", BatchCap.toString).load()
        .withColumn("embedding", embedOf(col("value"))))
      .select("key", "value")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ctx.dir(s"$tag/ck"))
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(170000), s"door drain $tag did not finish")
    val secs = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    // progress events reach the listener asynchronously: wait until they
    // cover every message of the queue, so no batch is missing
    val depth = new graft.sources.mq.FileMQTransport(queueDir).depth()
    val deadline = System.nanoTime() + 30e9.toLong
    while (log.of(q.id).map(_.numInputRows).sum < depth && System.nanoTime() < deadline)
      Thread.sleep(5)
    Drain(secs, depth, ctx.spark.read.parquet(out), log.of(q.id))
  }

  /** Output checks: the streamed admit set equals the static door over
    * the same arrivals (compared by door fingerprint, as
    * tools/door_parity_sf1.scala does), one survivor per fingerprint,
    * and no admitted text is an exact duplicate of the corpus or of
    * another admitted text. Returns the number of violations. */
  def check(ctx: Ctx, m: Model, d: Drain): (Long, Long) = {
    val fp = StreamingOps.doorFingerprint(col("value")).as("fp")
    val static = door(m, ctx.spark.read.format("ibmmq").option("path", ctx.dir("queue"))
      .load().withColumn("embedding", embedOf(col("value"))))
    val sFp = d.admitted.select(fp).as[Long](Encoders.scalaLong).collect()
    val bFp = static.select(fp).as[Long](Encoders.scalaLong).collect().toSet
    val digests = d.admitted.select(Dedup.exactDigest(col("value")))
      .as[String](Encoders.STRING).collect()
    val parity = (sFp.toSet -- bFp).size + (bFp -- sFp.toSet).size
    val repeats = (sFp.length - sFp.distinct.length) +
      (digests.length - digests.distinct.length)
    val corpusDups = digests.count(m.corpusDigests.contains)
    (sFp.length.toLong, (parity + repeats + corpusDups).toLong)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val log = new ProgressLog
    spark.streams.addListener(log)
    val nArrivals = (ctx.seconds * ArrivalsPerSecond).toInt
    val tracer = new Tracer(spark, enabled = ctx.trace)
    val t0 = System.nanoTime()
    val (m, steps, shares) = setup(ctx, tracer, nArrivals)
    // a query compiles its plans once, on its first batches, and the JIT
    // keeps speeding the batches up for several more; warming the JVM on
    // a short queue first keeps most of that one-off cost in set-up, out
    // of the steady-state batch times
    tracer.span("warm-up drain", "setup")(
      drain(ctx, log, subQueue(ctx, "warm", WarmUpBatches * BatchCap), "warm", door(m, _)))
    val setupS = (System.nanoTime() - t0) / 1e9
    Memory.sample()
    tracer.pause()
    if (!ctx.trace) {
      val (e2e, failed, notes) = timed(ctx, m, drain(ctx, log, ctx.dir("queue"), "untraced",
        door(m, _)), steps, shares, setupS)
      return Outcome(setupS, nArrivals, failed, e2e, notes = notes)
    }
    // traced run: the gate decomposition runs untraced; its last stage,
    // the full door over three batches, is the untraced side of the
    // tracing overhead
    val (gates, untracedSubS) =
      tracer.span("gate decomposition", "kernel")(decompose(ctx, log, m))
    tracer.resume()
    val tr0 = Tracer.nowMs()
    val b = tracer.span("traced drain", "workload")(
      drain(ctx, log, ctx.dir("queue"), "traced", door(m, _)))
    tracer.addBatches(tracer.current, b.progress)
    val tr1 = Tracer.nowMs()
    val exec = Layers.exec(tracer, tr0, tr1)
    val tracedSub = tracer.span("traced sub-queue drain", "kernel")(
      drain(ctx, log, ctx.dir("sub"), "traced_sub", door(m, _)))
    val fns = tracer.span("fn kernels", "kernel")(kernels(ctx))
    tracer.stop()
    tracer.write(new java.io.File(ctx.work, "spans.jsonl").toString)
    val (e2e, failed, notes) = timed(ctx, m, b, steps, shares, setupS)
    val admitted = b.admitted.count()
    val layers = Layers.zero ++ Layers.stream(b.progress) ++ exec ++
      Layers.self(tracer) ++ gates ++ fns ++
      steps.map { case (k, v) => s"setup.${k}_s" -> v } ++ Map(
        "door.admit_frac" -> admitted.toDouble / nArrivals,
        "trace.overhead_frac" -> (tracedSub.secs / untracedSubS - 1.0),
        "trace.spans" -> tracer.spanCount.toDouble)
    Outcome(setupS, nArrivals, failed, e2e, layers, notes)
  }

  /** End-to-end figures and output checks of one full drain. */
  def timed(ctx: Ctx, m: Model, d: Drain, steps: Map[String, Double],
            shares: Map[String, Double], setupS: Double)
  : (Map[String, Double], Long, Seq[String]) = {
    val n = d.messages
    // the first batch also pays the query's start (state stores, sink
    // log), a one-off of a fresh query, not of the steady ingest loop
    val batchMs = Stats.steady(d.progress).map(_.durationMs.get("triggerExecution").toDouble)
    val e2e = Map(
      "throughput_per_s" -> Stats.steadyRate(d.progress),
      "op_p50_ms" -> Stats.median(batchMs),
      "op_p90_ms" -> Stats.quantile(batchMs, 0.9),
      "op_geomean_ms" -> Stats.geomean(batchMs))
    Memory.sample()
    val (admitted, failed) = check(ctx, m, d)
    val notes = Seq(f"door: $n arrivals in ${batchMs.size + 1} batches, " +
      f"${d.secs}%.1f s, admitted $admitted, violations $failed, shares " +
      shares.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") +
      f", setup $setupS%.1f s (" +
      steps.toSeq.sortBy(_._1).map { case (k, v) => f"$k $v%.1f" }.mkString(", ") + ")")
    (e2e, failed, notes)
  }

  /** A queue holding the first `n` arrivals; returns its directory. */
  def subQueue(ctx: Ctx, name: String, n: Int): String = {
    val lines = new String(Files.readAllBytes(Paths.get(ctx.dir("queue"), "queue.jsonl")),
      UTF_8).split("\n").filter(_.nonEmpty).take(n)
    Files.write(Paths.get(ctx.dir(name), "queue.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
    ctx.dir(name)
  }

  /** Per-gate seconds and drops from cumulative stages over the first
    * three batches of arrivals. */
  def decompose(ctx: Ctx, log: ProgressLog, m: Model): (Map[String, Double], Double) = {
    val sub = subQueue(ctx, "sub", 3 * BatchCap)
    val n = new graft.sources.mq.FileMQTransport(sub).depth().toDouble
    val runs = stages(m).map { case (name, f) =>
      val d = drain(ctx, log, sub, s"stage_$name", f)
      (name, d.secs, d.admitted.count().toDouble, d.progress)
    }
    val secs = runs.map(_._2); val adm = n +: runs.map(_._3)
    val gateS = Layers.Gates.zipWithIndex.map { case (g, i) =>
      s"door.gate.${g}_s" -> (if (i == 0) secs(0) else secs(i) - secs(i - 1)) }
    // stage 0 passes everything; gate i drops adm(i) - adm(i+1)
    val drops = Layers.Gates.drop(1).zipWithIndex.map { case (g, i) =>
      s"door.drop.$g" -> (adm(i + 1) - adm(i + 2)) }
    ((gateS ++ drops).toMap +
      ("door.drop.dedup" -> Layers.droppedDuplicates(runs.last._4)), secs.last)
  }

  /** Rows per second of the door's per-row kernels, as noop writes over
    * the arrivals repeated to a measurable size. */
  def kernels(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val arrivals = spark.read.format("ibmmq").option("path", ctx.dir("queue")).load()
      .select("value").crossJoin(spark.range(20)).select("value")
      .repartition(ctx.cores).persist()
    val n = arrivals.count().toDouble
    def rate(c: Column): Double = {
      val t0 = System.nanoTime()
      arrivals.select(c).write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    val r = Map(
      "fn.tokens_rows_per_s" -> rate(TA.tokens(col("value"))),
      "fn.fingerprint_rows_per_s" -> rate(StreamingOps.doorFingerprint(col("value"))),
      "fn.quality_rows_per_s" -> rate(scoreQ8Of(col("value"))))
    arrivals.unpersist()
    r
  }
}
