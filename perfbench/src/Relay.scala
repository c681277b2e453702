package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.mq.FileMQTransport

/** `mq_relay`: an `ibmmq` source (destructive get + ack) feeding an
  * `ibmmq` sink on a second queue, no operator in between.
  *
  * Phase 1 is an open loop at 1000 msg/s: one generator thread appends
  * each message at its due time, in bursts that share a millisecond, and
  * never waits for the system. Latency is the output put time minus the
  * due time of the oldest message of each output micro-batch.
  * Phase 2 drains a pre-filled backlog under a per-trigger cap; the
  * mean of the middle half of its batch rates is the catch-up speed.
  * Both output queues must equal their input queues message for message,
  * in order. A warm-up drain of many small triggers runs first, as part
  * of set-up, so the per-trigger path of the timed batches runs compiled
  * code.
  */
object Relay {
  val Rate = 1000 // msg/s, the reference's stated operating point
  val BacklogCap = 2000 // messages per trigger while catching up
  val GenLateLimitMs = 250.0
  val WarmUpMessages = 3200 // drained at WarmUpCap per trigger: 32 triggers
  val WarmUpCap = 100

  /** Seeded payloads: small JSON documents shaped like a row of the
    * fixtures' `events` table (FIXTURES.md §1 and §3), of one constant size.
    * The reference records no message sizes, so the size is an assumption,
    * not measured traffic. The id keeps every payload distinct. */
  def payloads(rng: java.util.Random, n: Int, idBase: Int): IndexedSeq[String] =
    (0 until n).map { i =>
      f"""{"event_id":${idBase + i}%09d,"user_id":${rng.nextInt(10000)}%04d,""" +
        f""""value":${rng.nextInt(49000) / 100.0}%06.2f,"props":{"k":${rng.nextInt(100)}%02d}}"""
    }

  /** Burst schedule: bursts of 1-4 messages share a due millisecond and
    * the next burst is due as many milliseconds later, so the mean rate
    * is exactly [[Rate]]. Offsets in ms from the start. */
  def schedule(rng: java.util.Random, n: Int): IndexedSeq[Long] = {
    val out = ArrayBuffer.empty[Long]
    var t = 0L
    while (out.size < n) {
      val k = 1 + rng.nextInt(4)
      (0 until k).foreach(_ => if (out.size < n) out += t)
      t += k * 1000L / Rate
    }
    out.toIndexedSeq
  }

  def line(due: Long, p: String): String = s"$due\t$due|$p\n"

  private def queueLines(dir: String): Vector[(Long, String)] = {
    val f = Paths.get(dir, "queue.jsonl")
    if (!Files.exists(f)) Vector.empty
    else new String(Files.readAllBytes(f), UTF_8).split("\n").toVector
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i).toLong, l.substring(i + 1))
      }
  }

  /** Failed operations: positions where the output queue differs from the
    * input queue by payload, plus messages missing or extra. */
  def mismatches(in: Seq[String], out: Seq[String]): Long =
    in.zip(out).count { case (a, b) => a != b } + math.abs(in.size - out.size)

  private def start(ctx: Ctx, in: String, out: String, ck: String,
                    cap: Option[Int]): StreamingQuery = {
    val r = ctx.spark.readStream.format("ibmmq").option("path", in)
      .option("keepMessages", "false")
    cap.fold(r)(c => r.option("maxMessagesPerTrigger", c.toString)).load()
      .select("value")
      .writeStream.format("ibmmq").option("path", out)
      .option("checkpointLocation", ck).start()
  }

  /** Waits until the query's completed batches hold `n` input rows: the
    * sink's put is part of each batch, so they are then on the output
    * queue. Progress events are cheap to poll; re-reading a growing
    * output queue file would compete with the relay for the CPU. */
  private def waitFor(q: StreamingQuery, log: ProgressLog, n: Int,
                      timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (log.of(q.id).map(_.numInputRows).sum < n && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
  }

  final case class Pass(latMs: Seq[Double], genLateMs: Seq[Double],
                        catchupPerS: Double, attempted: Long, failed: Long,
                        progress: Seq[StreamingQueryProgress],
                        backlogDir: String)

  final case class Drain(ratePerS: Double, failed: Long,
                         progress: Seq[StreamingQueryProgress])

  /** Drains `payloads`, pre-filled on a fresh queue, at `cap` messages per
    * trigger, at the drain's [[Stats.steadyRate]]. */
  def backlog(ctx: Ctx, tag: String, log: ProgressLog, tracer: Tracer,
              payloads: Seq[String], cap: Int): Drain = {
    val in = ctx.dir(s"$tag/back_in"); val out = ctx.dir(s"$tag/back_out")
    val sb = new java.lang.StringBuilder
    payloads.zipWithIndex.foreach { case (p, i) =>
      sb.append(line(1700000000000L + i / 4, p)) }
    Files.write(Paths.get(in, "queue.jsonl"), sb.toString.getBytes(UTF_8))
    val q = tracer.span("backlog drain", "workload") {
      val q = start(ctx, in, out, ctx.dir(s"$tag/ck_back"), Some(cap))
      waitFor(q, log, payloads.size, 120)
      q.stop()
      q
    }
    val rate = Stats.steadyRate(log.of(q.id))
    Memory.sample()
    val failed = mismatches(queueLines(in).map(_._2), queueLines(out).map(_._2))
    tracer.addBatches(tracer.current, log.of(q.id))
    Drain(rate, failed, log.of(q.id))
  }

  /** One open-loop phase plus one backlog drain, on fresh queues. */
  def pass(ctx: Ctx, tag: String, log: ProgressLog, tracer: Tracer): Pass = {
    val rng = new java.util.Random(ctx.seed * 31 + tag.hashCode)
    val nOpen = (Rate * ctx.seconds).toInt
    val nBacklog = (4 * Rate * ctx.seconds).toInt
    val openIn = ctx.dir(s"$tag/open_in"); val openOut = ctx.dir(s"$tag/open_out")
    val sched = schedule(rng, nOpen)
    val openPayloads = payloads(rng, nOpen, 0)
    val backPayloads = payloads(rng, nBacklog, nOpen)
    val progress = ArrayBuffer.empty[StreamingQueryProgress]

    // ---- phase 1: open loop ----
    val q1 = tracer.span("open loop", "workload") {
      val q = start(ctx, openIn, openOut, ctx.dir(s"$tag/ck_open"), None)
      while (q.lastProgress == null) { // the first (empty) trigger ran
        q.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      val late = new Array[Double](nOpen)
      val t0 = System.currentTimeMillis() + 50
      val gen = new Thread(() => {
        val f = Paths.get(openIn, "queue.jsonl")
        var i = 0
        while (i < nOpen) {
          val now = System.currentTimeMillis()
          val due0 = t0 + sched(i)
          if (due0 > now) Thread.sleep(math.min(due0 - now, 5L))
          else {
            val sb = new java.lang.StringBuilder
            val from = i
            while (i < nOpen && t0 + sched(i) <= now) {
              sb.append(line(t0 + sched(i), openPayloads(i))); i += 1
            }
            Files.write(f, sb.toString.getBytes(UTF_8),
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
            val wrote = System.currentTimeMillis()
            (from until i).foreach(j => late(j) = (wrote - t0 - sched(j)).toDouble)
          }
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      waitFor(q, log, nOpen, 60)
      q.stop()
      (q, late.toSeq)
    }
    val (q, genLate) = q1
    Memory.sample()
    val outOpen = queueLines(openOut)
    val inOpen = queueLines(openIn)
    // each sink epoch is one put, so one put time: a batch is a run of
    // equal put times, and its sample is the oldest message's lag
    val lat = outOpen.groupBy(_._1).toSeq.map { case (put, ms) =>
      put - ms.map(_._2.takeWhile(_ != '|').toLong).min
    }.map(_.toDouble)
    val failedOpen = mismatches(inOpen.map(_._2), outOpen.map(_._2))
    progress ++= log.of(q.id)
    tracer.addBatches(tracer.current, log.of(q.id))

    // ---- phase 2: backlog drain ----
    val b = backlog(ctx, tag, log, tracer, backPayloads, BacklogCap)
    progress ++= b.progress
    Pass(lat, genLate, b.ratePerS, nOpen.toLong + nBacklog, failedOpen + b.failed,
      progress.toSeq, ctx.dir(s"$tag/back_in"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val log = new ProgressLog
    spark.streams.addListener(log)
    val off = new Tracer(spark, enabled = false)
    val w0 = System.nanoTime()
    val w = backlog(ctx, "warm", log, off,
      payloads(new java.util.Random(ctx.seed), WarmUpMessages, 0), WarmUpCap)
    val warmS = (System.nanoTime() - w0) / 1e9
    val t0 = System.nanoTime()
    val p = pass(ctx, "untraced", log, off)
    val wallS = (System.nanoTime() - t0) / 1e9
    val lateP99 = Stats.quantile(p.genLateMs, 0.99)
    val e2e = Map(
      "throughput_per_s" -> p.catchupPerS,
      "op_p50_ms" -> Stats.median(p.latMs),
      "op_p90_ms" -> Stats.quantile(p.latMs, 0.9),
      "op_geomean_ms" -> Stats.geomean(p.latMs.map(math.max(_, 1.0))))
    val invalid = lateP99 > GenLateLimitMs
    val notes = Seq(
      f"relay: ${p.latMs.size} open-loop batches, generator late p99 $lateP99%.1f ms, " +
        f"catch-up ${p.catchupPerS}%.0f msg/s, wall $wallS%.1f s") ++
      (if (invalid) Seq(s"INVALID RUN: generator late p99 $lateP99 ms > $GenLateLimitMs")
       else Nil)
    // an open loop whose generator fell behind did not offer the stated
    // rate: the run counts every open-loop message as failed
    val failed = w.failed + p.failed + (if (invalid) (Rate * ctx.seconds).toLong else 0L)
    val attempted = WarmUpMessages + p.attempted
    if (!ctx.trace) Outcome(warmS, attempted, failed, e2e, notes = notes)
    else {
      val tracer = new Tracer(spark, enabled = true)
      val tr0 = Tracer.nowMs()
      val t = tracer.span("mq_relay", "workload")(pass(ctx, "traced", log, tracer))
      val tr1 = Tracer.nowMs()
      tracer.stop()
      // the overhead compares two warm passes: traced, then untraced
      val c = pass(ctx, "untraced2", log, off)
      val kernels = tracer.span("mq kernels", "kernel")(mqKernels(ctx, t.backlogDir))
      tracer.write(new java.io.File(ctx.work, "spans.jsonl").toString)
      val layers = Layers.zero ++ Layers.stream(t.progress) ++ kernels ++
        Layers.exec(tracer, tr0, tr1) ++ Layers.self(tracer) ++ Map(
          "mq.gen_late_ms_p99" -> Stats.quantile(t.genLateMs, 0.99),
          "trace.overhead_frac" ->
            (Stats.median(t.latMs) / Stats.median(c.latMs) - 1.0),
          "trace.spans" -> tracer.spanCount.toDouble)
      Outcome(warmS, attempted + t.attempted + c.attempted,
        failed + t.failed + c.failed, e2e, layers, notes)
    }
  }

  /** Direct transport calls: range reads of trigger size over the drained
    * backlog queue, and transactional puts of epoch-sized lists. */
  def mqKernels(ctx: Ctx, backlogDir: String): Map[String, Double] = {
    val t = new FileMQTransport(backlogDir)
    val n = t.depth()
    t.read(0, 1).size // parse the file once, outside the timing
    val r0 = System.nanoTime()
    var read = 0L
    (0L until n by BacklogCap.toLong).foreach { s =>
      read += t.read(s, math.min(s + BacklogCap, n)).size }
    val readS = (System.nanoTime() - r0) / 1e9
    val sink = new FileMQTransport(ctx.dir("put_kernel"))
    val msgs = t.read(0, n).map(_.payload).toVector
    val epoch = 50
    val p0 = System.nanoTime()
    msgs.grouped(epoch).zipWithIndex.foreach { case (g, i) => sink.put(s"k#$i", g) }
    val putS = (System.nanoTime() - p0) / 1e9
    Map("mq.read_msgs_per_s" -> read / readS, "mq.put_msgs_per_s" -> msgs.size / putS)
  }
}
