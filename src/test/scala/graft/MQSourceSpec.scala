package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import graft.sources.LocalCheckpointFileManager
import graft.sources.mq.{FileMQTransport, MQInputPartition, MQOptions, MQRecord, MQTransport, RetryingTransport}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The MQ-shaped DSv2 streaming source against the file-backed fake
  * transport: offset tracking, key synthesis across batches, commit
  * (destructive vs browse), admission control, halt gate, and
  * crash-replay from checkpoint (at-least-once + dedup-to-exactly-once
  * — SURVEY.md §5.2 item 4).
  */
class MQSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def append(dir: Path, records: (Long, String)*): Unit = {
    val text = records.map { case (ms, p) => s"$ms\t$p" }.mkString("", "\n", "\n")
    Files.write(dir.resolve("queue.jsonl"),
      text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  test("option validation is eager (A15)") {
    intercept[IllegalArgumentException] {
      MQOptions(Map("host" -> "h")) // missing qmgr/channel/queue
    }
    intercept[IllegalArgumentException] {
      MQOptions(Map("path" -> "/tmp/x", "waitInterval" -> "-1"))
    }
    val ok = MQOptions(Map("path" -> "/tmp/x", "keepMessages" -> "false",
      "maxMessagesPerTrigger" -> "100"))
    assert(!ok.keepMessages && ok.maxMessagesPerTrigger.contains(100L))
  }

  test("batch read emits typed envelope with synthesized keys") {
    val dir = tmpDir("mq-batch")
    append(dir, (1000L, "m1"), (1000L, "m2"), (1001L, "m3"))
    val df = spark.read.format("ibmmq")
      .option("path", dir.toString).load()
    val rows = df.orderBy("put_ts", "seq")
      .select("key", "value", "seq").as[(String, String, Int)]
      .collect().toSeq
    assert(rows == Seq(("1000_1", "m1", 1), ("1000_2", "m2", 2),
      ("1001_1", "m3", 1)))
  }

  /** Drains one micro-batch [start, latest] and returns the (key, value)
    * rows the partition reader produced. */
  private def drainBatch(stream: graft.sources.mq.MQMicroBatchStream,
                         start: org.apache.spark.sql.connector.read.streaming.Offset)
  : (org.apache.spark.sql.connector.read.streaming.Offset, Seq[(String, String)]) = {
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    val parts = stream.planInputPartitions(start, end)
    val factory = stream.createReaderFactory()
    val rows = parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getUTF8String(0).toString, row.getUTF8String(1).toString))
      }
      r.close()
      buf.toSeq
    }
    (end, rows)
  }

  test("micro-batch offsets: cross-batch key continuity + destructive commit (A4/A8)") {
    val dir = tmpDir("mq-stream")
    append(dir, (2000L, "a"), (2000L, "b"))
    val opts = MQOptions(Map("path" -> dir.toString,
      "keepMessages" -> "false"))
    val stream = new graft.sources.mq.MQMicroBatchStream(opts)
    val (o1, rows1) = drainBatch(stream, stream.initialOffset())
    assert(rows1.map(_._1) == Seq("2000_1", "2000_2"))
    stream.commit(o1)
    assert(new FileMQTransport(dir.toString).committed() == 2L)
    // same millisecond continues across a SEPARATE batch (and across
    // restart: fresh stream instance, offset restored from "checkpoint")
    append(dir, (2000L, "c"), (2001L, "d"))
    val stream2 = new graft.sources.mq.MQMicroBatchStream(opts)
    val restored = stream2.deserializeOffset(o1.asInstanceOf[
      graft.sources.mq.MQOffset].json())
    val (o2, rows2) = drainBatch(stream2, restored)
    assert(rows2.map(_._1) == Seq("2000_3", "2001_1")) // counter resumed
    stream2.commit(o2)
    assert(new FileMQTransport(dir.toString).committed() == 4L)
    // replay of the SAME range after restart produces identical keys
    val (_, replay) = drainBatch(new graft.sources.mq.MQMicroBatchStream(opts),
      restored)
    assert(replay == rows2)
  }

  test("end-to-end streaming into a sink with AvailableNow") {
    val dir = tmpDir("mq-e2e")
    val ckpt = tmpDir("mq-e2e-ckpt")
    append(dir, (3000L, "x"), (3000L, "y"), (3001L, "z"))
    val q = spark.readStream.format("ibmmq")
      .option("path", dir.toString)
      .load()
      .writeStream.format("memory").queryName("mq_e2e_sink")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("mq_e2e_sink")
      .select("key", "value").as[(String, String)].collect().toSet
    assert(got == Set(("3000_1", "x"), ("3000_2", "y"), ("3001_1", "z")))
  }

  test("admission control caps messages per trigger (A12, made real)") {
    val dir = tmpDir("mq-rate")
    val ckpt = tmpDir("mq-rate-ckpt")
    append(dir, (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
    val q = spark.readStream.format("ibmmq")
      .option("path", dir.toString)
      .option("maxMessagesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("mq_rate")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // AvailableNow drains everything, but in capped batches
    assert(spark.table("mq_rate").count() == 5)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.forall(_.numInputRows <= 2))
  }

  test("source metrics surface depth/backlog (A14) in query progress") {
    val dir = tmpDir("mq-metrics")
    val ckpt = tmpDir("mq-metrics-ckpt")
    append(dir, (1L, "a"), (2L, "b"), (3L, "c"))
    val q = spark.readStream.format("ibmmq")
      .option("path", dir.toString)
      .load()
      .writeStream.format("memory").queryName("mq_metrics")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val withMetrics = q.recentProgress
      .flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.metrics))
      .filter(!_.isEmpty)
    assert(withMetrics.nonEmpty, "expected source metrics in progress")
    assert(withMetrics.last.get("queueDepth") == "3")
    assert(withMetrics.last.get("halted") == "false")
  }

  test("streaming parquet sink with checkpoint recovery (sink_parquet)") {
    val dir = tmpDir("mq-psink")
    val ckpt = tmpDir("mq-psink-ckpt")
    val out = tmpDir("mq-psink-out")
    append(dir, (100L, "a"), (101L, "b"))
    def run(): Unit = {
      val q = spark.readStream.format("ibmmq")
        .option("path", dir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    append(dir, (102L, "c"))
    run() // restart from checkpoint: only the new message lands
    val rows = spark.read.parquet(out.toString)
      .select("key").as[String].collect().toSet
    assert(rows == Set("100_1", "101_1", "102_1"))
  }

  test("full pipeline: source -> watermarked window agg -> parquet") {
    // The complete reference-replacement path (SURVEY.md §3.2 restated):
    // ordered MQ ingest with synthesized keys and event-time put_ts,
    // watermarked event-time windowed aggregation, durable columnar
    // sink — what the reference's README delegates to consumer code.
    val dir = tmpDir("mq-pipe")
    val ckpt = tmpDir("mq-pipe-ckpt")
    val out = tmpDir("mq-pipe-out")
    val h1 = 1700000000000L
    append(dir,
      (h1, "a"), (h1, "b"),          // same ms -> distinct keys
      (h1 + 60000, "c"),
      (h1 + 7200000, "d"))           // two hours later: advances watermark
    val q = spark.readStream.format("ibmmq")
      .option("path", dir.toString)
      .load()
      .withWatermark("put_ts", "10 minutes")
      .groupBy(window(col("put_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("win_start"), col("cnt"))
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.read.parquet(out.toString)
      .as[(java.sql.Timestamp, Long)].collect().toMap
    // only windows older than the watermark are emitted; the first
    // hour window (3 events) must have closed
    assert(rows.values.sum >= 3)
    assert(rows.exists(_._2 == 3L),
      s"expected the 3-event hour window, got $rows")
  }

  test("ordered replication: sink order equals queue order across capped batches") {
    // The reference's raison d'etre (README.md:59-64): keep DB2-QREP
    // queue order end-to-end. One source partition + rate-capped
    // micro-batches must deliver in exact queue order.
    val dir = tmpDir("mq-order")
    val ckpt = tmpDir("mq-order-ckpt")
    val msgs = (0 until 500).map(i => (10000L + i / 3, s"m$i"))
    append(dir, msgs: _*)
    val q = spark.readStream.format("ibmmq")
      .option("path", dir.toString)
      .option("maxMessagesPerTrigger", "97")
      .load()
      .writeStream.format("memory").queryName("mq_order")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("mq_order")
      .orderBy("put_ts", "seq")
      .select("value").as[String].collect().toSeq
    assert(got == msgs.map(_._2))
    // keys unique + dense counters within each shared millisecond
    val keys = spark.table("mq_order").select("key").as[String].collect()
    assert(keys.distinct.length == 500)
  }

  test("GET-inhibited queue stalls the offset (A10)") {
    val dir = tmpDir("mq-inhibit")
    append(dir, (1L, "a"))
    Files.write(dir.resolve("inhibited"), Array.emptyByteArray)
    val opts = MQOptions(Map("path" -> dir.toString))
    val stream = new graft.sources.mq.MQMicroBatchStream(opts)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    assert(end.asInstanceOf[graft.sources.mq.MQOffset].pos == 0L) // stalled
    Files.delete(dir.resolve("inhibited"))
    val end2 = stream.latestOffset(start, stream.getDefaultReadLimit)
    assert(end2.asInstanceOf[graft.sources.mq.MQOffset].pos == 1L) // resumed
  }

  test("halt file pauses consumption (A9)") {
    val dir = tmpDir("mq-halt")
    val halt = dir.resolve("queue.halt")
    Files.write(halt, "x".getBytes(StandardCharsets.UTF_8))
    append(dir, (1L, "a"))
    val opts = MQOptions(Map("path" -> dir.toString,
      "haltFile" -> halt.toString))
    val stream = new graft.sources.mq.MQMicroBatchStream(opts)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    assert(end.asInstanceOf[graft.sources.mq.MQOffset].pos == 0L) // paused
    Files.delete(halt)
    val end2 = stream.latestOffset(start, stream.getDefaultReadLimit)
    assert(end2.asInstanceOf[graft.sources.mq.MQOffset].pos == 1L) // resumed
  }

  test("crash before commit: redelivery deduped to exactly-once by key") {
    // The reference's failure window: crash between store() and
    // qmgr.commit() redelivers messages (IBMMQReceiver.java:357-360,
    // SURVEY.md §3.3). The synthesized key makes dedup restore
    // exactly-once downstream.
    val dir = tmpDir("mq-crash")
    append(dir, (5000L, "a"), (5000L, "b"), (5001L, "c"))
    val opts = MQOptions(Map("path" -> dir.toString,
      "keepMessages" -> "false"))
    // run 1 drains everything but "crashes" before commit
    val (_, delivery1) = drainBatch(
      new graft.sources.mq.MQMicroBatchStream(opts),
      new graft.sources.mq.MQMicroBatchStream(opts).initialOffset())
    assert(new FileMQTransport(dir.toString).committed() == 0L)
    // restart with lost offset state -> full redelivery (at-least-once)
    val (_, delivery2) = drainBatch(
      new graft.sources.mq.MQMicroBatchStream(opts),
      new graft.sources.mq.MQMicroBatchStream(opts).initialOffset())
    val all = (delivery1 ++ delivery2).toDF("key", "value")
    assert(all.count() == 6) // duplicates present
    val deduped = graft.operators.Envelope.dedupKeepFirst(
      all, Seq("key"), Seq(org.apache.spark.sql.functions.col("value")))
    assert(deduped.count() == 3) // exactly-once restored
    assert(deduped.select("key").as[String].collect().toSet ==
      Set("5000_1", "5000_2", "5001_1"))
  }

  /** Fails the first `failures` read/depth calls, then behaves like the
    * underlying transport — the flaky-connection shape of reference
    * A13 (receive loop dies on a transient MQException). */
  private class FlakyTransport(underlying: MQTransport, failures: Int)
    extends MQTransport {
    var readCalls = 0
    private var remaining = failures
    private def maybeFail(): Unit =
      if (remaining > 0) {
        remaining -= 1
        throw new java.io.IOException("simulated connection reset")
      }
    override def depth(): Long = { maybeFail(); underlying.depth() }
    override def read(start: Long, end: Long): Iterator[MQRecord] = {
      readCalls += 1
      maybeFail()
      underlying.read(start, end)
    }
    override def commit(upTo: Long): Unit = { maybeFail(); underlying.commit(upTo) }
    override def sameMillisPrefix(pos: Long): Int =
      underlying.sameMillisPrefix(pos)
  }

  test("transient transport failures are retried with capped backoff (A13)") {
    val dir = tmpDir("mq-retry")
    append(dir, (1L, "a"), (1L, "b"), (2L, "c"))
    val file = new FileMQTransport(dir.toString)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flaky = new FlakyTransport(file, failures = 3)
    val t = new RetryingTransport(flaky, maxAttempts = 5,
      initialBackoffMs = 100L, maxBackoffMs = 250L,
      sleep = ms => sleeps += ms)
    // 3 failures then success: same records as a clean read — no loss,
    // no duplication, and the documented exponential-then-capped
    // schedule (100, 200, capped 250).
    assert(t.read(0, 3).toSeq == file.read(0, 3).toSeq)
    assert(sleeps.toSeq == Seq(100L, 200L, 250L))
    // exhaustion rethrows the underlying error (force the lazy slice)
    val dead = new RetryingTransport(
      new FlakyTransport(file, failures = 99), maxAttempts = 3,
      initialBackoffMs = 1L, maxBackoffMs = 1L, sleep = _ => ())
    intercept[java.io.IOException] { dead.read(0, 3).toVector }
  }

  test("sliced retry reads: bounded buffering, per-slice retry, no loss") {
    val dir = tmpDir("mq-slice")
    append(dir, (0 until 10).map(i => (100L + i, s"m$i")): _*)
    val file = new FileMQTransport(dir.toString)
    val flaky = new FlakyTransport(file, failures = 2)
    val t = new RetryingTransport(flaky, maxAttempts = 5,
      initialBackoffMs = 1L, maxBackoffMs = 1L, sleep = _ => (),
      sliceSize = 3L)
    // 10 messages in slices of 3 -> 4 underlying reads + 2 retried
    assert(t.read(0, 10).toSeq == file.read(0, 10).toSeq)
    assert(flaky.readCalls == 4 + 2)
  }

  test("retry policy is wired through options into the source transport") {
    val dir = tmpDir("mq-retry-opts")
    val opts = MQOptions(Map("path" -> dir.toString,
      "retryAttempts" -> "4", "retryInitialBackoffMs" -> "5",
      "retryMaxBackoffMs" -> "20"))
    assert(opts.transport().isInstanceOf[RetryingTransport])
    // retryAttempts=1 disables the decorator entirely
    val bare = MQOptions(Map("path" -> dir.toString, "retryAttempts" -> "1"))
    assert(bare.transport().isInstanceOf[FileMQTransport])
    intercept[IllegalArgumentException] {
      MQOptions(Map("path" -> dir.toString, "retryAttempts" -> "0"))
    }
  }

  test("mqccsid decodes non-UTF8 payload bytes (A3)") {
    val dir = tmpDir("mq-ccsid")
    // latin-1 bytes: 'café' + 'Düsseldorf' are NOT valid UTF-8 as
    // ISO-8859-1 single bytes, so a UTF-8 decode would mangle them
    Files.write(dir.resolve("queue.jsonl"),
      "100\tcafé\n101\tDüsseldorf\n"
        .getBytes(StandardCharsets.ISO_8859_1),
      StandardOpenOption.CREATE)
    val rows = spark.read.format("ibmmq")
      .option("path", dir.toString)
      .option("mqccsid", "819") // IBM CCSID 819 = ISO-8859-1
      .load()
      .orderBy("put_ts")
      .select("value").as[String].collect().toSeq
    assert(rows == Seq("café", "Düsseldorf"))
    // unknown ccsid fails at option-parse time, like the ctor (A15)
    intercept[IllegalArgumentException] {
      MQOptions(Map("path" -> dir.toString, "mqccsid" -> "999999"))
    }
  }

  test("CCSID mapping: named ids, CP fallback, clean failure") {
    import graft.sources.mq.MQCcsid
    assert(MQCcsid.charsetFor(1208).name == "UTF-8")
    assert(MQCcsid.charsetFor(819).name == "ISO-8859-1")
    assert(MQCcsid.charsetFor(37).name == "IBM037")    // EBCDIC US
    assert(MQCcsid.charsetFor(1047).name == "IBM1047") // EBCDIC Latin-1
    // unmapped id falls back through the JVM's CP<id>/IBM<id> aliases
    assert(MQCcsid.charsetFor(866).name.toUpperCase.contains("866"))
    intercept[IllegalArgumentException] { MQCcsid.charsetFor(999999) }
  }

  test("operational counters: received/committed/commitsFailed (A14)") {
    val dir = tmpDir("mq-counters")
    val ckpt = tmpDir("mq-counters-ckpt")
    append(dir, (1L, "a"), (2L, "b"), (3L, "c"))
    val q = spark.readStream.format("ibmmq")
      .option("path", dir.toString)
      .option("keepMessages", "false")
      .option("maxMessagesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("mq_counters")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("mq_counters").count() == 3)
    val metrics = q.recentProgress
      .flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.metrics))
      .filter(!_.isEmpty)
    assert(metrics.nonEmpty)
    val last = metrics.last
    assert(last.get("messagesReceived") == "3")
    assert(last.get("commitsFailed") == "0")
    // commit() is called when the NEXT batch starts, so the committed
    // counter trails received by up to one batch; with two capped
    // batches at least the first must have been acknowledged.
    assert(last.get("messagesCommitted").toLong >= 2L)
    assert(new FileMQTransport(dir.toString).committed() >= 2L)
  }

  test("a failed MQ commit is counted, logged and swallowed (at-least-once)") {
    val dir = tmpDir("mq-commit-fail")
    append(dir, (1L, "a"))
    // the commit record's temp file cannot be written
    Files.createDirectory(dir.resolve("committed.tmp"))
    val stream = new graft.sources.mq.MQMicroBatchStream(MQOptions(Map(
      "path" -> dir.toString, "keepMessages" -> "false",
      "retryAttempts" -> "1")))
    val warnings = SparkSpec.warningsOf(stream.getClass) {
      stream.commit(graft.sources.mq.MQOffset(1L))
    }
    assert(warnings.exists(_.contains("commit(1) failed")), warnings)
    val m = stream.metrics(java.util.Optional.empty())
    assert(m.get("commitsFailed") == "1" && m.get("messagesCommitted") == "0")
    assert(new FileMQTransport(dir.toString).committed() == 0L)
  }

  test("multi-queue union: per-queue order preserved, queues isolated") {
    // One scale path: one ordered source PER QUEUE, unioned — the
    // other is minPartitions (explicit opt-out of total order, below).
    val dirA = tmpDir("mq-union-a")
    val dirB = tmpDir("mq-union-b")
    val ckpt = tmpDir("mq-union-ckpt")
    append(dirA, (100L, "a1"), (100L, "a2"), (200L, "a3"))
    append(dirB, (150L, "b1"), (160L, "b2"))
    val q = graft.sources.mq.MQSources
      .unionQueues(spark, Seq(dirA.toString, dirB.toString),
        Map("maxMessagesPerTrigger" -> "2"))
      .writeStream.format("memory").queryName("mq_union")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("mq_union")
      .orderBy("queue", "put_ts", "seq")
      .select("queue", "key", "value")
      .as[(String, String, String)].collect().toSeq
    // keys synthesized per queue with independent counters; sorting by
    // the queue-local (put_ts, seq) recovers exact queue order
    assert(rows.length == 5)
    assert(rows.filter(_._1 == dirA.toString).map(r => (r._2, r._3)) ==
      Seq(("100_1", "a1"), ("100_2", "a2"), ("200_1", "a3")))
    assert(rows.filter(_._1 == dirB.toString).map(r => (r._2, r._3)) ==
      Seq(("150_1", "b1"), ("160_1", "b2")))
  }

  test("replay between checkpointed offsets is deterministic (exactly-once seam)") {
    val dir = tmpDir("mq-replay")
    append(dir, (10L, "a"), (10L, "b"), (11L, "c"))
    val opts = MQOptions(Map("path" -> dir.toString))
    val t = opts.transport()
    val r1 = t.read(0, 3).toSeq
    val r2 = t.read(0, 3).toSeq
    assert(r1 == r2)
    // browse mode (default keepMessages=true) never commits
    val stream = new graft.sources.mq.MQMicroBatchStream(opts)
    stream.commit(graft.sources.mq.MQOffset(3))
    assert(new FileMQTransport(dir.toString).committed() == 0L)
  }

  test("minPartitions splits the planned range; keys/commit unchanged") {
    val dir = tmpDir("mq-par")
    // 10 messages, some sharing a millisecond ACROSS the split points,
    // so key synthesis must prove itself position-pure per sub-range
    val msgs = Seq((30L, "p0"), (30L, "p1"), (30L, "p2"), (31L, "p3"),
      (31L, "p4"), (32L, "p5"), (32L, "p6"), (32L, "p7"), (32L, "p8"),
      (33L, "p9"))
    append(dir, msgs: _*)
    val ordered = MQOptions(Map("path" -> dir.toString,
      "keepMessages" -> "false"))
    val par = MQOptions(Map("path" -> dir.toString,
      "keepMessages" -> "false", "minPartitions" -> "4"))
    val base = new graft.sources.mq.MQMicroBatchStream(ordered)
    val stream = new graft.sources.mq.MQMicroBatchStream(par)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    val parts = stream.planInputPartitions(start, end)
      .map(_.asInstanceOf[graft.sources.mq.MQInputPartition])
    // 4 contiguous sub-ranges covering exactly [0, 10), balanced ±1
    assert(parts.length == 4)
    assert(parts.head.start == 0L && parts.last.end == 10L)
    assert(parts.sliding(2).forall(w => w(0).end == w(1).start))
    assert(parts.forall(p => (p.end - p.start) >= 2 && (p.end - p.start) <= 3))
    // per-partition reads: offset order within each sub-range, and the
    // concatenation equals the single-partition ordered read EXACTLY
    // (same keys, same values — ordering is a pure function of queue
    // position, not of which reader emitted the row)
    val factory = stream.createReaderFactory()
    val perPart = parts.toSeq.map { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getUTF8String(0).toString,
          row.getUTF8String(1).toString))
      }
      r.close(); buf.toSeq
    }
    val (_, orderedRows) = drainBatch(base, base.initialOffset())
    assert(perPart.flatten == orderedRows)
    assert(perPart.flatten.map(_._1) == Seq("30_1", "30_2", "30_3",
      "31_1", "31_2", "32_1", "32_2", "32_3", "32_4", "33_1"))
    // commit semantics are untouched by the split: destructive commit
    // of the planned end advances the transport watermark as before
    stream.commit(end)
    assert(new FileMQTransport(dir.toString).committed() == 10L)
    // the batch twin honors the same option at the public boundary
    val df = spark.read.format("ibmmq")
      .option("path", dir.toString).option("minPartitions", "4").load()
    assert(df.rdd.getNumPartitions == 4)
    assert(df.orderBy("put_ts", "seq").select("value")
      .as[String].collect().toSeq == msgs.map(_._2))
    // an empty range still plans zero partitions, not N empties
    assert(stream.planInputPartitions(end, end).isEmpty)
  }

  test("ibmmq source through the composed ingest door (the production pipeline shape)") {
    // The full deployment: MQ messages stream in at the public
    // format("ibmmq") boundary, the composed door gates them, the
    // survivors land in a sink — source envelope (key, value, put_ts,
    // seq) in, same envelope out, no graft_ residue. Every gate is
    // non-vacuous against live MQ records.
    import graft.operators.{Dedup, Decontaminate, Dsir, TextAnalysis => TA}
    val bloom = Decontaminate.buildShingleBloom(
      Seq((900L, "alpha beta gamma delta epsilon", true))
        .toDF("doc_id", "text", "is_eval"),
      "doc_id", "text", col("is_eval"), n = 3)
    val dsir = Dsir.fitModel(Seq(
        (1L, "apple banana cherry damson elder", true),
        (2L, "banana cherry apple elder damson", true),
        (3L, "hammer wrench pliers chisel rasp", false),
        (4L, "wrench hammer rasp pliers chisel", false))
      .toDF("doc_id", "text", "is_t"),
      "doc_id", TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "apple banana cherry elder quince plum"))
      .toDF("doc_id", "text")
    val scoreQ8 = {
      val toks = TA.tokens(col("value"))
      val lenSatQ4 = floor(least(size(toks), lit(100)).cast("double")
        / 100.0d * 10000.0d + 0.5d).cast("long")
      TA.linearModelQ8(Seq((lenSatQ4, 10000L)), biasQ8 = 0L)
    }
    val dir = tmpDir("mq-door")
    val ckpt = tmpDir("mq-door-ckpt")
    append(dir,
      (7000L, "apple damson cherry banana elder damson apple cherry"), // ADMIT
      (7001L, "hammer wrench pliers chisel rasp hammer wrench pliers"), // DSIR drop
      (7002L, "apple banana cherry"),                                  // quality drop
      (7003L, "apple banana cherry elder quince plum"),                // corpus dup drop
      (7004L, "apple damson cherry banana elder damson apple cherry"), // in-stream dup drop
      (7005L, "cherry elder apple damson banana cherry elder apple damson"), // ADMIT
      // 3 of 5 trigrams in the eval bloom = 600 permille → decontam drop
      (7006L, "apple banana alpha beta gamma delta epsilon"))
    val gated = graft.streaming.StreamingOps.ingestDoor(
      spark.readStream.format("ibmmq").option("path", dir.toString).load(),
      "value", "put_ts", scoreQ8, minScoreQ8 = 4000000L, bloom, dsir,
      Dedup.digestIndex(corpus, "text"),
      Dedup.hammingBandIndex(corpus.select(col("doc_id"),
        graft.streaming.StreamingOps.doorFingerprint(col("text"))
          .as("fp")), "doc_id", "fp"),
      "10 minutes")
    val q = gated.writeStream.format("memory").queryName("mq_door_sink")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val admitted = spark.table("mq_door_sink")
      .orderBy("put_ts", "seq").select("key").as[String].collect().toSeq
    assert(admitted == Seq("7000_1", "7005_1"),
      s"door over MQ must admit exactly the clean novel messages, got $admitted")
    // the source envelope passes through the whole chain intact
    assert(spark.table("mq_door_sink").columns.toSeq ==
      Seq("key", "value", "put_ts", "seq"))
  }

  test("door dedup state survives a checkpointed restart (exactly-once across runs)") {
    // The production claim behind the single stateful op: its state
    // store is checkpointed, so a RESTARTED query still drops a
    // fingerprint admitted in the previous run — exactly-once holds
    // across process boundaries, not just across micro-batches.
    // Gates are permissive (this test is about state recovery) and
    // the sink is parquet — the fault-tolerant sink a real deployment
    // restarts into (the memory sink does not survive a restart).
    import graft.operators.{Dedup, Decontaminate, Dsir, TextAnalysis => TA}
    val bloom = Decontaminate.buildShingleBloom(
      Seq((900L, "unrelated eval content entirely", true))
        .toDF("doc_id", "text", "is_eval"),
      "doc_id", "text", col("is_eval"), n = 3)
    val dsir = Dsir.fitModel(Seq(
        (1L, "apple banana cherry damson elder", true),
        (2L, "hammer wrench pliers chisel rasp", false))
      .toDF("doc_id", "text", "is_t"),
      "doc_id", TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "apple banana cherry elder quince plum"))
      .toDF("doc_id", "text")
    val digests = Dedup.digestIndex(corpus, "text")
    val bands = Dedup.hammingBandIndex(corpus.select(col("doc_id"),
      graft.streaming.StreamingOps.doorFingerprint(col("text"))
        .as("fp")), "doc_id", "fp")
    val dir = tmpDir("mq-door-restart")
    val ckpt = tmpDir("mq-door-restart-ckpt")
    val out = tmpDir("mq-door-restart-out")
    def runOnce(): Unit = {
      val q = graft.streaming.StreamingOps.ingestDoor(
        spark.readStream.format("ibmmq").option("path", dir.toString)
          .load(),
        "value", "put_ts", lit(100000000L), minScoreQ8 = 0L, bloom,
        dsir, digests, bands, lateness = "1 hour")
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      ()
    }
    // run 1: one clean admit, one junk drop
    append(dir,
      (7000L, "damson elder apple cherry banana damson elder"),
      (7001L, "hammer wrench pliers chisel rasp hammer"))
    runOnce()
    // run 2, SAME checkpoint: a repeat of run 1's admit (must be
    // dropped by the RECOVERED state — the event time is within the
    // 1-hour lateness, so the key is still live) plus one new admit
    append(dir,
      (8000L, "damson elder apple cherry banana damson elder"),
      (8001L, "quince plum damson apple elder banana cherry quince"))
    runOnce()
    val admitted = spark.read.parquet(out.toString)
      .orderBy("put_ts", "seq").select("key").as[String].collect().toSeq
    assert(admitted == Seq("7000_1", "8001_1"),
      s"recovered state must drop the cross-run repeat, got $admitted")
  }

  test("UTF-16 transport: multi-put append stays parseable (no BOM)") {
    // the generic UTF-16 charset emits a byte-order mark PER ENCODE;
    // an append-based put must not inject one mid-file (it decodes to
    // a stray ﻿ that breaks the putMillis parse)
    val dir = tmpDir("mq-utf16")
    val t = new FileMQTransport(dir.toString,
      java.nio.charset.StandardCharsets.UTF_16, clock = () => 9000L)
    t.put("t1", Seq("héllo", "wörld"))
    t.put("t2", Seq("ünïcode"))
    val recs = t.read(0, 3).toSeq
    assert(recs.map(_.payload) == Seq("héllo", "wörld", "ünïcode"))
    assert(recs.forall(_.putMillis == 9000L))
    assert(t.depth() == 3L)
  }

  test("commit record survives a crash-left empty file (degrades to 0)") {
    val dir = tmpDir("mq-commit-crash")
    append(dir, (1L, "a"), (2L, "b"))
    val t = new FileMQTransport(dir.toString)
    t.commit(2L)
    assert(t.committed() == 2L)
    // simulate a crash that left the record empty: must read as 0
    // (replay-from-start; the key dedup absorbs it), never crash —
    // and the next commit must restore normal service
    Files.write(dir.resolve("committed"), Array.emptyByteArray)
    assert(t.committed() == 0L)
    t.commit(2L)
    assert(t.committed() == 2L)
  }

  test("MQOptions/MQInputPartition never print the password") {
    val o = MQOptions(Map("path" -> "/tmp/x", "user" -> "app",
      "password" -> "s3cret"))
    assert(!o.toString.contains("s3cret") && o.toString.contains("***"))
    assert(!MQInputPartition(o, 0L, 5L).toString.contains("s3cret"))
    assert(o.password.contains("s3cret")) // the value itself is intact
  }

  test("same-millis records with putMillis parse edge (-1) reset keys") {
    // a malformed producer timestamp of -1 must not be confused with
    // the reader's first-record state: the record AFTER it starts its
    // own millisecond at seq 1
    val dir = tmpDir("mq-negms")
    append(dir, (-1L, "bad"), (5000L, "good"), (5000L, "good2"))
    val rows = spark.read.format("ibmmq")
      .option("path", dir.toString).load()
      .orderBy("put_ts", "seq")
      .select("key").as[String].collect().toSeq
    assert(rows == Seq("-1_1", "5000_1", "5000_2"), rows.toString)
  }

  test("capstone ingest loop: MQ -> full door -> idempotent write + " +
    "gated index appends, crash mid-batch, restart: exactly-once " +
    "admits, indexes == rebuild") {
    // The whole production loop in one crash-injected run:
    //   format("ibmmq") -> embedding featurize -> 5-gate ingestDoor
    //   (incl. the semantic probe) -> foreachBatch {
    //     idempotent batch_id-partition write;
    //     if gate.isNew: append BOTH dedup indexes (table tense) and
    //     all FOUR ANN indexes (frozen-quantizer appends); commit }
    // with a simulated crash BETWEEN the partition write and the gate
    // commit, then a restart on the same checkpoint. Afterwards:
    // no duplicate admits (partition overwrite absorbed the replay),
    // no lost docs, every index set-identical to a from-scratch
    // rebuild over corpus + admits, and a cross-batch semantic dup
    // was dropped ONLY because the loop refreshed the ANN index.
    import graft.operators.{Dedup, Decontaminate, Dsir, Retrieval,
      Similarity, TextAnalysis => TA}
    import graft.streaming.{BatchIdGate, StreamingOps}
    // deterministic "embedding extraction": 8 hash-derived dims from
    // the doc's FIRST TWO tokens — so two docs sharing a 2-token
    // prefix but differing after are semantic twins (cos = 1) that
    // the exact and fingerprint gates CANNOT see
    def embedOf(text: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column = {
      val prefix = concat_ws(" ", slice(TA.tokens(text), 1, 2))
      transform(sequence(lit(0), lit(7)), i =>
        (pmod(xxhash64(concat_ws("_", prefix, i.cast("string"))),
          lit(2000L)).cast("double") - 1000.0d) / 1000.0d)
    }
    val bloom = Decontaminate.buildShingleBloom(
      Seq((900L, "unrelated eval content entirely", true))
        .toDF("doc_id", "text", "is_eval"),
      "doc_id", "text", col("is_eval"), n = 3)
    val dsir = Dsir.fitModel(Seq(
        (1L, "apple banana cherry damson elder", true),
        (2L, "hammer wrench pliers chisel rasp", false))
      .toDF("doc_id", "text", "is_t"),
      "doc_id", TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "apple banana cherry elder quince plum"))
      .toDF("doc_id", "text")
    val simOf = StreamingOps.doorFingerprint(col("text"))
    val corpusVecs = corpus.select(col("doc_id").as("vec_id"),
      embedOf(col("text")).as("embedding"))
    // loop state: dedup indexes as BUCKETED TABLES (the production
    // tense), ANN indexes as frozen-quantizer in-memory appends
    Dedup.createDigestIndexTable(corpus, "text", "graft_cap_dig", 2)
    Dedup.createBandedIndexTable(
      corpus.select(col("doc_id"), simOf.as("fp")), "doc_id", "fp",
      "graft_cap_band", 2)
    // the SIXTH index family in the loop: BM25 postings tables, so
    // retrieval stays fresh with zero corpus re-reads under the same
    // crash/replay gate (unlike the anti-join-immune dedup tables,
    // a replayed postings append would double-count df/stats — the
    // gate is REQUIRED here, which is exactly what this test proves)
    Retrieval.createPostingsIndexTable(corpus, "doc_id",
      TA.tokens(col("text")), "graft_cap_post", 2)
    val postTables = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map("graft_cap_post" + _)
    var ivf = Similarity.ivfIndex(corpusVecs, "vec_id", "embedding",
      nCentroids = 1, persistIndex = false)
    // the SEVENTH staged family: the IVF TABLE tense — the DPP-pruned
    // (batch_id, cent_id)-partitioned serving layout. The door's
    // semantic gate and the in-loop hybrid probe SERVE OFF THESE
    // TABLES (the 100 TB layout, not the in-memory handle); the
    // in-memory `ivf` var stays as the parity twin the rebuild
    // compare reads, so table-tense appends are proven equal to the
    // frozen-quantizer in-memory appends THROUGH the loop.
    val ivftPrefix = "graft_cap_ivft"
    val ivftTables = Similarity.ivfIndexTableNames(ivftPrefix)
    Similarity.createIvfIndexTable(ivf, ivftPrefix, 2)
    var lsh = Similarity.lshIndex(corpusVecs, "vec_id", "embedding",
      nPlanes = 3, persistIndex = false)
    var pq = Similarity.pqIndex(corpusVecs, "vec_id", "embedding",
      m = 2, ksub = 2, persistIndex = false)
    var ivfpq = Similarity.ivfPqIndex(corpusVecs, "vec_id", "embedding",
      nCentroids = 1, m = 2, ksub = 2, persistIndex = false)
    val dir = tmpDir("mq-capstone")
    val ckpt = tmpDir("mq-capstone-ckpt")
    val out = tmpDir("mq-capstone-out")
    val lookupOut = tmpDir("mq-capstone-lookup")
    val gate = new BatchIdGate(
      ckpt.resolve("graft-applied").toString)
    @volatile var crashArmed = true
    @volatile var crash2Armed = false
    // the appends run inside foreachBatch's cloned session; THIS
    // session's catalog caches each table's file listing, so the
    // reader must refresh before re-planning the door or asserting —
    // the same contract a production reader session has after an
    // appender refreshes the index tables
    def refreshTables(): Unit = {
      spark.catalog.refreshTable("graft_cap_dig")
      spark.catalog.refreshTable("graft_cap_band")
      postTables.foreach(spark.catalog.refreshTable)
      ivftTables.foreach(spark.catalog.refreshTable)
    }
    // in-loop retrieval freshness: every foreachBatch invocation ALSO
    // serves a retrievalProbe over the staged postings tables (the
    // serving path a production loop runs), recorded per batch id —
    // the assertion below pins that a doc admitted in batch N is
    // retrievable inside the SAME run while batch N+1 processes, not
    // only in the post-hoc rebuild compare
    val inLoopRetrieved = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[Long])]
    // and the HYBRID serving probe (lexical staged tables ⊕ the
    // loop's own evolving IVF index, RRF-fused) — the whole retrieval
    // family serves inside the same crash-injected loop
    val inLoopHybrid = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[Long])]
    def runOnce(): Option[Throwable] = {
      refreshTables()
      val door = StreamingOps.ingestDoor(
        spark.readStream.format("ibmmq").option("path", dir.toString)
          .load().withColumn("embedding", embedOf(col("value"))),
        "value", "put_ts", lit(100000000L), minScoreQ8 = 0L, bloom,
        dsir,
        spark.table("graft_cap_dig"), spark.table("graft_cap_band"),
        lateness = "1 hour",
        // the semantic gate serves off the staged TABLE tense — the
        // layout whose probe dynamically prunes to its cent_id
        // directories (ScaleSpec pins the plan) — not the in-memory
        // parity twin
        semIndex = Some(Similarity.loadIvfIndexTable(spark,
          ivftPrefix)))
      val q = door.writeStream
        .foreachBatch {
          (admitted: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
            locally {
              // the serving probe rides the SAME loop: refresh the
              // cloned session's listings (the cross-session append
              // visibility contract), probe, record what this batch's
              // serving path could retrieve
              val s = admitted.sparkSession
              postTables.foreach(s.catalog.refreshTable)
              ivftTables.foreach(s.catalog.refreshTable)
              import s.implicits._
              inLoopRetrieved += ((batchId,
                StreamingOps.retrievalProbe(
                    Seq((1L, "damson elder")).toDF("query_id", "text"),
                    "query_id", TA.tokens(col("text")),
                    "graft_cap_post", k = 10)
                  .select("doc").as[Long].collect().toSet))
              // the hybrid probe serves off the staged IVF TABLE
              // tense — the same state the door's semantic gate
              // probes (one serving layout for the whole funnel)
              val hq = Seq((1L, "damson elder"))
                .toDF("query_id", "text")
                .withColumn("qv", embedOf(col("text")))
              inLoopHybrid += ((batchId,
                StreamingOps.hybridProbe(hq, "query_id",
                    TA.tokens(col("text")), "qv", "graft_cap_post",
                    Similarity.loadIvfIndexTable(s, ivftPrefix),
                    kRetrieve = 10, k = 5, nProbe = 1)
                  .select("doc").as[Long].collect().toSet))
            }
            StreamingOps.writeBatchIdempotent(
              admitted.drop("embedding"), batchId, out.toString)
            // the admit-time (id → batch_id) lookup rides the same
            // loop — one narrow append per batch, same idempotent
            // replay contract — so the takedown epilogue can discover
            // its partitions without scanning the landing
            StreamingOps.writeLandingLookup(
              admitted, "key", batchId, lookupOut.toString)
            if (crashArmed && !admitted.isEmpty) {
              crashArmed = false
              throw new RuntimeException("injected crash before commit")
            }
            if (gate.isNew(batchId)) {
              val s = admitted.sparkSession
              // appends derive from the LANDED partition (the
              // immutable truth once complete), never the in-flight
              // admitted frame: on a replay after a crash in the
              // append→commit window the door re-probes index tables
              // that already hold this batch's own rows and
              // re-derives an EMPTY admit set — trusting it would
              // skip the appends the replay exists to redo. The
              // embedding is a deterministic feature of the landed
              // value, so it recomputes bit-identically.
              val adf = s.read.parquet(out.toString)
                .filter(col("batch_id") === batchId)
                .select(unix_millis(col("put_ts")).as("doc_id"),
                  col("value").as("text"),
                  embedOf(col("value")).as("embedding"))
                .localCheckpoint()
              // snapshot the in-memory ANN state: the injected crash
              // below models the JVM dying mid-window, after which a
              // restart reloads pre-batch quantizer state — without
              // the restore, the test driver's surviving vars would
              // double-append in a way a real restart cannot
              val (snapIvf, snapLsh, snapPq, snapIvfpq) =
                (ivf, lsh, pq, ivfpq)
              if (!adf.isEmpty) {
                Dedup.appendToDigestIndexTable(adf, "text",
                  "graft_cap_dig", 2)
                Dedup.appendToBandedIndexTable(
                  adf.select(col("doc_id"), simOf.as("fp")),
                  "doc_id", "fp", "graft_cap_band", 2)
                // the gated batchId makes this append idempotent:
                // replay drops the batch's own partition first
                Retrieval.appendToPostingsIndexTable(adf, "doc_id",
                  TA.tokens(col("text")), "graft_cap_post", 2,
                  batchId = Some(batchId))
                // the serving layout's gated append: idempotent per
                // batch id (drops its own partition first), so unlike
                // the in-memory vars it needs NO crash snapshot
                Similarity.appendToIvfIndexTable(adf, "doc_id",
                  "embedding", ivftPrefix, 2, batchId = Some(batchId))
                ivf = Similarity.appendToIvfIndex(ivf, adf,
                  "doc_id", "embedding")
                lsh = Similarity.appendToLshIndex(lsh, adf,
                  "doc_id", "embedding")
                pq = Similarity.appendToPqIndex(pq, adf,
                  "doc_id", "embedding")
                ivfpq = Similarity.appendToIvfPqIndex(ivfpq, adf,
                  "doc_id", "embedding")
              }
              if (crash2Armed && !adf.isEmpty) {
                crash2Armed = false
                ivf = snapIvf; lsh = snapLsh; pq = snapPq
                ivfpq = snapIvfpq
                throw new RuntimeException(
                  "injected crash after appends, before commit")
              }
              gate.commit(batchId)
            }
            ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(120000); None }
      catch { case e: org.apache.spark.sql.streaming
        .StreamingQueryException => Some(e) }
      finally { if (q.isActive) q.stop() }
    }
    try {
      // ---- run 1: crash fires after the partition write, before any
      // append or commit
      append(dir,
        (7000L, "damson elder apple cherry banana damson elder"),
        (7001L, "hammer wrench pliers chisel rasp hammer"))
      assert(runOnce().isDefined, "the injected crash must surface")
      assert(gate.lastCommitted() == -1L,
        "crash landed before the commit")
      // ---- run 2, same checkpoint: batch 0 is REDELIVERED; the
      // partition write overwrites itself, the appends run once
      assert(runOnce().isEmpty)
      assert(gate.lastCommitted() >= 0L)
      // ---- run 3: new arrivals probe the REFRESHED indexes:
      //  8000 = permutation of run-1's admit (same fingerprint) ->
      //         dropped (checkpointed state and the appended banded
      //         table both hold the fingerprint; either suffices)
      //  8001 = same 2-token prefix as run-1's admit, different tail
      //         (new digest, new fingerprint) -> ONLY the refreshed
      //         semantic index drops it
      //  8002 = novel -> admitted
      append(dir,
        (8000L, "elder damson cherry apple banana elder damson"),
        (8001L, "damson elder quince plum fig apricot peach"),
        (8002L, "quince plum damson apple elder banana cherry quince"))
      // ---- run 3 carries the SECOND injected crash: in the window
      // AFTER the landing write and all five gated index appends,
      // BEFORE the gate commit — the window where a replayed batch's
      // arrivals probe indexes that already contain themselves (the
      // door re-drops 8002 as a "duplicate" of its own crashed
      // attempt) and a plain postings re-append would double-count
      crash2Armed = true
      assert(runOnce().isDefined, "the second injected crash must surface")
      assert(gate.lastCommitted() == 0L,
        "batch 1 must be uncommitted after the append-window crash")
      // ---- run 4, same checkpoint: batch 1 REDELIVERS through that
      // window — the completed landing partition is kept (not
      // clobbered by the self-deduped empty admit set), the appends
      // re-run from the LANDED rows, and the batch-partitioned
      // postings append drops its own partition first
      assert(runOnce().isEmpty)
      assert(gate.lastCommitted() == 1L)
      // ---- exactly-once admits: no dup keys despite BOTH replays,
      // no lost docs
      val landed = spark.read.parquet(out.toString)
        .select("key").as[String].collect().sorted.toSeq
      assert(landed == Seq("7000_1", "8002_1"),
        s"capstone admits wrong: $landed")
      // ---- every index == a from-scratch rebuild over corpus+admits
      refreshTables()
      val admitsDf = Seq(
        (7000L, "damson elder apple cherry banana damson elder"),
        (8002L, "quince plum damson apple elder banana cherry quince"))
        .toDF("doc_id", "text")
      val allDocs = corpus.unionByName(admitsDf)
      val allVecs = allDocs.select(col("doc_id").as("vec_id"),
        embedOf(col("text")).as("embedding"))
      assert(spark.table("graft_cap_dig")
          .select("digest").as[String].collect().toSet ==
        Dedup.digestIndex(allDocs, "text")
          .as[String].collect().toSet)
      assert(spark.table("graft_cap_band")
          .select("doc", "sim", "band", "bits")
          .as[(Long, Long, Int, Long)].collect().toSet ==
        Dedup.hammingBandIndex(
            allDocs.select(col("doc_id"), simOf.as("fp")),
            "doc_id", "fp")
          .select("doc", "sim", "band", "bits")
          .as[(Long, Long, Int, Long)].collect().toSet)
      // ANN: appended state == one-shot frozen-quantizer append of
      // all admits onto the base index (the append==rebuild identity
      // proven per-path elsewhere; here it must survive the loop)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select(col("c_id")).as[Long].collect().sorted.toSeq
      assert(ids(ivf.assigned) == Seq(100L, 7000L, 8002L))
      assert(ids(lsh.buckets) == Seq(100L, 7000L, 8002L))
      assert(ids(pq.encoded) == Seq(100L, 7000L, 8002L))
      assert(ids(ivfpq.encoded) == Seq(100L, 7000L, 8002L))
      val oneShot = Similarity.appendToIvfIndex(
        Similarity.ivfIndex(corpusVecs, "vec_id", "embedding",
          nCentroids = 1, persistIndex = false),
        allVecs.filter(col("vec_id") =!= 100L), "vec_id", "embedding")
      assert(ivf.cents == oneShot.cents)
      assert(ivf.assigned.select("c_id", "cent_id")
          .as[(Long, Long)].collect().toSet ==
        oneShot.assigned.select("c_id", "cent_id")
          .as[(Long, Long)].collect().toSet)
      // the TABLE tense the funnel actually served from holds the
      // same content: gated create + crash-replayed appends == the
      // one-shot frozen-quantizer append, quantizer and rows both
      val ivft = Similarity.loadIvfIndexTable(spark, ivftPrefix)
      assert(ids(ivft.assigned) == Seq(100L, 7000L, 8002L))
      assert(ivft.cents == oneShot.cents)
      assert(ivft.assigned.select("c_id", "cent_id")
          .as[(Long, Long)].collect().toSet ==
        oneShot.assigned.select("c_id", "cent_id")
          .as[(Long, Long)].collect().toSet)
      // ---- retrieval freshness under crash + replay: the staged
      // postings tables probe exactly like a from-scratch index over
      // corpus + admits — the gated appends ran once despite the
      // batch-0 redelivery (a replay would have double-counted
      // df/stats and shifted every score), and both door-admitted
      // docs are retrievable
      val rq = Seq((1L, "quince plum"), (2L, "damson elder"))
        .toDF("query_id", "text")
      def probeSet(ix: Retrieval.PostingsIndex) =
        Retrieval.bm25TopKWith(ix, rq, "query_id",
            TA.tokens(col("text")), k = 10)
          .select("query", "rank", "doc", "score_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      val viaTables = probeSet(
        Retrieval.loadPostingsIndex(spark, "graft_cap_post"))
      val rebuilt = Retrieval.postingsIndex(allDocs, "doc_id",
        TA.tokens(col("text")))
      assert(viaTables == probeSet(rebuilt),
        "table-staged retrieval must equal a rebuild over corpus+admits")
      assert(viaTables.exists(_._3 == 7000L) &&
        viaTables.exists(_._3 == 8002L),
        "door-admitted docs must be retrievable from the staged tables")
      // ---- in-loop freshness: batch 0's serving probe saw only the
      // base corpus (doc 100 matches 'elder'); EVERY batch-1 probe —
      // including the crashed attempt's — retrieved the doc admitted
      // in batch 0, inside the same streaming run
      val b0 = inLoopRetrieved.filter(_._1 == 0L).map(_._2)
      assert(b0.nonEmpty && b0.forall(s =>
          s.contains(100L) && !s.contains(7000L) && !s.contains(8002L)),
        s"batch-0 probes must see only the base corpus: $b0")
      val b1 = inLoopRetrieved.filter(_._1 == 1L).map(_._2)
      assert(b1.nonEmpty && b1.forall(_.contains(7000L)),
        s"a doc admitted in batch N must be retrievable via " +
          s"retrievalProbe while batch N+1 processes: $b1")
      // hybrid: batch-0 probes fuse over the base state only; every
      // batch-1 probe retrieves the batch-0 admit through the fused
      // list (it is in BOTH stage-1 lists by then — postings tables
      // and the loop's appended IVF index)
      val hb0 = inLoopHybrid.filter(_._1 == 0L).map(_._2)
      assert(hb0.nonEmpty && hb0.forall(s =>
          s.contains(100L) && !s.contains(7000L) && !s.contains(8002L)),
        s"batch-0 hybrid probes must see only the base state: $hb0")
      val hb1 = inLoopHybrid.filter(_._1 == 1L).map(_._2)
      assert(hb1.nonEmpty && hb1.forall(_.contains(7000L)),
        s"the batch-0 admit must be hybrid-retrievable while batch " +
          s"N+1 processes: $hb1")
      // ---- run 5: the TAKEDOWN epilogue. Delete the batch-0 admit
      // from BOTH retrieval spaces (postings tables + the loop's IVF),
      // then re-ingest its EXACT bytes through the door. Two opposite
      // contracts must hold at once: retrieval FORGETS the doc (the
      // serving probes inside the same loop stop listing it, without
      // any compaction having run), while dedup REMEMBERS it (the
      // retained digest refuses the re-arrival at the door — takedown
      // content must not come back as a fresh admit).
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(7000L).toDF("doc_id"), "doc_id", "graft_cap_post", 2,
        batchId = Some(99L)) == 1L)
      ivf = Similarity.deleteFromIvfIndex(ivf,
        Seq(7000L).toDF("vec_id"), "vec_id")
      // the serving tables take the same takedown: a gated tombstone
      // append — the next loadIvfIndexTable stops serving 7000
      // through the anti-join, no compaction needed
      assert(Similarity.deleteFromIvfIndexTable(spark,
        Seq(7000L).toDF("vec_id"), "vec_id", ivftPrefix, 2,
        batchId = Some(99L)) == 1L)
      append(dir,
        (9000L, "damson elder apple cherry banana damson elder"))
      assert(runOnce().isEmpty)
      assert(gate.lastCommitted() == 2L)
      val landedAfter = spark.read.parquet(out.toString)
        .select("key").as[String].collect().sorted.toSeq
      assert(landedAfter == Seq("7000_1", "8002_1"),
        s"the taken-down bytes must be refused at the door: " +
          s"$landedAfter")
      // the run-5 in-loop serving probes saw the post-takedown state:
      // the victim gone, the other admit still served
      val b2 = inLoopRetrieved.filter(_._1 == 2L).map(_._2)
      assert(b2.nonEmpty && b2.forall(s =>
          !s.contains(7000L) && s.contains(8002L)),
        s"post-takedown probes must forget 7000, keep 8002: $b2")
      val hb2 = inLoopHybrid.filter(_._1 == 2L).map(_._2)
      assert(hb2.nonEmpty && hb2.forall(s =>
          !s.contains(7000L) && s.contains(8002L)),
        s"post-takedown hybrid probes must forget 7000: $hb2")
      // and the staged tables now probe exactly like a rebuild over
      // the SURVIVORS — stale tfmax bounds and all
      refreshTables()
      val rebuiltSurv = Retrieval.postingsIndex(
        allDocs.filter(col("doc_id") =!= 7000L), "doc_id",
        TA.tokens(col("text")))
      assert(probeSet(Retrieval.loadPostingsIndex(
          spark, "graft_cap_post")) == probeSet(rebuiltSurv),
        "post-takedown staged retrieval must equal a survivors rebuild")
      // the BYTES leave too: purge the victim from the landed corpus
      // (its key encodes put_ts=7000) — discovery goes through the
      // admit-time LOOKUP the loop maintained (no landing scan), the
      // other admit's partition is untouched and the taken-down
      // content is gone from storage
      assert(StreamingOps.purgeFromLanding(spark, out.toString,
        spark.read.parquet(lookupOut.toString)
          .filter(col("key") === "7000_1").select("key"),
        "key", lookupDir = Some(lookupOut.toString)) == 1L)
      assert(spark.read.parquet(out.toString)
          .select("key").as[String].collect().sorted.toSeq
        == Seq("8002_1"),
        "the purge must remove exactly the victim's landed row")
      // lookup hygiene rode the same purge: the victim's (id, batch)
      // row left the lookup, the survivor's stayed
      assert(spark.read.parquet(lookupOut.toString)
          .select("key").as[String].collect().sorted.toSeq
        == Seq("8002_1"),
        "the purge must drop the victim's lookup row too")
      rebuiltSurv.unpersist()
      rebuilt.unpersist()
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cap_dig")
      spark.sql("DROP TABLE IF EXISTS graft_cap_band")
      Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_cap_post$s"))
      ivftTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("capstone maintenance cadence: audit-gated maintain* inside " +
    "foreachBatch — healthy batches never swap the pointer, the " +
    "drifted batch triggers exactly one rebuild, admits unaffected") {
    // The maintenance loop wired where production runs it: each
    // ingested batch appends to the PQ index under the FROZEN
    // codebook, then maintainPqIndex audits recall against the
    // accumulated corpus and rebuilds+swaps ONLY when the audit
    // fails. Vectors ride in the MQ payload (csv), the corpus is
    // what landed in the idempotent out dir — no side state.
    import graft.operators.{IndexMaintenance => IM, Similarity}
    import graft.streaming.{BatchIdGate, StreamingOps}
    // the IndexMaintenanceSpec drift fixture: corpus A in the
    // positive unit box; batch B far outside it collapses every code
    // under the A-trained codebook
    val corpusA = (0 until 256).map { i =>
      (i.toLong,
        Array.tabulate(8)(j => 0.2 + ((i * 31 + j * 17) % 13) / 13.0))
    }.toDF("vec_id", "embedding")
    val bMasks = (0 until 256).filter(Integer.bitCount(_) == 4).take(12)
    def bMember(c: Int, m: Int): Array[Double] =
      Array.tabulate(8)(j =>
        -100.0 + (if (((bMasks(c) >> j) & 1) == 1) 0.8 else -0.8) +
          0.01 * ((m * 5 + j) % 3))
    def healthyVec(i: Int): Array[Double] =
      Array.tabulate(8)(j => 0.2 + ((i * 31 + j * 17) % 13) / 13.0)
    def csv(v: Array[Double]) = v.mkString(",")

    val dir = tmpDir("mq-maint")
    val ckpt = tmpDir("mq-maint-ckpt")
    val out = tmpDir("mq-maint-out")
    val corpusDir = tmpDir("mq-maint-corpus")
    corpusA.write.mode("overwrite").parquet(corpusDir.toString)
    val store = new IM.VersionedIndexStore(
      ckpt.resolve("pq-store").toString)
    var pq = IM.rebuildPqIndex(store, corpusA, "vec_id", "embedding",
      m = 4, ksub = 32)
    assert(store.currentVersion() == 0L)
    val gate = new BatchIdGate(ckpt.resolve("graft-applied").toString)
    // (version after maintain, rebuilt, recall) per applied batch
    val events = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Double)]
    val gcEvents = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def runOnce(): Unit = {
      val q = spark.readStream.format("ibmmq")
        .option("path", dir.toString).load()
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
            StreamingOps.writeBatchIdempotent(batch, batchId,
              out.toString)
            if (gate.isNew(batchId)) {
              val s = batch.sparkSession
              def vecOf(c: org.apache.spark.sql.Column) =
                transform(split(c, ","), x => x.cast("double"))
              val adf = batch.select(
                  unix_millis(col("put_ts")).as("vec_id"),
                  vecOf(col("value")).as("embedding"))
                .localCheckpoint()
              if (!adf.isEmpty)
                pq = Similarity.appendToPqIndex(pq, adf, "vec_id",
                  "embedding")
              // corpus = seed table + everything that LANDED
              val corpus = s.read.parquet(corpusDir.toString)
                .unionByName(s.read.parquet(out.toString).select(
                  unix_millis(col("put_ts")).as("vec_id"),
                  vecOf(col("value")).as("embedding")))
              val m = IM.maintainPqIndex(store, corpus, "vec_id",
                "embedding", pq, recallFloor = 0.9, k = 3,
                rerank = 16, m = 4, ksub = 32)
              pq = m.index
              events += ((store.currentVersion(), m.rebuilt, m.recall))
              // retention GC on the same cadence, the aggressive
              // keep-only-CURRENT setting (production holds >= 1 for
              // in-flight readers — the concurrent-reader soak in
              // IndexMaintenanceSpec covers that; here the point is
              // GC inside the live loop): healthy batches find
              // nothing below CURRENT, the swap batch prunes exactly
              // the superseded version while the stream is running
              gcEvents += store.retainVersions(0)
              gate.commit(batchId)
            }
            ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(180000) finally { if (q.isActive) q.stop() }
    }
    // batch 1: healthy arrivals from A's distribution -> audit-only
    append(dir, (0 until 8).map(i =>
      ((2000 + i).toLong, csv(healthyVec(300 + i)))): _*)
    runOnce()
    // batch 2: the drifted clusters -> frozen-codebook collapse ->
    // exactly one audit-gated rebuild + swap
    append(dir, (for { c <- 0 until 12; m <- 0 until 8 }
      yield ((3000 + c * 8 + m).toLong, csv(bMember(c, m)))): _*)
    runOnce()
    // batch 3: healthy again mid-new-version -> audit-only
    append(dir, (0 until 8).map(i =>
      ((4000 + i).toLong, csv(healthyVec(400 + i)))): _*)
    runOnce()

    assert(events.size == 3, s"applied batches: $events")
    val Seq(e1, e2, e3) = events.toSeq
    assert(e1 == ((0L, false, e1._3)) && e1._3 >= 0.9,
      s"healthy batch swapped or failed audit: $e1")
    assert(e2._1 == 1L && e2._2 && e2._3 < 0.9,
      s"drifted batch did not rebuild: $e2")
    assert(e3 == ((1L, false, e3._3)) && e3._3 >= 0.9,
      s"post-rebuild healthy batch swapped again: $e3")
    assert(store.currentVersion() == 1L,
      "exactly one rebuild across the run")
    // GC-in-the-loop: nothing to prune on the healthy batches, the
    // swap batch pruned exactly the superseded version 0, and the
    // surviving store is still loadable
    assert(gcEvents.toSeq == Seq(Nil, Seq(0L), Nil), s"gc: $gcEvents")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store.versionDir(0L))),
      "version 0 must be deleted after the swap-batch GC")
    val reloaded = IM.loadPqIndex(spark, store.versionDir(1L))
    assert(reloaded.codebook.length == 4)
    // admits unaffected by the mid-run swap: every message landed
    // exactly once (batch replay absorbed by the idempotent write)
    val landed = spark.read.parquet(out.toString)
      .select("key").as[String].collect().sorted.toSeq
    assert(landed.size == 8 + 96 + 8 && landed.distinct == landed,
      s"landed ${landed.size} keys")
    // and the live index covers corpus + every arrival
    assert(pq.encoded.count() == 256L + 8L + 96L + 8L)
  }

  /** Run `body` with the session's checkpoint file manager set to
    * `cls` (None = unset, so the `ibmmq` provider installs its own),
    * restoring the previous setting afterwards. */
  private def withCheckpointManager[T](cls: Option[String])(body: => T): T = {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    cls.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One AvailableNow pass of an `ibmmq` -> `ibmmq` relay. */
  private def relayOnce(in: Path, out: Path, ckpt: Path): Unit = {
    val q = spark.readStream.format("ibmmq")
      .option("path", in.toString).option("keepMessages", "false")
      .option("maxMessagesPerTrigger", "2").load()
      .select("value")
      .writeStream.format("ibmmq").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  private def payloads(dir: Path): Seq[String] = {
    val t = new FileMQTransport(dir.toString)
    t.read(0L, t.depth()).map(_.payload).toSeq
  }

  private def crcFiles(root: Path): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toSeq
    finally walk.close()
  }

  test("relay checkpoints move between Spark's default manager and the " +
    "local one in both directions, exactly once") {
    val sparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)
    val (in, out, ckpt) =
      (tmpDir("mq-cfm-in"), tmpDir("mq-cfm-out"), tmpDir("mq-cfm-ckpt"))
    append(in, (1L, "a"), (2L, "b"), (3L, "c"))
    withCheckpointManager(sparkDefault)(relayOnce(in, out, ckpt))
    assert(crcFiles(ckpt).nonEmpty, "Spark's default manager writes .crc")
    append(in, (4L, "d"), (5L, "e"))
    withCheckpointManager(None)(relayOnce(in, out, ckpt))
    append(in, (6L, "f"))
    withCheckpointManager(sparkDefault)(relayOnce(in, out, ckpt))
    assert(payloads(out) == Seq("a", "b", "c", "d", "e", "f"))
  }

  test("an ibmmq query's default checkpoint holds no .crc sidecars") {
    val (in, out, ckpt) =
      (tmpDir("mq-nocrc-in"), tmpDir("mq-nocrc-out"), tmpDir("mq-nocrc-ckpt"))
    append(in, (1L, "a"), (2L, "b"), (3L, "c"))
    withCheckpointManager(None)(relayOnce(in, out, ckpt))
    assert(payloads(out) == Seq("a", "b", "c"))
    assert(Files.exists(ckpt.resolve("commits").resolve("1")))
    assert(crcFiles(ckpt).isEmpty, crcFiles(ckpt).mkString(", "))
  }
}
