package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval of the benchmark, at a layer boundary. Times are
  * epoch milliseconds (double, so sub-ms spans keep their size). */
final case class Span(id: String, parent: String, name: String,
                      layer: String, start: Double, end: Double)

/** Totals of the Spark jobs attributed to one span (or to a whole run). */
final class Ledger {
  var jobs, stages, tasks = 0L
  var taskS, taskCpuS, gcS = 0.0
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  def add(s: StageInfo): Unit = {
    stages += 1
    tasks += s.numTasks
    val m = s.taskMetrics
    if (m != null) {
      taskS += m.executorRunTime / 1e3
      taskCpuS += m.executorCpuTime / 1e9
      gcS += m.jvmGCTime / 1e3
      inputBytes += m.inputMetrics.bytesRead
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def metrics(prefix: String): Map[String, Double] = Map(
    s"$prefix.jobs" -> jobs.toDouble, s"$prefix.stages" -> stages.toDouble,
    s"$prefix.tasks" -> tasks.toDouble, s"$prefix.task_s" -> taskS,
    s"$prefix.task_cpu_s" -> taskCpuS, s"$prefix.gc_s" -> gcS,
    s"$prefix.input_bytes" -> inputBytes.toDouble,
    s"$prefix.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    s"$prefix.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    s"$prefix.spill_bytes" -> spillBytes.toDouble)
}

/** Collects every micro-batch progress event. `recentProgress` keeps only
  * the last `numRecentProgressUpdates` (100), which a long drain exceeds. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == queryId).toSeq.sortBy(_.batchId)
}

/** Spans plus the Spark execution ledger. Disabled (the untraced run),
  * `span` only runs its body: no listener is registered and nothing is
  * recorded. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = mutable.Stack[String]("root")
  // stage id -> key of the span whose job submitted it
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val ledgers = new java.util.concurrent.ConcurrentHashMap[String, Ledger]()
  private val stageIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var total = new Ledger

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val owner =
        if (p == null) "root"
        else Option(p.getProperty("streaming.sql.batchId"))
          .map(b => batchKey(p.getProperty("sql.streaming.queryId"), b.toLong))
          .orElse(Option(p.getProperty(SpanProp))).getOrElse("root")
      e.stageIds.foreach(s => stageOwner.putIfAbsent(s, owner))
      val t = total
      t.synchronized { t.jobs += 1 }
      val l = ledgers.computeIfAbsent(owner, _ => new Ledger)
      l.synchronized { l.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val owner = Option(stageOwner.get(s.stageId)).getOrElse("root")
      val t = total
      t.synchronized { t.add(s) }
      val l = ledgers.computeIfAbsent(owner, _ => new Ledger)
      l.synchronized { l.add(s) }
      for (a <- s.submissionTime; b <- s.completionTime)
        stageIntervals.add((a, b))
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `body` inside a span; Spark jobs it starts on this thread are
    * attributed to the span through a local property. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = s"s${ids.incrementAndGet()}"
      val parent = stack.top
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id)
      stack.push(id)
      val t0 = nowMs()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, t0, nowMs()))
        stack.pop()
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** The current span, for spans recorded after the fact under it. */
  def current: String = stack.top

  /** Micro-batch spans from progress events, keyed like the jobs they
    * ran (query id + `streaming.sql.batchId`), with the `durationMs`
    * phases as children laid end to end in trigger order. */
  def addBatches(parent: String, ps: Seq[StreamingQueryProgress]): Unit =
    if (enabled) ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val key = batchKey(p.id.toString, p.batchId)
      spans.add(Span(key, parent, s"batch ${p.batchId}", "stream_batch",
        start, start + d.getOrElse("triggerExecution", 0.0)))
      var t = start
      PhaseOrder.filter(d.contains).foreach { ph =>
        spans.add(Span(s"$key/$ph", key, ph, "stream_phase", t, t + d(ph)))
        t += d(ph)
      }
    }

  def ledgerOf(spanId: String): Ledger =
    Option(ledgers.get(spanId)).getOrElse(new Ledger)

  /** Wall time of [t0, t1] during which no stage was running. */
  def noStageSeconds(t0: Double, t1: Double): Double = {
    val iv = stageIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a.toDouble, t0), math.min(b.toDouble, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cur._1.isNaN) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { covered += cur._2 - cur._1; cur = (a, b) }
    }
    if (!cur._1.isNaN) covered += cur._2 - cur._1
    (t1 - t0 - covered) / 1e3
  }

  /** Seconds of each layer's spans not covered by their child spans. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var hi = s.start
      iv.foreach { case (a, b) =>
        if (b > hi) { covered += b - math.max(a, hi); hi = b }
      }
      out(s.layer) += (s.end - s.start - covered) / 1e3
    }
    out.toMap
  }

  def spanCount: Int = spans.size

  /** Writes the spans, each with the ledger of the jobs it owns, as JSON
    * lines. */
  def write(path: String): Unit = if (enabled) {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      val l = ledgerOf(s.id).metrics("exec")
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":"${s.id}","parent":"${s.parent}","name":"${Json.esc(s.name)}",""" +
        s""""layer":"${s.layer}","start_ms":${s.start},"end_ms":${s.end},$l}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Stops recording jobs (an untraced pass in between); [[resume]]
    * starts again with an empty run total. */
  def pause(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)
  def resume(): Unit = if (enabled) {
    total = new Ledger
    spark.sparkContext.addSparkListener(listener)
  }
  def stop(): Unit = pause()
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PhaseOrder = Seq("latestOffset", "queryPlanning", "getBatch",
    "walCommit", "addBatch", "commitOffsets")
  def batchKey(queryId: String, batchId: Long): String = s"b:$queryId:$batchId"
  def nowMs(): Double = System.nanoTime() / 1e6 - NanoOffsetMs
  // maps the monotonic clock onto epoch ms once, so spans from progress
  // timestamps (epoch) and from this JVM's clock share one axis
  private val NanoOffsetMs: Double =
    System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""${esc(k)}":$x"""
    }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles`
    * "inclusive" convention). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Mean of the values between the first and the third quartile. */
  def midMean(xs: Seq[Double]): Double = {
    val (lo, hi) = (quantile(xs, 0.25), quantile(xs, 0.75))
    val mid = xs.filter(x => x >= lo && x <= hi)
    if (mid.isEmpty) Double.NaN else mid.sum / mid.size
  }
  /** The batches of a drain that count as steady: those with input, but
    * the first, which also pays the fresh query's start. */
  def steady(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0).drop(1)
  /** Rows per second of a drain: the mean of the middle half of its steady
    * batches' rates. A stalled batch does not move it, and it is finer
    * than the millisecond a batch is timed in. */
  def steadyRate(ps: Seq[StreamingQueryProgress]): Double =
    midMean(steady(ps).map(b =>
      b.numInputRows * 1000.0 / math.max(b.durationMs.get("triggerExecution").toLong, 1L)))
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
