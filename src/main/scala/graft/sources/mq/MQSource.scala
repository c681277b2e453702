package graft.sources.mq

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The IBM-MQ-shaped Structured Streaming source (SURVEY.md §2A →
  * Spark-native restatement, §3.2). The reference's DStream
  * `Receiver<String>` machinery maps onto DataSource V2:
  *
  *  - A1/A2 source scan + browse cursor  → offset-tracked `read(start,end)`
  *  - A4 key synthesis                   → done in the partition reader
  *  - A7 micro-batch buffering           → micro-batch planning itself
  *  - A8 transactional ack               → `commit(end)` after checkpoint
  *  - A9 halt file                       → `haltFile` option checked per trigger
  *  - A10 GET-inhibited                  → transport.inhibited gate
  *  - A11 empty-queue backoff            → empty ranges, trigger pacing
  *  - A12 rate limit (dead in reference) → REAL here: maxMessagesPerTrigger
  *                                         via SupportsAdmissionControl
  *  - A15 connection options             → eagerly-validated option map
  *
  * Emits the typed envelope `key STRING, value STRING, put_ts TIMESTAMP,
  * seq INT` (SURVEY.md §1.4): richer than the reference's JSON-array
  * string but losslessly convertible to it with
  * [[graft.operators.Envelope.encode]].
  *
  * Ordering: by default exactly one input partition, mirroring the
  * reference's one-receiver deployment (README.md:59-64) — but that
  * deployment is a CHOICE, not a law of the source. `minPartitions=N`
  * (the Kafka-source scale story) splits each micro-batch offset
  * range into up to N contiguous sub-ranges read in parallel:
  * per-partition order still holds (each sub-range replays in offset
  * order), the synthesized keys are IDENTICAL to the ordered mode's
  * (the `<putMillis>_<seq>` counter is a pure function of absolute
  * queue position via `sameMillisPrefix`, not of which reader emits
  * it), and offsets/commit/metrics are untouched — only total
  * cross-partition interleaving is given up. A 100 TB backfill
  * ingests at executor parallelism instead of single-reader rate.
  */
class MQSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ibmmq"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MQSourceProvider.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // both readStream and writeStream of `ibmmq` resolve the table
    // here, before the query builds its offset/commit logs
    SparkSession.getActiveSession
      .foreach(graft.sources.LocalCheckpointFileManager.install)
    new MQTable(MQOptions(properties.asScala.toMap))
  }
}

object MQSourceProvider {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true),
    StructField("put_ts", TimestampType, nullable = false),
    StructField("seq", IntegerType, nullable = false)))
}

/** Eagerly-validated options, mirroring the reference ctor's surface
  * (IBMMQReceiver.java:101-137): parse-or-throw before any stream
  * starts, like the ctor's string->int/bool parsing (:115-130).
  */
case class MQOptions(raw: Map[String, String]) {
  private def opt(k: String): Option[String] =
    raw.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }

  /** Case-class toString would print the raw map — including the MQ
    * password — into any task-failure diagnostic or debug line that
    * formats the options or an `MQInputPartition`. Render with the
    * secret redacted (the Kafka-connector stance). */
  override def toString: String =
    raw.map { case (k, v) =>
      val vv = if (k.equalsIgnoreCase("password")) "***" else v
      s"$k -> $vv"
    }.mkString("MQOptions(", ", ", ")")

  /** Directory of the file-backed transport (tests / offline). A real
    * deployment sets host/port/queueManager/channel/queue instead. */
  val path: Option[String] = opt("path")
  val host: Option[String] = opt("host")
  val port: Int = opt("port").map(_.toInt).getOrElse(1414)
  val queueManager: Option[String] = opt("queueManager")
  val channel: Option[String] = opt("channel")
  val queue: Option[String] = opt("queue")
  val user: Option[String] = opt("user")
  val password: Option[String] = opt("password")
  val waitInterval: Int = opt("waitInterval").map(_.toInt).getOrElse(5000)
  val keepMessages: Boolean =
    opt("keepMessages").map(_.toBoolean).getOrElse(true)
  val maxMessagesPerTrigger: Option[Long] =
    opt("maxMessagesPerTrigger").map(_.toLong)
  val ccsid: Option[Int] = opt("mqccsid").map(_.toInt)
  val haltFile: Option[String] = opt("haltFile")
  /** A13 retry policy: attempts per transport operation (1 = no retry)
    * and capped exponential backoff. The 600 s default cap is the
    * reference's reconnect backoff ceiling (IBMMQReceiver.java:219-225).
    */
  /** Parallel read (Kafka-style): split each planned offset range into
    * up to this many contiguous sub-ranges, one InputPartition each.
    * 1 (default) = the reference's ordered single-consumer mode. */
  val minPartitions: Int = opt("minPartitions").map(_.toInt).getOrElse(1)
  val retryAttempts: Int = opt("retryAttempts").map(_.toInt).getOrElse(3)
  val retryInitialBackoffMs: Long =
    opt("retryInitialBackoffMs").map(_.toLong).getOrElse(100L)
  val retryMaxBackoffMs: Long =
    opt("retryMaxBackoffMs").map(_.toLong).getOrElse(600000L)

  require(path.isDefined || (host.isDefined && queueManager.isDefined &&
    channel.isDefined && queue.isDefined),
    "ibmmq source requires either 'path' (file-backed transport) or " +
      "host/queueManager/channel/queue connection options")
  require(waitInterval > 0, "waitInterval must be positive")
  require(minPartitions >= 1, "minPartitions must be >= 1")
  maxMessagesPerTrigger.foreach(m =>
    require(m > 0, "maxMessagesPerTrigger must be positive"))
  require(retryAttempts >= 1, "retryAttempts must be >= 1")
  // Fail at option-parse time, not first-read time, when the CCSID has
  // no JVM charset (same eager posture as the reference ctor). Only
  // the NAME is stored — Charset is not serializable and MQOptions
  // rides inside the InputPartition to executors.
  private val charsetName: String = ccsid.map(MQCcsid.charsetFor)
    .getOrElse(java.nio.charset.StandardCharsets.UTF_8).name()

  def transport(): MQTransport = {
    val base = path match {
      case Some(p) => new FileMQTransport(p,
        java.nio.charset.Charset.forName(charsetName))
      case None => throw new UnsupportedOperationException(
        "com.ibm.mq.allclient transport is not available in this offline " +
          "build; it implements MQTransport behind the same seam " +
          "(reference A13/A15 semantics: MQCSP auth, syncpoint, reconnect)")
    }
    if (retryAttempts > 1)
      new RetryingTransport(base, retryAttempts,
        retryInitialBackoffMs, retryMaxBackoffMs)
    else base
  }
}

class MQTable(options: MQOptions) extends Table
  with SupportsRead with SupportsWrite {
  override def name(): String =
    s"ibmmq(${options.queue.orElse(options.path).getOrElse("?")})"
  override def schema(): StructType = MQSourceProvider.Schema
  // ACCEPT_ANY_SCHEMA: the write side takes any relation carrying a
  // STRING `value` column (Kafka-sink convention) rather than the
  // read envelope; MQWriteBuilder validates it at plan time.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap)
  : ScanBuilder = () => new MQScan(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MQWriteBuilder(options, info)
}

class MQScan(options: MQOptions) extends Scan {
  override def readSchema(): StructType = MQSourceProvider.Schema
  override def description(): String = "ibmmq-scan"

  override def toMicroBatchStream(checkpointLocation: String)
  : MicroBatchStream = new MQMicroBatchStream(options)

  /** Batch twin: read everything currently on the queue (browse),
    * split across `minPartitions` readers like the streaming side. */
  override def toBatch: Batch = new Batch {
    private val transport = options.transport()
    override def planInputPartitions(): Array[InputPartition] =
      MQInputPartition.split(options, 0L, transport.depth(),
        options.minPartitions)
    override def createReaderFactory(): PartitionReaderFactory =
      new MQReaderFactory
  }
}

/** Offset = count of messages ever observed (the browse-cursor
  * position). JSON-serialized for the checkpoint offset log. */
case class MQOffset(pos: Long) extends Offset {
  override def json(): String = s"""{"pos":$pos}"""
}
object MQOffset {
  private val P = """\{\s*"pos"\s*:\s*(\d+)\s*\}""".r
  def fromJson(s: String): MQOffset = s.trim match {
    case P(p) => MQOffset(p.toLong)
    case other => throw new IllegalArgumentException(s"bad MQOffset: $other")
  }
}

class MQMicroBatchStream(options: MQOptions)
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val transport = options.transport()

  /** Trigger.AvailableNow: snapshot the queue depth once, drain up to
    * it (in rate-capped batches), then stop. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(transport.depth())

  private def halted: Boolean = options.haltFile.exists(f =>
    java.nio.file.Files.exists(java.nio.file.Paths.get(f)))

  override def initialOffset(): Offset = MQOffset(0L)

  override def deserializeOffset(json: String): Offset =
    MQOffset.fromJson(json)

  /** Offsets arriving from the engine are NOT always MQOffset: on a
    * restart that redelivers a checkpointed batch, Spark hands the
    * raw `SerializedOffset` (the offset-log JSON, never passed
    * through [[deserializeOffset]]) to `metrics`/`commit` — a blind
    * asInstanceOf is a ClassCastException that kills the restarted
    * query exactly when recovery matters. Coerce through the JSON
    * form, which both shapes carry. */
  private def asMQOffset(o: Offset): MQOffset = o match {
    case m: MQOffset => m
    case other => MQOffset.fromJson(other.json())
  }

  override def getDefaultReadLimit: ReadLimit =
    options.maxMessagesPerTrigger
      .map(m => ReadLimit.maxRows(m))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Admission control (the REAL rate limit the reference only declared
    * — A12): advance at most `maxRows` per trigger; stall entirely when
    * halted (A9) or GET-inhibited (A10). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = asMQOffset(start).pos
    if (halted || transport.inhibited) MQOffset(s)
    else {
      val available = availableNowCap.getOrElse(transport.depth())
      val capped = limit match {
        case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
          math.min(available, s + rl.maxRows())
        case _ => available
      }
      MQOffset(math.max(s, capped))
    }
  }

  override def reportLatestOffset(): Offset = MQOffset(transport.depth())

  // A14 operational counters, mirroring the reference's
  // numMessagesReceived / numMessagesCommited / numCommitsFailed
  // (IBMMQReceiver.java:91-93, incremented at :341-356 and :502-512) —
  // the numbers an operator alarms on. Driver-side, cumulative over
  // the stream's lifetime.
  @volatile private var messagesReceived = 0L
  @volatile private var messagesCommitted = 0L
  @volatile private var commitsFailed = 0L

  override def planInputPartitions(start: Offset, end: Offset)
  : Array[InputPartition] = {
    val s = asMQOffset(start).pos
    val e = asMQOffset(end).pos
    // offset == count of messages ever observed, so the planned
    // high-water mark IS the cumulative received count (max() keeps it
    // monotone under replanning/replay of an old range).
    messagesReceived = math.max(messagesReceived, e)
    MQInputPartition.split(options, s, e, options.minPartitions)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MQReaderFactory

  /** A8: acknowledge consumption AFTER the micro-batch's offset is
    * durably checkpointed — destructive mode removes the messages, the
    * browse mode (keepMessages=true, reference default) leaves them.
    * A commit failure is counted and swallowed, like the reference's
    * log-and-continue (IBMMQReceiver.java:357-365): the messages stay
    * on the queue, get redelivered, and the synthesized key dedups
    * them downstream — at-least-once is preserved either way.
    */
  override def commit(end: Offset): Unit =
    if (!options.keepMessages) {
      val pos = asMQOffset(end).pos
      try {
        transport.commit(pos)
        messagesCommitted = math.max(messagesCommitted, pos)
      } catch {
        case scala.util.control.NonFatal(e) =>
          commitsFailed += 1
          MQMicroBatchStream.log.warn(
            s"ibmmq commit($pos) failed (will redeliver)", e)
      }
    }

  override def stop(): Unit = ()

  /** A14 analogue: the reference logs queue depth / received /
    * committed counts every 60s (IBMMQReceiver.java:481-522); here the
    * same operational signals surface per micro-batch through
    * StreamingQueryProgress.sources[].metrics. */
  override def metrics(latestConsumed: java.util.Optional[Offset])
  : java.util.Map[String, String] = {
    val consumed = if (latestConsumed.isPresent)
      asMQOffset(latestConsumed.get).pos else 0L
    val depth = transport.depth()
    java.util.Map.of(
      "queueDepth", depth.toString,
      "messagesBehind", math.max(0L, depth - consumed).toString,
      "messagesReceived", messagesReceived.toString,
      "messagesCommitted", messagesCommitted.toString,
      "commitsFailed", commitsFailed.toString,
      "halted", halted.toString,
      "getInhibited", transport.inhibited.toString)
  }
}

object MQMicroBatchStream {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[MQMicroBatchStream])
}

case class MQInputPartition(options: MQOptions, start: Long, end: Long)
  extends InputPartition

object MQInputPartition {
  /** Split [start, end) into at most `n` contiguous NON-EMPTY
    * sub-ranges (fewer when the range is smaller than `n`): the union
    * of the sub-ranges is exactly the planned range, each sub-range
    * preserves offset order, and the proportional cut points mean no
    * partition differs from another by more than one message. Empty
    * planned ranges yield zero partitions, as before.
    */
  def split(options: MQOptions, start: Long, end: Long,
            n: Int): Array[InputPartition] = {
    val total = end - start
    if (total <= 0L) Array.empty
    else {
      val k = math.min(n.toLong, total).toInt
      Array.tabulate[InputPartition](k) { i =>
        MQInputPartition(options,
          start + total * i / k,
          start + total * (i + 1) / k)
      }
    }
  }
}

class MQReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MQInputPartition]
    new MQPartitionReader(p.options.transport(), p.start, p.end)
  }
}

/** Reads [start, end) and synthesizes the reference's monotone event
  * key (A4): `<putMillis>_<seqWithinMillis>`, continuing the counter
  * across batch boundaries via `sameMillisPrefix` so replays of the
  * same range always produce identical keys (exactly-once safe).
  */
class MQPartitionReader(transport: MQTransport, start: Long, end: Long)
  extends PartitionReader[InternalRow] {

  private val it = transport.read(start, end)
  // explicit first-record flag: a millis SENTINEL (-1) would collide
  // with a real putMillis of -1 from a malformed producer timestamp
  // and silently continue the counter instead of resetting it
  private var first = true
  private var lastMillis = 0L
  private var lastSeq = transport.sameMillisPrefix(start)
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val rec = it.next()
    // Reference repair (IBMMQReceiver.java:251-254): native seq is 1
    // for non-grouped messages; bump it within a shared millisecond —
    // the first record continues the counter iff its predecessors
    // (before `start`) share its millisecond (sameMillisPrefix > 0).
    val seq =
      if (if (first) lastSeq > 0 else rec.putMillis == lastMillis)
        lastSeq + 1
      else 1
    first = false
    lastMillis = rec.putMillis
    lastSeq = seq
    current = InternalRow(
      UTF8String.fromString(s"${rec.putMillis}_$seq"),
      UTF8String.fromString(rec.payload),
      rec.putMillis * 1000L, // micros
      seq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
