package graft.sources.mq

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Horizontal scale for the MQ source.
  *
  * One `ibmmq` stream is deliberately ONE ordered partition — the
  * reference exists to preserve queue order (README.md:59-64), and
  * splitting a FIFO queue across readers would break exactly the
  * contract it replicates. Scale at 100 TB therefore comes from MANY
  * queues (the standard MQ deployment shape: one queue per shard /
  * region / replication stream), each its own source with its own
  * offsets, checkpoint lineage, and admission control, unioned into
  * one DataFrame downstream.
  *
  * Order guarantee after the union: per-queue order is preserved
  * (each source stays a single ordered partition end-to-end); there
  * is no global cross-queue order — consumers that need one sort by
  * (`put_ts`, `seq`) within a watermark, same as any multi-shard log.
  */
object MQSources {

  /** Union of one `ibmmq` stream per queue directory/name, tagged with
    * the queue it came from. `options` apply to every member (rate
    * caps, retry policy, ccsid, ...).
    */
  def unionQueues(spark: SparkSession, queues: Seq[String],
                  options: Map[String, String] = Map.empty): DataFrame = {
    require(queues.nonEmpty, "need at least one queue")
    queues.map { q =>
      options.foldLeft(spark.readStream.format("ibmmq")) {
        case (r, (k, v)) => r.option(k, v)
      }.option("path", q).load()
        .withColumn("queue", lit(q))
    }.reduce(_ unionByName _)
  }

  /** The tagged envelope [[orderedMerge]] consumes — what
    * [[unionQueues]] emits. */
  final case class QueueRecord(queue: String, put_ts: java.sql.Timestamp,
                               seq: Int, key: String, value: String)

  /** Opt-in TOTAL order across queues: a watermark-bounded buffer
    * that re-emits the union in global `(put_ts, seq, queue)` order.
    *
    * The reference's whole reason to exist is order preservation
    * (README.md:59-64), but it only ever reads ONE queue; after
    * [[unionQueues]] the guarantee is per-queue only. This operator
    * restores a deployment-wide order the same way any multi-shard
    * log consumer does: hold each arrival until the event-time
    * watermark passes it (no earlier record can still arrive), then
    * release in timestamp order with the reference's own tie-break —
    * `seq` (the same-millisecond counter) then `queue`.
    *
    * Semantics: records later than the watermark are dropped (the
    * stateful-op stance shared with the windowed aggs — `lateness` IS
    * the order guarantee's horizon, pick it from the queues' real
    * cross-queue clock skew + delivery lag). Emission order holds
    * within and ACROSS micro-batches: batch N releases exactly the
    * records in `(wm_{N-1}, wm_N]`, sorted, so a downstream
    * `foreachBatch` sees a globally sorted stream.
    *
    * Scale stance: a total order has exactly one merge point by
    * definition (same as the single consumer it replaces), so this
    * runs as ONE stateful key — state is bounded by
    * `arrival rate × lateness`, NOT by stream length (the watermark
    * evicts continuously), and the per-queue sources upstream keep
    * their parallelism. Deployments that only need per-shard order
    * skip this operator entirely — that is the default
    * [[unionQueues]] contract.
    */
  def orderedMerge(records: DataFrame, lateness: String)
  : Dataset[QueueRecord] = {
    val spark = records.sparkSession
    import spark.implicits._
    val typed = typedRecords(records, lateness)
    typed
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (_: Int, rows: Iterator[QueueRecord],
         state: GroupState[Seq[QueueRecord]]) => {
          val buf = state.getOption.getOrElse(Seq.empty) ++ rows
          val wm = state.getCurrentWatermarkMs()
          // release everything the watermark has passed; the rest
          // waits (a still-earlier record could yet arrive)
          val (emit, keep) = buf.partition(_.put_ts.getTime <= wm)
          if (keep.isEmpty) state.remove()
          else {
            state.update(keep)
            // wake up when the watermark reaches the oldest held
            // record even if no new data arrives on any queue
            state.setTimeoutTimestamp(
              math.max(keep.map(_.put_ts.getTime).min, wm + 1))
          }
          emit.sortBy(r => (r.put_ts.getTime, r.seq, r.queue)).iterator
        })
  }

  private def typedRecords(records: DataFrame,
                           lateness: String): Dataset[QueueRecord] = {
    val spark = records.sparkSession
    import spark.implicits._
    records
      .withWatermark("put_ts", lateness)
      .select(col("queue"), col("put_ts"), col("seq").cast("int"),
        col("key"), col("value"))
      .as[QueueRecord]
  }

  /** [[orderedMerge]] on Spark 4's `transformWithState` — the
    * SCALE-SAFE state transport (requires the RocksDB state store
    * provider; the flatMapGroupsWithState form above stays as the
    * HDFS-state-store twin, and the two are emission-parity pinned on
    * the interleaved fixture).
    *
    * Why this form exists: the fMGWS transport deserializes, appends
    * to, and re-serializes the ENTIRE buffer Seq every trigger — at
    * the reference's own 1000 msg/s with minutes of lateness that is
    * an O(buffer) rewrite of a multi-hundred-thousand-row value per
    * micro-batch, on one task, forever. Here the buffer is a
    * `MapState` keyed by the record's own total-order key
    * `(put_ts_ms, seq, queue)` (unique by construction — `seq` is the
    * per-queue same-millisecond counter):
    *
    *  - ARRIVALS are point inserts (`updateValue` per record; a rare
    *    duplicate-key redelivery appends within its own key's value,
    *    preserving the fMGWS form's emit-both behavior) — records
    *    held under other keys are never touched;
    *  - RELEASE scans the KEYS (no value deserialization for
    *    survivors), reads + `removeKey`s exactly the released
    *    entries, and leaves survivors' bytes where they are — no
    *    rewrite, which is why MapState over `ListState`: a list can
    *    append incrementally but evicting its released PREFIX is
    *    clear() + re-append of every survivor, the same O(buffer)
    *    rewrite in new clothes.
    *
    * Per-trigger cost: O(arrivals) writes, PLUS — only when the
    * watermark has reached the min-held bound (a ValueState lower
    * bound on every held put_ts) — O(held keys) key-scan +
    * O(released) reads/deletes; triggers whose watermark advanced
    * past nothing skip the scan entirely. vs fMGWS's O(held) full
    * read-and-rewrite. An event-time timer (tracked in `timerAt`, the
    * `setTimeoutTimestamp` twin) wakes the key when the watermark
    * reaches the oldest held record even if every queue idles.
    * Semantics are [[orderedMerge]]'s verbatim: late records drop at
    * the operator's watermark filter (observable —
    * [[droppedLateTotal]]), releases are the watermark-passed prefix
    * in global (put_ts, seq, queue) order, within and across batches.
    */
  def orderedMergeTws(records: DataFrame, lateness: String)
  : Dataset[QueueRecord] = {
    val spark = records.sparkSession
    import spark.implicits._
    typedRecords(records, lateness)
      .groupByKey(_ => 0)
      .transformWithState(new OrderedMergeProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  private[graft] final class OrderedMergeProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Int, QueueRecord, QueueRecord] {
    import org.apache.spark.sql.{streaming => ss}
    import org.apache.spark.sql.Encoders

    // value is a SEQ for one reason: an at-least-once anomaly can
    // deliver two records with the same (ms, seq, queue) key, and the
    // fMGWS twin buffers + emits both — a plain-value map would
    // silently overwrite one and break emission parity exactly in the
    // anomaly case. Collisions are the rare path (the source's
    // checkpointed offsets make keys unique per query), so the
    // append-on-collision value rewrite is per colliding key only —
    // survivors of OTHER keys are still never touched.
    @transient private var buf
    : ss.MapState[(Long, Int, String), Seq[QueueRecord]] = _
    @transient private var timerAt: ss.ValueState[Long] = _
    // lower bound on every held key's put_ts — the key-scan early-out.
    // Invariant: absent when the buffer is empty (post-scan), else
    // ≤ the true minimum held put_ts. Arrivals only LOWER it (a point
    // read + conditional write per batch, not per row); each full key
    // scan resets it exactly. A trigger whose watermark sits below the
    // bound can release nothing, so it skips the scan entirely —
    // making the per-trigger cost contract O(arrivals) writes when
    // the watermark advanced past nothing, and O(arrivals) writes +
    // O(held keys) key-scan + O(released) reads/deletes otherwise.
    @transient private var minHeldTs: ss.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: ss.TimeMode): Unit = {
      buf = getHandle.getMapState("buf",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
          Encoders.STRING),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
          Seq[QueueRecord]](),
        ss.TTLConfig.NONE)
      timerAt = getHandle.getValueState("timerAt", Encoders.scalaLong,
        ss.TTLConfig.NONE)
      minHeldTs = getHandle.getValueState("minHeldTs",
        Encoders.scalaLong, ss.TTLConfig.NONE)
    }

    /** Re-arm (or clear) the wake-up timer and the min-held bound for
      * a buffer whose oldest held record is `minHeld`
      * (Long.MaxValue = empty). */
    private def arm(minHeld: Long, wm: Long): Unit = {
      val had = timerAt.exists()
      if (minHeld == Long.MaxValue) {
        if (had) { getHandle.deleteTimer(timerAt.get()); timerAt.clear() }
        minHeldTs.clear()
      } else {
        minHeldTs.update(minHeld)
        val want = math.max(minHeld, wm + 1)
        if (!had || timerAt.get() != want) {
          if (had) getHandle.deleteTimer(timerAt.get())
          getHandle.registerTimer(want)
          timerAt.update(want)
        }
      }
    }

    /** Release the watermark-passed prefix and re-arm the wake-up
      * timer at the oldest still-held record. Survivor entries are
      * neither read nor rewritten; a trigger whose watermark is still
      * below the min-held bound does not even scan the keys. */
    private def release(wm: Long): Iterator[QueueRecord] = {
      if (minHeldTs.exists() && wm < minHeldTs.get()) {
        // nothing can release (bound ≤ every held put_ts); arrivals
        // may have lowered the bound, so re-arm against it
        arm(minHeldTs.get(), wm)
        return Iterator.empty
      }
      val relKeys =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
      var minHeld = Long.MaxValue
      val it = buf.keys()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 <= wm) relKeys += k
        else if (k._1 < minHeld) minHeld = k._1
      }
      // mutate only after the key scan completes
      val out = relKeys.flatMap { k => val v = buf.getValue(k)
        buf.removeKey(k); v }
      arm(minHeld, wm)
      out.sortInPlaceBy(r => (r.put_ts.getTime, r.seq, r.queue))
        .iterator
    }

    override def handleInputRows(key: Int, rows: Iterator[QueueRecord],
        timerValues: ss.TimerValues): Iterator[QueueRecord] = {
      var arrivedMin = Long.MaxValue
      rows.foreach { r =>
        val k = (r.put_ts.getTime, r.seq, r.queue)
        val prev = if (buf.containsKey(k)) buf.getValue(k)
          else Seq.empty[QueueRecord]
        buf.updateValue(k, prev :+ r)
        if (k._1 < arrivedMin) arrivedMin = k._1
      }
      if (arrivedMin != Long.MaxValue &&
          (!minHeldTs.exists() || arrivedMin < minHeldTs.get()))
        minHeldTs.update(arrivedMin)
      release(timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Int,
        timerValues: ss.TimerValues,
        expiredTimerInfo: ss.ExpiredTimerInfo): Iterator[QueueRecord] = {
      // the fired timer is consumed by the runtime; release() re-arms
      timerAt.clear()
      release(timerValues.getCurrentWatermarkInMs())
    }
  }

  /** Dropped-late observability for [[orderedMerge]] /
    * [[orderedMergeTws]]: the watermark IS the order guarantee's
    * horizon, and records later than it are dropped by the stateful
    * operator's watermark filter — silently, unless monitored. The
    * count surfaces where production monitoring already looks: the
    * query progress's per-operator `numRowsDroppedByWatermark`. A
    * climbing value means `lateness` is under-sized for the queues'
    * real cross-queue clock skew + delivery lag. */
  def droppedLate(
      progress: org.apache.spark.sql.streaming.StreamingQueryProgress)
  : Long =
    progress.stateOperators.map(_.numRowsDroppedByWatermark).sum

  /** Sum of [[droppedLate]] over the query's retained progress
    * history (per-batch counts; the retention window is
    * `spark.sql.streaming.numRecentProgressUpdates`). */
  def droppedLateTotal(
      query: org.apache.spark.sql.streaming.StreamingQuery): Long =
    query.recentProgress.map(droppedLate).sum
}
