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
    records
      .withWatermark("put_ts", lateness)
      .select(col("queue"), col("put_ts"), col("seq").cast("int"),
        col("key"), col("value"))
      .as[QueueRecord]
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

  /** Dropped-late observability for [[orderedMerge]]: the watermark
    * IS the order guarantee's horizon, and records later than it are
    * dropped by the stateful operator's watermark filter — silently,
    * unless monitored. The count surfaces where production monitoring
    * already looks: the
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
