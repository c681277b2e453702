package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metric names (BENCHMARK.json `per_layer`) and the
  * helpers that fill them. Every traced run reports every name; a layer
  * the workload does not exercise reports 0. */
object Layers {
  val Gates = Seq("source", "dsir", "quality_decontam", "digest", "band", "semantic")
  val Drops = Seq("dsir", "quality_decontam", "digest", "band", "semantic", "dedup")
  val SetupSteps = Seq("corpus", "queue", "digest_index", "band_index", "bloom",
    "dsir", "ivf")
  val SpanLayers = Seq("setup", "workload", "stream_batch", "stream_phase", "kernel",
    "sweep_query")
  val SweepModules = Seq("relational", "stream_shaped", "text", "vector", "graph",
    "staged_tables")
  val ExecNames = Seq("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "driver_s")

  val names: Seq[String] =
    Seq("mq.latest_offset_ms_p50", "mq.messages_behind_max", "mq.read_msgs_per_s",
      "mq.put_msgs_per_s", "mq.commits_failed", "mq.gen_late_ms_p99") ++
    Seq("stream.batches", "stream.planning_ms_p50", "stream.get_batch_ms_p50",
      "stream.add_batch_ms_p50", "stream.wal_commit_ms_p50",
      "stream.commit_offsets_ms_p50", "stream.state_rows", "stream.state_mem_bytes",
      "stream.state_commit_ms_p50") ++
    Gates.map(g => s"door.gate.${g}_s") ++ Drops.map(d => s"door.drop.$d") ++
    Seq("door.admit_frac") ++
    Seq("fn.tokens_rows_per_s", "fn.fingerprint_rows_per_s", "fn.quality_rows_per_s") ++
    SetupSteps.map(s => s"setup.${s}_s") ++
    SweepModules.map(m => s"sweep.${m}_s") ++
    ExecNames.map(e => s"exec.$e") ++
    SpanLayers.map(l => s"self.${l}_s") ++
    Seq("trace.overhead_frac", "trace.spans", "mem.peak_rss_mb")

  def zero: Map[String, Double] = names.map(_ -> 0.0).toMap

  private def p50(ps: Seq[StreamingQueryProgress], k: String): Double =
    Stats.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))

  private def sourceMetric(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.flatMap(_.sources.toSeq).flatMap(s => Option(s.metrics.get(k)))
      .map(_.toDouble)

  /** Engine and MQ-source figures from every micro-batch's progress. */
  def stream(all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ps = all.filter(_.numInputRows > 0)
    val states = ps.map(_.stateOperators.toSeq)
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.planning_ms_p50" -> p50(ps, "queryPlanning"),
      "stream.get_batch_ms_p50" -> p50(ps, "getBatch"),
      "stream.add_batch_ms_p50" -> p50(ps, "addBatch"),
      "stream.wal_commit_ms_p50" -> p50(ps, "walCommit"),
      "stream.commit_offsets_ms_p50" -> p50(ps, "commitOffsets"),
      "stream.state_rows" -> (0.0 +: states.map(_.map(_.numRowsTotal).sum.toDouble)).max,
      "stream.state_mem_bytes" ->
        (0.0 +: states.map(_.map(_.memoryUsedBytes).sum.toDouble)).max,
      "stream.state_commit_ms_p50" ->
        (if (states.forall(_.isEmpty)) 0.0
         else Stats.median(states.map(_.map(_.commitTimeMs).sum.toDouble))),
      "mq.latest_offset_ms_p50" -> p50(ps, "latestOffset"),
      "mq.messages_behind_max" -> (0.0 +: sourceMetric(all, "messagesBehind")).max,
      "mq.commits_failed" -> (0.0 +: sourceMetric(all, "commitsFailed")).max)
  }

  /** Rows dropped as duplicates by the stateful dedup, over all batches. */
  def droppedDuplicates(ps: Seq[StreamingQueryProgress]): Double =
    ps.flatMap(_.stateOperators.toSeq).flatMap(s =>
      Option(s.customMetrics.get("numDroppedDuplicateRows"))).map(_.toDouble).sum

  /** The Spark execution ledger of the traced window [t0, t1]. */
  def exec(tracer: Tracer, t0: Double, t1: Double): Map[String, Double] =
    tracer.total.metrics("exec") + ("exec.driver_s" -> tracer.noStageSeconds(t0, t1))

  def self(tracer: Tracer): Map[String, Double] =
    tracer.selfSeconds.collect { case (l, s) if SpanLayers.contains(l) => s"self.${l}_s" -> s }
}
