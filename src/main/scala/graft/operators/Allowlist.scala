package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StagedTables

/** The serving ALLOWLIST as staged state — the missing tense of
  * filtered retrieval. [[Retrieval.restrictToDocs]] /
  * [[Similarity.restrictAnnToIds]] take the allowed set as a frame
  * per probe call, which is right for one-shot queries; a production
  * allowlist is its own slowly-changing dataset (license
  * reclassifications grant AND revoke between ingest batches, like
  * index appends do), so it needs the same staged-table treatment as
  * every other piece of serving state: a doc-bucketed managed table,
  * gated idempotent mutation per foreachBatch id, and a load that
  * re-resolves per call so a change in batch N is served in batch
  * N+1.
  *
  * Layout: ONE append-only table `<prefix>_allow` of
  * `(doc, seq, allowed)` EVENTS, bucketed+sorted by `doc` (the
  * restrict semi-join's equi-key — a corpus-scale allowlist joins
  * doclen / the ANN id tables exchange-free), directory-partitioned
  * by `batch_id` in front of the bucketing — the replay layout and
  * crash contract of [[graft.sources.StagedTables]].
  *
  * Semantics: a doc is SERVED iff its latest event (highest `seq`)
  * has `allowed = true` — so grant → revoke → re-grant works, which
  * a tombstone-only layout cannot express (a tombstone would shadow
  * the re-grant forever). Within one seq, revoke wins over grant —
  * the safe default for a compliance gate. `seq` is the caller's
  * monotone batch id (foreachBatch ids in the streaming funnel); the
  * base set written by [[createAllowlistTable]] carries seq −1, below
  * every gated mutation.
  *
  * Scale shape: [[loadAllowlist]] is one aggregation keyed on `doc`
  * over the doc-bucketed scan — zero-exchange (the dfreq-partials
  * stance), output one row per doc ever mentioned, filtered to the
  * allowed survivors. [[compactAllowlistTable]] collapses the event
  * log to its latest-state rows on the maintenance cadence
  * (serving-equivalent — the load reads latest-event either way),
  * bounding table growth in CHANGES, not batches.
  */
object Allowlist {

  private def allowTable(prefix: String) = prefix + "_allow"

  /** The event log's place in the shared staged-table lifecycle: no
    * tombstones (a revoke is an event), compaction collapses to the
    * latest event per doc. */
  private def allowLayout(prefix: String) = StagedTables.Layout(
    allowTable(prefix), "doc", compactRows = latestEvents)

  /** Seq of the base set: below every gated mutation's batch id, so
    * the initial grants lose to any later revoke. */
  private val BaseSeq = -1L

  /** Every table this prefix owns (the cleanup/refresh enumeration —
    * one entry today, but callers loop over this, not a literal). */
  def allowlistTableNames(prefix: String): Seq[String] =
    Seq(allowTable(prefix))

  /** Create the staged allowlist holding `docs` as the initial
    * allowed set (empty frame for deny-all-until-granted). */
  def createAllowlistTable(docs: DataFrame, idCol: String,
                           prefix: String, buckets: Int): Unit =
    graft.sources.BucketedTables.writeBucketed(
      docs.select(col(idCol).as("doc")).distinct()
        .withColumn("seq", lit(BaseSeq))
        .withColumn("allowed", lit(true))
        .withColumn("batch_id", lit(StagedTables.BasePartition)),
      allowTable(prefix), buckets, Seq("doc"),
      partitionCols = Seq("batch_id"))

  /** Stage one allowlist CHANGE — grant (`allowed = true`) or revoke
    * (`allowed = false`) for `docs` — as an idempotent gated append
    * under the mutation's own `batch_id=batchId` partition (the
    * [[StagedTables]] replay contract). `batchId` is also the event
    * `seq`: foreachBatch ids are monotone, which is exactly the
    * latest-wins order the load resolves. Single-writer, like every
    * staged mutation in this engine. */
  def stageAllowlistChange(docs: DataFrame, idCol: String,
                           allowed: Boolean, prefix: String,
                           buckets: Int, batchId: Long): Unit = {
    val events = docs.select(col(idCol).as("doc"))
    StagedTables.append(docs.sparkSession, allowLayout(prefix), buckets,
      Some(batchId), events, "maintainAllowlistTable") {
      events.distinct()
        .withColumn("seq", lit(batchId))
        .withColumn("allowed", lit(allowed))
    }
  }

  /** The SERVED allowed set: one `doc` row per document whose latest
    * event grants it. Resolves the table fresh per call (the
    * loadPostingsIndex stance), so a funnel passing this frame as
    * `allowedDocs` picks up a mutation staged in batch N at its batch
    * N+1 probe; readers in a session other than the mutator's need
    * the refreshTable contract first. Latest-wins with revoke
    * breaking same-seq ties: max over (seq, revoke-flag) structs —
    * one zero-exchange aggregation on the doc-bucketed scan. */
  def loadAllowlist(spark: SparkSession, prefix: String): DataFrame =
    latestEvents(spark.table(allowTable(prefix))).select("doc")

  /** The latest event per doc, kept only when it grants: max over
    * (seq, revoke-flag) structs, so revoke breaks same-seq ties. */
  private def latestEvents(df: DataFrame): DataFrame =
    df.groupBy("doc")
      .agg(max(struct(col("seq"),
        when(!col("allowed"), lit(1)).otherwise(lit(0)).as("deny"),
        col("allowed"))).as("last"))
      .filter(col("last.deny") === 0 && col("last.allowed"))
      .select(col("doc"), col("last.seq").as("seq"),
        col("last.allowed").as("allowed"))

  /** Collapse the event log to its latest event per doc (dropping
    * docs whose latest event revokes — a fresh create over the
    * served set has no such rows), landing in the base partition.
    * Serving-equivalent (the load reads latest-event either way) and
    * idempotent, as the rewrite's crash recovery requires. Seqs are
    * preserved, not renumbered: a compaction must never re-order
    * against an in-flight gated mutation's id. Run from the
    * maintenance owner. */
  def compactAllowlistTable(spark: SparkSession, prefix: String,
                            buckets: Int): Unit =
    StagedTables.compact(spark, allowLayout(prefix), buckets)

  /** Audit-gated maintenance ([[StagedTables.maintain]]): compact
    * when the per-mutation directory growth crosses `maxBatchDirs`
    * distinct batch partitions (each gated grant/revoke adds one
    * batch_id subtree, and the doc's latest-wins history accumulates
    * until collapsed), after recovering a crashed rewrite. No-op when
    * healthy, so a maintenance-cadence caller costs one SHOW
    * PARTITIONS. Returns true iff anything was rewritten. */
  def maintainAllowlistTable(spark: SparkSession, prefix: String,
                             buckets: Int,
                             maxBatchDirs: Int = 2): Boolean =
    StagedTables.maintain(spark, allowLayout(prefix), buckets,
      maxBatchDirs)
}
