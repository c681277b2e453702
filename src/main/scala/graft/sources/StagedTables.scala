package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The lifecycle every batch-partitioned staged table shares — the
  * IVF and LSH index tables, the postings index, the allowlist — and
  * the crash contract that makes it exactly-once over an
  * at-least-once gate.
  *
  * Layout: each table carries a `batch_id` DIRECTORY partition in
  * front of its bucketing (optionally followed by a probe-pruning
  * level such as IVF's `cent_id`). Create and compaction write under
  * the reserved [[BasePartition]]; a gated mutation writes under its
  * own foreachBatch id.
  *
  *   - Replay: a gated mutation first drops its own `batch_id`
  *     partition ([[dropBatch]]) — a no-op on first delivery, and on
  *     replay it removes the partial or complete previous attempt, so
  *     a crash anywhere before the gate commit replays into content
  *     identical to a single delivery.
  *   - Deletes are APPENDS of key tombstones, resolved against the
  *     live rows ([[delete]]); readers anti-join them out, so serving
  *     stops at the next load and the bytes leave at compaction.
  *   - The tombstone clash guard ([[requireNoTombstoned]]) runs BEFORE
  *     the replay drop: a batch that landed, crashed before its gate
  *     commit and then had an id tombstoned must fail with its landed
  *     partition intact — dropping first would destroy the batch's
  *     other rows on every retry while the throw blocks the replay.
  *     Re-appending a pending-delete id would otherwise be destroyed
  *     by the next compaction.
  *   - Compaction ([[compact]]) applies the tombstones physically,
  *     collapses batch attribution into the base partition, and clears
  *     the tombstones LAST: every interrupted state still loads
  *     exactly (the anti-join over an already-clean table is a no-op).
  *   - Maintenance ([[maintain]]): recover a crashed rewrite first; a
  *     pending or crashed tombstone clear forces the compaction; a
  *     stale `_compacting` copy is dropped as housekeeping; otherwise
  *     compact only when distinct batch directories exceed the bound.
  *
  * Each rewrite is a [[BucketedTables.rewriteBucketed]] swap, whose
  * own crash recovery is "re-run". Single writer: compaction runs from
  * the maintenance owner between jobs, never while a gated batch is
  * crashed-but-uncommitted.
  */
object StagedTables {

  /** The batch_id create and compaction write under — below every
    * gated batch id. */
  val BasePartition = -1L

  /** One batch-partitioned staged table. `partitionCols` starts with
    * `batch_id`; `key` is the bucketing column and the tombstone key.
    * `tombstones` names the family's tombstone table (bucketed by
    * `key`, partitioned by `batch_id`) when it has deletes.
    * `compactRows` is the family's content transform at compaction
    * (the allowlist's latest-event collapse); it must be idempotent,
    * as rewriteBucketed's crash recovery requires. */
  final case class Layout(table: String, key: String,
                          partitionCols: Seq[String] = Seq("batch_id"),
                          tombstones: Option[String] = None,
                          compactRows: DataFrame => DataFrame = identity)

  /** `id`, checked as a gated batch id. */
  def gated(id: Long): Long = {
    require(id >= 0, s"gated batch ids are non-negative, got $id " +
      s"($BasePartition is the reserved base partition)")
    id
  }

  /** The partition a mutation writes under: its gated id, or the base
    * partition for an ungated call. */
  def partitionOf(batchId: Option[Long]): Long =
    batchId.map(gated).getOrElse(BasePartition)

  /** Drop every partition of `table` under `batch_id=id`, whatever
    * levels follow it. Partial partition specs are not portable across
    * catalogs for a multi-level layout, so the drop enumerates the
    * matching leaves and drops each by its full spec. */
  def dropBatch(spark: SparkSession, table: String, id: Long): Unit =
    spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0))
      .filter(p => p == s"batch_id=$id" || p.startsWith(s"batch_id=$id/"))
      .foreach { p =>
        val spec = p.split("/").map { kv =>
          val Array(k, v) = kv.split("=", 2)
          s"$k='$v'"
        }.mkString(", ")
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")
      }

  /** Distinct batch directories of `table` — the growth axis of this
    * layout (each gated mutation adds one, with single-file buckets,
    * so file amplification per leaf stays 1.0). */
  private def batchDirs(spark: SparkSession, table: String): Int =
    spark.sql(s"SHOW PARTITIONS $table").collect()
      .map(_.getString(0).split("/")(0)).distinct.length

  /** Tombstones exist that compaction has not applied yet (a limit-1
    * scan of the tombstone table). */
  def pending(spark: SparkSession, tombstones: String): Boolean =
    spark.catalog.tableExists(tombstones) &&
      !spark.table(tombstones).isEmpty

  /** The clash guard: fail when `keys` (the batch's ids, projected to
    * the tombstone key) intersect pending tombstones. A batch-sized
    * semi-join, paid only when tombstones are pending. */
  def requireNoTombstoned(spark: SparkSession, tombstones: String,
                          keys: DataFrame, what: String,
                          maintainer: String): Unit =
    if (pending(spark, tombstones)) {
      val key = keys.columns.head
      val clash = keys.join(spark.table(tombstones).select(key),
        Seq(key), "left_semi")
      require(clash.isEmpty,
        s"$what: batch contains ids that are tombstoned but not yet " +
          "compacted away (e.g. " +
          clash.limit(3).collect().map(_.get(0)).mkString(", ") +
          s"); run $maintainer first — re-appending a pending-delete " +
          "id would be destroyed by the compaction")
    }

  /** Idempotent append of `rows` (without `batch_id`) under the
    * batch's partition: clash guard, replay drop, then the
    * bucket-preserving append. `rows` is built only after the guard
    * and the drop. */
  def append(spark: SparkSession, layout: Layout, buckets: Int,
             batchId: Option[Long], keys: DataFrame,
             maintainer: String)(rows: => DataFrame): Unit = {
    val pid = partitionOf(batchId)
    layout.tombstones.foreach(
      requireNoTombstoned(spark, _, keys, layout.table, maintainer))
    batchId.foreach(dropBatch(spark, layout.table, _))
    BucketedTables.appendBucketed(rows.withColumn("batch_id", lit(pid)),
      layout.table, buckets, Seq(layout.key),
      partitionCols = layout.partitionCols)
  }

  /** Tombstone `ids` (one column, the layout's key) in a layout with
    * tombstones: resolved against the live rows minus existing
    * tombstones, so absent and already-deleted ids are no-ops, and
    * materialized before the append that would otherwise empty it.
    * Returns the ids actually deleted. */
  def delete(spark: SparkSession, layout: Layout, buckets: Int,
             batchId: Option[Long], ids: DataFrame): Long = {
    val tomb = layout.tombstones.get
    val pid = partitionOf(batchId)
    batchId.foreach(dropBatch(spark, tomb, _))
    val victims = spark.table(layout.table).select(layout.key)
      .join(spark.table(tomb).select(layout.key), Seq(layout.key),
        "left_anti")
      .join(ids.distinct(), layout.key)
      .localCheckpoint(true)
    val n = victims.count()
    if (n > 0)
      BucketedTables.appendBucketed(
        victims.withColumn("batch_id", lit(pid)), tomb, buckets,
        Seq(layout.key), partitionCols = Seq("batch_id"))
    n
  }

  /** Empty a tombstone table through the rewrite swap — the last step
    * of every tombstone-applying compaction. */
  def clearTombstones(spark: SparkSession, tombstones: String,
                      key: String, buckets: Int): Unit =
    BucketedTables.rewriteBucketed(spark, tombstones, buckets, Seq(key),
      Seq("batch_id"))(_.filter(lit(false)))

  /** Apply pending tombstones, run the layout's `compactRows`,
    * collapse batch attribution into the base partition; tombstones
    * clear last. */
  def compact(spark: SparkSession, layout: Layout, buckets: Int): Unit = {
    val tomb = layout.tombstones.filter(pending(spark, _))
    def applyTomb(df: DataFrame): DataFrame = tomb.fold(df)(t =>
      df.join(spark.table(t).select(layout.key), Seq(layout.key),
        "left_anti"))
    BucketedTables.rewriteBucketed(spark, layout.table, buckets,
      Seq(layout.key), layout.partitionCols)(df =>
      layout.compactRows(applyTomb(df))
        .withColumn("batch_id", lit(BasePartition)))
    tomb.foreach(clearTombstones(spark, _, layout.key, buckets))
  }

  /** The opening of every maintain, before any audit: when a rewrite
    * of one of `live` crashed mid-swap, or tombstones are pending or
    * their clear crashed, run `compact` (which finishes an interrupted
    * swap at entry), then finish a crashed clear that `compact` saw as
    * already empty. Returns true iff it ran. */
  def recover(spark: SparkSession, live: Seq[String],
              tombstones: Option[String], key: String, buckets: Int)(
              compact: => Unit): Boolean = {
    val tombPending = tombstones.exists(t =>
      pending(spark, t) || BucketedTables.crashedSwap(spark, t))
    if (!tombPending && !live.exists(BucketedTables.crashedSwap(spark, _)))
      return false
    compact
    tombstones.filter(BucketedTables.crashedSwap(spark, _))
      .foreach(clearTombstones(spark, _, key, buckets))
    true
  }

  /** Audit-gated maintenance, the one idempotent call per cadence:
    * [[recover]]; drop stale staging copies; compact when distinct
    * batch directories exceed `maxBatchDirs`. Healthy calls cost a
    * limit-1 tombstone scan and one SHOW PARTITIONS. Returns true iff
    * anything was rewritten. */
  def maintain(spark: SparkSession, layout: Layout, buckets: Int,
               maxBatchDirs: Int): Boolean = {
    require(maxBatchDirs >= 1, s"maxBatchDirs below 1 ($maxBatchDirs) " +
      s"would recompact a fresh ${layout.table} forever")
    if (recover(spark, Seq(layout.table), layout.tombstones, layout.key,
        buckets)(compact(spark, layout, buckets)))
      return true
    (layout.table +: layout.tombstones.toSeq)
      .foreach(BucketedTables.dropStaleStaging(spark, _))
    if (batchDirs(spark, layout.table) > maxBatchDirs) {
      compact(spark, layout, buckets)
      true
    } else false
  }
}
