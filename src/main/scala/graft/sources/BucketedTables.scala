package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed parquet tables: the storage-layout half of the engine's
  * co-located join story. Writing both sides of a recurring join
  * bucketed (and sorted) by the join key means every later join
  * between them plans as a sort-merge join with NO exchange on
  * either side — at 100 TB the shuffle that bucketing removes is the
  * single largest cost in the plan, and it is removed for EVERY
  * downstream join against the table, not just one.
  *
  * The bucket function is Spark's Murmur3-based `hash(key) pmod n`,
  * recorded in the catalog; readers recover the distribution from
  * metadata, so the guarantee survives sessions. Pick the bucket
  * count like a shuffle partition count at the table's full size
  * (rows per bucket sized to executor memory), and bucket both
  * tables with the SAME count — mismatched counts fall back to a
  * shuffle on one side.
  *
  * The ingest door's corpus gates do not join these tables: they read
  * a table into a broadcast snapshot when its files change
  * ([[graft.streaming.CorpusSnapshots]]: the version token is the
  * listing of the table's files, read from the file system each
  * micro-batch), so an append or a compaction here is seen by the
  * door's next batch, from any session. The bucketed layout serves
  * the batch joins and keeps appends batch-sized.
  */
object BucketedTables {

  /** Write `df` as a managed parquet table bucketed AND sorted by
    * `keyCols` — sorted buckets additionally let the merge join skip
    * its per-partition sort when each bucket is a single file.
    * `partitionCols` (optional) adds directory partitioning IN FRONT
    * of the bucketing — the layout for a coarse pre-filter key (the
    * banded index's `band`): a reader filtering on it prunes whole
    * directories before the bucket-colocated join runs. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keyCols: Seq[String],
                    mode: SaveMode = SaveMode.Overwrite,
                    partitionCols: Seq[String] = Nil): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(keyCols.nonEmpty, "need at least one bucketing column")
    NioLocalFileSystem.install(df.sparkSession)
    // hash-repartition into the bucket layout BEFORE writing: without
    // it every write task emits a file into every bucket it holds rows
    // for (up to tasks × buckets small files per write — the classic
    // small-files failure at scale); with it each bucket's rows land
    // on one task and write exactly one file. The shuffle is the same
    // Murmur3 `hash(key) pmod n` the bucket spec records, batch-sized
    // on appends, corpus-sized once on create.
    val keyExprs = keyCols.map(org.apache.spark.sql.functions.col)
    val w = df.repartition(buckets, keyExprs: _*)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
    (if (partitionCols.nonEmpty)
      w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(table)
  }

  /** Append `df` into an existing bucketed table, preserving its
    * distribution: each appended batch is hashed into the SAME bucket
    * layout (Spark validates the spec against the catalog and refuses
    * a mismatch, so an append can never silently degrade the table to
    * un-bucketed). Columns resolve BY NAME (`saveAsTable` append
    * semantics). Cost: one batch-sized shuffle into `buckets` files —
    * the corpus already in the table is NOT rewritten or read.
    *
    * Each append adds AT MOST one file per touched bucket (the write
    * repartitions into the bucket layout first); the bucketing (and
    * so the exchange-free join) survives, but merge joins re-sort
    * multi-file buckets per partition, so run [[maintainBucketed]] on
    * a maintenance cadence to restore single-file buckets.
    *
    * Visibility: the WRITING session's catalog refreshes itself;
    * any OTHER session (including the session that spawned a
    * `foreachBatch` whose clone did the append) caches the table's
    * file listing and must `spark.catalog.refreshTable(table)` before
    * its next read, or it keeps planning over the pre-append files.
    * The door's corpus gates list the files themselves and need no
    * refresh. */
  def appendBucketed(df: DataFrame, table: String, buckets: Int,
                     keyCols: Seq[String],
                     partitionCols: Seq[String] = Nil): Unit =
    writeBucketed(df, table, buckets, keyCols, SaveMode.Append,
      partitionCols)

  /** Compact a bucketed table in place: rewrite the accumulated
    * append files into fresh single-file-per-bucket form (same spec),
    * then swap via catalog rename. Content is unchanged — only the
    * file layout. The swap is drop-then-rename, NOT atomic: a reader
    * planning a query in the gap sees a missing table, and a crash in
    * the gap leaves the data ONLY under `<table>_compacting`.
    * Recovery is re-running this method: on entry it detects the
    * half-swapped state (live table missing, staging present) and
    * finishes the interrupted rename BEFORE anything else — staging
    * is never dropped unless the live table still exists, so the
    * single surviving copy of the data cannot be deleted. A crash in
    * the LATER window (renamed but partitions not yet re-registered)
    * is likewise healed at entry: partitioned tables get an
    * idempotent MSCK before the live table is read, so the rewrite
    * can never compact a stale-partition empty read. Run it from
    * the single maintenance owner between jobs — the same
    * single-writer stance as the index appends; readers needing an
    * always-live handle put the TABLE NAME behind an
    * [[graft.operators.IndexMaintenance.VersionedIndexStore]] pointer
    * and compact into a fresh name instead. */
  def compactBucketed(spark: SparkSession, table: String, buckets: Int,
                      keyCols: Seq[String],
                      partitionCols: Seq[String] = Nil): Unit =
    rewriteBucketed(spark, table, buckets, keyCols, partitionCols)(
      identity)

  /** Drop both the catalog entry AND the warehouse location of a
    * managed table. A previous JVM's run leaves the warehouse
    * directory behind while this session's in-memory catalog is
    * empty, so DROP TABLE alone cannot see it — and a bare CREATE
    * then refuses to land on the orphaned location
    * (LOCATION_ALREADY_EXISTS). Every staging site that re-creates
    * managed tables across JVMs clears through this one helper. */
  def dropTableAndDir(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Drop a STALE `_compacting` staging copy (round 16, ADVICE): the
    * crash window AFTER the staging write but BEFORE the live drop
    * leaves BOTH tables in the catalog. The live table is still the
    * only copy ever served (the swap never happened), so the staging
    * copy is pure garbage — [[rewriteBucketed]] would clear it at its
    * own entry, but only when the growth alarm next trips a
    * compaction; the maintain functions call this instead so a
    * healthy-verdict maintenance pass still leaves the catalog clean.
    * DROP TABLE on the managed staging table removes its directory
    * too. Returns true iff a stale copy was dropped (housekeeping —
    * the maintain functions do not count it as a rewrite). */
  def dropStaleStaging(spark: SparkSession, table: String): Boolean =
    if (spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(stagingOf(table))) {
      spark.sql(s"DROP TABLE ${stagingOf(table)}")
      true
    } else false

  /** The staging name a rewrite of `table` writes before its swap. */
  private def stagingOf(table: String): String = table + "_compacting"

  /** A rewrite of `table` crashed between dropping the live table and
    * renaming its staging copy: the staging copy is the only one, and
    * re-running the rewrite finishes the swap. */
  def crashedSwap(spark: SparkSession, table: String): Boolean =
    !spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(stagingOf(table))

  /** [[compactBucketed]] with a content transform: rewrite the table
    * through `transform` under the same staging / drop / rename crash
    * protocol. This is the MERGE tense of maintenance for append-only
    * PARTIAL tables whose probe-time meaning is an aggregate of the
    * rows (the BM25 dfreq partials: per-batch (term, df) rows read as
    * the per-term SUM — merging them is probe-equivalent and returns
    * the table to vocabulary size no matter how many batches were
    * appended). `transform` MUST be idempotent
    * (`transform(transform(t)) == transform(t)`): crash recovery is
    * "re-run this method", and a recovered staging copy holds
    * already-transformed content that then passes through the
    * transform a second time. */
  def rewriteBucketed(spark: SparkSession, table: String, buckets: Int,
                      keyCols: Seq[String],
                      partitionCols: Seq[String] = Nil)(
                      transform: DataFrame => DataFrame): Unit = {
    val staging = stagingOf(table)
    if (crashedSwap(spark, table)) {
      // crashed between DROP TABLE <live> and RENAME: the staging
      // table holds the only copy — finish the swap and return (the
      // staging copy IS the compacted form, so there is nothing left
      // to rewrite)
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      if (partitionCols.nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
      return
    }
    if (!spark.catalog.tableExists(table))
      throw new IllegalStateException(
        s"compactBucketed: table $table does not exist and no staging copy found")
    if (partitionCols.nonEmpty) {
      // close the OTHER crash window: between a swap's RENAME and its
      // MSCK. On catalogs that keep explicit per-partition locations
      // (Hive), the renamed table's partitions still point at the
      // pre-rename paths, reads list stale directories and return
      // empty — and the recompaction below would then compact that
      // empty read and DROP the only real copy. SYNC PARTITIONS
      // (Spark 3.2+) both ADDs the post-rename directories and DROPs
      // the stale pre-rename entries a Hive metastore keeps (plain
      // MSCK is add-only, so the heal would be InMemoryCatalog-scoped
      // without it). Re-registering partitions at entry is
      // idempotent, bounded by
      // partition-directory count (cheaper than the recursive file
      // listing the maintenance audit already does), and keeps
      // "re-run this method" the universal crash recovery. The
      // session-scoped InMemoryCatalog rewrites partition locations
      // on rename, so the repair is a no-op there.
      spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
    }
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    // Pin the bucketed scan ON for the copy: the source table's scan
    // then has one partition per bucket, writeBucketed's repartition
    // into the same layout is recognized as already satisfied and
    // elided, and each task rewrites exactly its own bucket — the
    // whole compaction is SHUFFLE-FREE (bucket-local file merge), the
    // only plan that survives at corpus scale. Without the pin,
    // Spark's DisableUnnecessaryBucketedScan drops the bucket-aligned
    // read AFTER the exchange was already elided on its claim, and
    // size-packed file splits smear each bucket across writer tasks
    // (2 files/bucket observed instead of 1).
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAutoScan = spark.conf.get(autoScanKey)
    spark.conf.set(autoScanKey, "false")
    try
      writeBucketed(transform(spark.table(table)), staging, buckets,
        keyCols, partitionCols = partitionCols)
    finally spark.conf.set(autoScanKey, prevAutoScan)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    // renaming a managed partitioned table moves its directory but the
    // catalog's per-partition locations still point at the staging
    // paths — re-register them or every read of the renamed table
    // lists stale directories and returns empty
    if (partitionCols.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
  }

  /** Data files per bucket slot — the layout-health metric that
    * decides compaction. A freshly written table is exactly 1.0
    * (single file per bucket per partition directory); every append
    * adds one file per touched bucket, and each extra file is a
    * per-partition re-sort the merge join pays on every probe. The
    * count goes through the table location's own Hadoop FileSystem
    * (not java.io), so it is correct on HDFS/S3A deployments too.
    * Bucket slots = buckets × partition directories (1 for an
    * unpartitioned table); empty slots are counted as slots, so the
    * metric under-reports on sparse tables — acceptable, since sparse
    * tables are by the same token cheap to over-compact. */
  def fileAmplification(spark: SparkSession, table: String,
                        buckets: Int): Double = {
    NioLocalFileSystem.install(spark)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val rawRoot = new org.apache.hadoop.fs.Path(meta.location)
    val fs = rawRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fully qualify so equality against listFiles' (already qualified)
    // paths can terminate the upward walk reliably
    val root = fs.makeQualified(rawRoot)
    if (!fs.exists(root)) return 0.0
    def isHidden(n: String) = n.startsWith("_") || n.startsWith(".")
    // hidden check walks EVERY segment below the root, not just the
    // leaf: a crashed write's _temporary/... or .staging/... subtree
    // holds normally-named part files that would otherwise count as
    // data (and their dirs as partition slots), skewing the audit
    // toward spurious compactions
    def hiddenBelowRoot(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      while (cur != null && cur != root) {
        if (isHidden(cur.getName)) return true
        cur = cur.getParent
      }
      false
    }
    var dataFiles = 0L
    var partitionDirs = 0L
    val it = fs.listFiles(root, /* recursive = */ true)
    val seenDirs = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (!hiddenBelowRoot(st.getPath)) {
        dataFiles += 1
        val parent = st.getPath.getParent
        if (parent != root && !seenDirs.contains(parent.toString)) {
          seenDirs += parent.toString
          partitionDirs += 1
        }
      }
    }
    val slots = buckets.toLong * math.max(1L, partitionDirs)
    if (slots == 0) 0.0 else dataFiles.toDouble / slots
  }

  /** Audit-gated maintenance: the one idempotent call a maintenance
    * owner makes per table per cadence. Measures
    * [[fileAmplification]] and compacts ONLY above
    * `maxFilesPerBucket` — the same audit-then-act contract as
    * [[graft.operators.IndexMaintenance]]'s recall-gated index
    * rebuilds, so under-threshold calls are free no-ops and calling
    * it twice in a row never rewrites twice. A crashed previous
    * compaction (live table missing, staging present) is recovered
    * first, unconditionally — finishing the interrupted swap is
    * cheaper than any audit and the half-swapped state would fail the
    * audit's table read anyway. Returns true iff a compaction (or
    * crash recovery) ran. */
  def maintainBucketed(spark: SparkSession, table: String, buckets: Int,
                       keyCols: Seq[String],
                       partitionCols: Seq[String] = Nil,
                       maxFilesPerBucket: Double = 2.0): Boolean = {
    require(maxFilesPerBucket >= 1.0,
      s"maxFilesPerBucket below 1.0 ($maxFilesPerBucket) would recompact a fresh table forever")
    if (crashedSwap(spark, table) ||
        fileAmplification(spark, table, buckets) > maxFilesPerBucket) {
      compactBucketed(spark, table, buckets, keyCols, partitionCols)
      true
    } else false
  }
}
