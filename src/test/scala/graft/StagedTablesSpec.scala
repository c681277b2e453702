package graft

import graft.operators.{Allowlist, Similarity}
import graft.sources.BucketedTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The staged-table crash contract, pinned once over every
  * batch-partitioned family that shares it (IVF, LSH, allowlist):
  * each crash window a maintenance rewrite can leave behind is
  * reproduced by hand, and one `maintain*` call must recover it
  * without changing what a reader is served.
  */
class StagedTablesSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long, base: Int): (Long, Array[Float]) =
    (i, Array.tabulate(8)(j =>
      (math.sin(base * 3.7 + j * 1.3) + (i % 5) * 0.01).toFloat))

  private def vectors(ids: Seq[Long], base: Long => Int): DataFrame =
    ids.map(i => vec(i, base(i))).toDF("vec_id", "embedding")

  private val corpusIds = 0L until 30L

  /** One staged family: `live` is the batch-partitioned table the
    * maintenance rewrites (partitioned by `partitionCols`, bucketed
    * by `key`), `tombstones` its tombstone table when the family has
    * deletes. `append`/`delete` are the gated mutations (the
    * allowlist's delete is a revoke); `served` is what a reader of
    * the family resolves. */
  private case class Family(
      name: String, tables: Seq[String], live: String,
      tombstones: Option[String], key: String, partitionCols: Seq[String],
      create: () => Unit, append: (Seq[Long], Long) => Unit,
      delete: (Seq[Long], Long) => Unit, served: () => Set[String],
      maintain: Int => Boolean)

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private val ivf = {
    val prefix = "graft_crash_ivf"
    Family("IVF", Similarity.ivfIndexTableNames(prefix),
      prefix + "_assigned", Some(prefix + "_tombstones"), "c_id",
      Seq("batch_id", "cent_id"),
      () => Similarity.createIvfIndexTable(
        Similarity.ivfIndex(vectors(corpusIds, i => (i % 3).toInt),
          "vec_id", "embedding", nCentroids = 4, persistIndex = false),
        prefix, buckets = 2),
      (ids, b) => Similarity.appendToIvfIndexTable(vectors(ids, _ => 7),
        "vec_id", "embedding", prefix, buckets = 2, batchId = Some(b)),
      (ids, b) => Similarity.deleteFromIvfIndexTable(spark,
        ids.toDF("vec_id"), "vec_id", prefix, buckets = 2,
        batchId = Some(b)),
      () => rowsOf(Similarity.loadIvfIndexTable(spark, prefix).assigned
        .select("c_id", "c_vec", "cent_id")),
      m => Similarity.maintainIvfIndexTable(spark, prefix, buckets = 2,
        maxBatchDirs = m))
  }

  private val lsh = {
    val prefix = "graft_crash_lsh"
    Family("LSH", Similarity.lshIndexTableNames(prefix),
      prefix + "_buckets", Some(prefix + "_tombstones"), "c_id",
      Seq("batch_id", "bucket"),
      () => Similarity.createLshIndexTable(
        Similarity.lshIndex(vectors(corpusIds, i => (i % 3).toInt),
          "vec_id", "embedding", nPlanes = 2, persistIndex = false),
        prefix, buckets = 2),
      (ids, b) => Similarity.appendToLshIndexTable(vectors(ids, _ => 7),
        "vec_id", "embedding", prefix, buckets = 2, batchId = Some(b)),
      (ids, b) => Similarity.deleteFromLshIndexTable(spark,
        ids.toDF("vec_id"), "vec_id", prefix, buckets = 2,
        batchId = Some(b)),
      () => rowsOf(Similarity.loadLshIndexTable(spark, prefix).buckets
        .select("c_id", "c_vec", "bucket")),
      m => Similarity.maintainLshIndexTable(spark, prefix, buckets = 2,
        maxBatchDirs = m))
  }

  private val allowlist = {
    val prefix = "graft_crash_allow"
    def change(allowed: Boolean)(ids: Seq[Long], b: Long): Unit =
      Allowlist.stageAllowlistChange(ids.toDF("doc_id"), "doc_id",
        allowed, prefix, buckets = 2, batchId = b)
    Family("allowlist", Allowlist.allowlistTableNames(prefix),
      prefix + "_allow", None, "doc", Seq("batch_id"),
      () => Allowlist.createAllowlistTable(corpusIds.toDF("doc_id"),
        "doc_id", prefix, buckets = 2),
      change(allowed = true), change(allowed = false),
      () => rowsOf(Allowlist.loadAllowlist(spark, prefix)),
      m => Allowlist.maintainAllowlistTable(spark, prefix, buckets = 2,
        maxBatchDirs = m))
  }

  test("staged-table crash windows: maintain recovers a crashed swap " +
    "and a crashed tombstone clear, drops a stale staging copy, and " +
    "compacts past maxBatchDirs — IVF, LSH and allowlist alike") {
    def staging(t: String) = t + "_compacting"
    def exists(t: String) = spark.catalog.tableExists(t)
    for (f <- Seq(ivf, lsh, allowlist)) withClue(s"[${f.name}] ") {
      val all = f.tables.flatMap(t => Seq(t, staging(t)))
      def fresh(): Unit = {
        all.foreach(BucketedTables.dropTableAndDir(spark, _))
        f.create()
      }
      def batchDirs(): Set[String] =
        spark.sql(s"SHOW PARTITIONS ${f.live}").collect()
          .map(_.getString(0).split("/")(0)).toSet
      // what the live rewrite writes to staging: tombstones applied,
      // batch attribution collapsed into the base partition
      def compacted(): DataFrame = {
        val live = spark.table(f.live)
        f.tombstones.fold(live)(t => live.join(
            spark.table(t).select(f.key), Seq(f.key), "left_anti"))
          .withColumn("batch_id", lit(-1L))
      }
      try {
        // 1. crash between the live DROP and the RENAME: only the
        // staging copy holds the data — maintain finishes the swap
        fresh()
        f.append(Seq(100L, 101L, 102L), 0L)
        f.delete(Seq(100L, 3L), 1L)
        val before = f.served()
        assert(before.nonEmpty)
        BucketedTables.writeBucketed(compacted(), staging(f.live), 2,
          Seq(f.key), partitionCols = f.partitionCols)
        spark.sql(s"DROP TABLE ${f.live}")
        assert(f.maintain(2), "a crashed swap must report a recovery")
        assert(exists(f.live) && !exists(staging(f.live)))
        assert(f.served() === before)
        f.tombstones.foreach(t => assert(spark.table(t).isEmpty))

        // 2. crash inside the tombstone clear: the live table is
        // already clean, only <prefix>_tombstones_compacting is left
        f.tombstones.foreach { tomb =>
          fresh()
          f.append(Seq(100L, 101L, 102L), 0L)
          f.delete(Seq(100L, 3L), 1L)
          val beforeClear = f.served()
          BucketedTables.rewriteBucketed(spark, f.live, 2, Seq(f.key),
            f.partitionCols)(_ => compacted())
          BucketedTables.writeBucketed(spark.table(tomb).filter(lit(false)),
            staging(tomb), 2, Seq(f.key), partitionCols = Seq("batch_id"))
          spark.sql(s"DROP TABLE $tomb")
          assert(f.maintain(2),
            "a crashed tombstone clear must report a recovery")
          assert(exists(tomb) && !exists(staging(tomb)))
          assert(spark.table(tomb).isEmpty)
          assert(f.served() === beforeClear)
        }

        // 3. crash before the swap: live and staging both present —
        // housekeeping drops the staging copy, nothing is rewritten
        fresh()
        f.append(Seq(100L, 101L), 0L)
        val healthy = f.served()
        (f.live +: f.tombstones.toSeq).foreach { t =>
          BucketedTables.writeBucketed(spark.table(t), staging(t), 2,
            Seq(f.key), partitionCols =
              if (t == f.live) f.partitionCols else Seq("batch_id"))
        }
        assert(!f.maintain(2), "stale-staging cleanup is not a rewrite")
        (f.live +: f.tombstones.toSeq).foreach(t =>
          assert(!exists(staging(t)), s"stale $t staging must be dropped"))
        assert(f.served() === healthy)

        // 4. growth alarm: base + two gated batches = three batch
        // directories > maxBatchDirs = 2 → one compaction into the
        // base partition, then a no-op
        f.append(Seq(103L, 104L), 1L)
        val grown = f.served()
        assert(batchDirs().size === 3)
        assert(f.maintain(2), "three batch dirs must trip the alarm")
        assert(batchDirs() === Set("batch_id=-1"))
        assert(f.served() === grown)
        assert(!f.maintain(2))
      } finally all.foreach(BucketedTables.dropTableAndDir(spark, _))
    }
  }
}
