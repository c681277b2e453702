package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{IvfIndex, IvfPqIndex, LshIndex, PqIndex}
import graft.streaming.BatchIdGate

/** Index REBUILD + atomic swap — the other half of the incremental
  * `appendTo*Index` story (Similarity.scala): appends fold batches in
  * under a FROZEN quantizer, which drifts as the data distribution
  * moves; this module closes the maintenance loop by re-training the
  * quantizer on the CURRENT corpus, rebuilding the index, and
  * publishing the result behind a versioned pointer so readers see
  * old-or-new, never a mix.
  *
  * Layout under a store root:
  * {{{
  *   root/CURRENT     one file, the published version number —
  *                    written by [[graft.streaming.BatchIdGate]]
  *                    (fsync'd temp file + atomic rename, monotone)
  *   root/v<N>/...    every artifact of version N: quantizer state
  *                    (centroids / codebook / plane count) AND the
  *                    encoded corpus, as parquet tables
  * }}}
  *
  * The consistency argument has two halves:
  *  - WITHIN a version: all artifacts live in one `v<N>` directory and
  *    every load resolves the pointer ONCE, so a reader can never pair
  *    version-N codes with version-M codebooks (the mixed read that
  *    silently returns garbage neighbors).
  *  - ACROSS the swap: a rebuild writes the complete `v<N+1>` directory
  *    BEFORE touching the pointer; the pointer move is the BatchIdGate
  *    rename, so a crash at any instant leaves either the old pointer
  *    (readers keep the old index; the half-written directory is dead
  *    weight, and the next rebuild SKIPS past it — [[nextVersion]]
  *    takes max(pointer, existing dirs) + 1 so a possibly-partial
  *    staging dir is never adopted) or the new pointer over a fully
  *    written directory.
  *
  * Scale stance: the rebuild is exactly one build — quantizer training
  * is the bounded-sample collect the builds already do, and writing
  * the encoded corpus is the same single map-only corpus pass that
  * backs the in-memory index, now landing in parquet. The pointer and
  * directory scan are driver-side metadata ops (a handful of paths).
  * Like BatchIdGate, the pointer file uses local-filesystem atomic
  * rename; a DFS deployment swaps it for the equivalent atomic rename
  * of its store (HDFS rename is atomic; object stores use a
  * conditional put) — the version-directory protocol is unchanged.
  *
  * WHEN to rebuild: `q_sim_ann_recall` is the drift alarm (the
  * documented stance at Similarity.scala appendTo* scaladocs) — a
  * recall audit against a brute-force sample dropping below its floor
  * means the frozen quantizer no longer describes the corpus, and the
  * fix is exactly one [[rebuildPqIndex]]/[[rebuildIvfIndex]]/... call.
  */
object IndexMaintenance {

  /** Versioned pointer + staging-directory manager for one index.
    * Driver-side only, like the gate it wraps. */
  final class VersionedIndexStore(val root: String) {

    private val pointer = new BatchIdGate(
      new java.io.File(root, "CURRENT").getPath)

    /** Published version, or -1 when nothing is published yet. */
    def currentVersion(): Long = pointer.lastCommitted()

    def versionDir(v: Long): String =
      // Hadoop Path join, not java.io.File: a scheme URI root
      // (hdfs://, s3a://) must survive the concatenation for the
      // artifact paths to land in the same store nextVersion scans
      new org.apache.hadoop.fs.Path(root, s"v$v").toString

    /** Directory of the published version, if any. */
    def currentDir(): Option[String] = {
      val v = currentVersion()
      if (v < 0) None else Some(versionDir(v))
    }

    /** Next staging version: strictly past BOTH the pointer and every
      * existing `v<N>` directory — a directory left by a crashed
      * rebuild (written but never published, possibly partial) is
      * skipped, never reused. The scan goes through the root path's
      * own Hadoop FileSystem (resolved from the active session's
      * Hadoop conf), i.e. the SAME store the parquet artifacts are
      * written to — so on an HDFS/S3A deployment a crashed staging
      * dir is still seen and skipped. Only the CURRENT pointer keeps
      * the documented local-FS atomic-rename limitation (swap
      * BatchIdGate's store for an HDFS rename / conditional put on a
      * DFS deployment). */
    def nextVersion(): Long = {
      val (fs, _) = fsAndRoot()
      val dirs = versionsOnDisk(fs)
      math.max(currentVersion(), if (dirs.isEmpty) -1L else dirs.max) + 1
    }

    private def fsAndRoot()
    : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
      val hconf = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val rootPath = new org.apache.hadoop.fs.Path(root)
      (rootPath.getFileSystem(hconf), rootPath)
    }

    private def versionsOnDisk(
        fs: org.apache.hadoop.fs.FileSystem): Array[Long] = {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(rootPath)) Array.empty[Long]
      else fs.listStatus(rootPath)
        .flatMap(st => if (st.isDirectory &&
            st.getPath.getName.matches("v\\d+"))
          Some(st.getPath.getName.drop(1).toLong) else None)
    }

    /** Atomically publish `v` (monotone; fsync'd rename via
      * BatchIdGate). Call ONLY after every artifact of `v` is fully
      * written. */
    def publish(v: Long): Unit = pointer.commit(v)

    /** Retention GC: delete version directories STRICTLY below
      * `min(v, currentVersion())`. Never the published version, and
      * never an in-flight staging directory (staging versions are by
      * construction > CURRENT — [[nextVersion]] allocates past the
      * pointer — so the cutoff cannot reach them). A no-op while
      * nothing is published (every directory is then potential
      * staging). Returns the versions actually deleted, ascending.
      *
      * Crash safety: deletions only touch dirs the pointer can no
      * longer reach, so a crash mid-GC leaves a loadable store —
      * CURRENT and everything at or above it is untouched, and a
      * half-deleted victim is below the cutoff and simply gets
      * re-deleted by the next GC pass.
      *
      * Concurrency: a reader that resolved the pointer BEFORE a
      * rebuild published may still be reading an old version — run GC
      * with a retention window ([[retainVersions]] with n ≥ 1, or an
      * explicit version floor here) sized to the longest read a
      * deployment allows, the same contract DeltaLake's VACUUM
      * retention window carries. */
    def releaseBelow(v: Long): Seq[Long] = {
      val cur = currentVersion()
      if (cur < 0) return Nil
      val cut = math.min(v, cur)
      val (fs, rootPath) = fsAndRoot()
      versionsOnDisk(fs).filter(_ < cut).sorted.toSeq.flatMap { ver =>
        val p = new org.apache.hadoop.fs.Path(rootPath, s"v$ver")
        if (fs.delete(p, true)) Some(ver) else None
      }
    }

    /** Keep CURRENT plus the `n` versions directly below it; delete
      * everything older ([[releaseBelow]] CURRENT − n). `n = 1` is
      * the minimum that tolerates a reader straddling one
      * rebuild+swap; size `n` to the deployment's longest read. */
    def retainVersions(n: Int): Seq[Long] = {
      require(n >= 0, s"retainVersions(n) needs n >= 0, got $n")
      val cur = currentVersion()
      if (cur < 0) Nil else releaseBelow(cur - n)
    }

    /** Version directories physically present on disk, ascending —
      * the compliance audit's enumeration of everything a reader
      * could still load: CURRENT, retained versions below it (a
      * straggling reader's window), and any in-flight staging above
      * it. A takedown is fully erased from this store only when NO
      * present version holds the victim
      * ([[Retrieval.takedownAuditAll]] counts per-version rows from
      * exactly this list). */
    def versionsPresent(): Seq[Long] = {
      val (fs, _) = fsAndRoot()
      versionsOnDisk(fs).sorted.toSeq
    }
  }

  // ---------------------------------------------------------------- //
  // Parquet save/load per index shape. Quantizer state (driver
  // literals in the in-memory form) round-trips through parquet rows
  // — doubles are exact in parquet, and load re-sorts by the id
  // columns so the reconstructed literals are element-identical.
  // ---------------------------------------------------------------- //

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dir, name).toString)

  private def read(spark: SparkSession, dir: String,
                   name: String): DataFrame =
    spark.read.parquet(new org.apache.hadoop.fs.Path(dir, name).toString)

  private def centsDf(spark: SparkSession,
                      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cent_id", "cent_vec")
  }

  private def loadCents(spark: SparkSession, dir: String)
  : Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    read(spark, dir, "cents").select("cent_id", "cent_vec")
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
  }

  private def codebookDf(spark: SparkSession,
                         cb: Array[Array[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cw, j) => (s, j, cw) }
    }.toSeq.toDF("s", "j", "codeword")
  }

  private def loadCodebook(spark: SparkSession, dir: String)
  : Array[Array[Seq[Double]]] = {
    import spark.implicits._
    read(spark, dir, "codebook").select("s", "j", "codeword")
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    write(centsDf(spark, index.cents), dir, "cents")
    write(index.assigned, dir, "assigned")
  }

  def loadIvfIndex(spark: SparkSession, dir: String): IvfIndex =
    IvfIndex(loadCents(spark, dir), read(spark, dir, "assigned"))

  def saveLshIndex(index: LshIndex, dir: String): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    // meta carries both quantizer parameters (empty planes array =
    // the seeded pseudo-random hyperplanes), like the TABLE tense
    write(Seq((index.nPlanes, index.planes.map(_.toSeq)))
      .toDF("n_planes", "planes"), dir, "meta")
    write(index.buckets, dir, "buckets")
    write(index.dropped, dir, "dropped")
  }

  def loadLshIndex(spark: SparkSession, dir: String): LshIndex = {
    import spark.implicits._
    // a meta row written before the explicit-planes tense has no
    // `planes` column; it IS a valid pseudo-random artifact (empty
    // list), not an unloadable version
    val meta = read(spark, dir, "meta")
    val (nPlanes, planes) =
      if (meta.columns.contains("planes"))
        meta.select("n_planes", "planes")
          .as[(Int, Seq[Seq[Double]])].head()
      else (meta.select("n_planes").as[Int].head(),
        Seq.empty[Seq[Double]])
    LshIndex(nPlanes, read(spark, dir, "buckets"),
      read(spark, dir, "dropped"), planes)
  }

  def savePqIndex(index: PqIndex, dir: String): Unit = {
    val spark = index.encoded.sparkSession
    write(codebookDf(spark, index.codebook), dir, "codebook")
    write(index.encoded, dir, "encoded")
  }

  def loadPqIndex(spark: SparkSession, dir: String): PqIndex =
    PqIndex(loadCodebook(spark, dir), read(spark, dir, "encoded"))

  def saveIvfPqIndex(index: IvfPqIndex, dir: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    write(centsDf(spark, index.cents), dir, "cents")
    write(codebookDf(spark, index.codebook), dir, "codebook")
    write(Seq(index.residual).toDF("residual"), dir, "meta")
    write(index.encoded, dir, "encoded")
  }

  def loadIvfPqIndex(spark: SparkSession, dir: String): IvfPqIndex = {
    import spark.implicits._
    IvfPqIndex(loadCents(spark, dir), loadCodebook(spark, dir),
      read(spark, dir, "encoded"),
      read(spark, dir, "meta").as[Boolean].head())
  }

  /** Published index, if any — resolves the pointer ONCE, so every
    * artifact comes from the same version even if a rebuild publishes
    * concurrently. */
  def currentIvfIndex(store: VersionedIndexStore,
                      spark: SparkSession): Option[IvfIndex] =
    store.currentDir().map(loadIvfIndex(spark, _))

  def currentPqIndex(store: VersionedIndexStore,
                     spark: SparkSession): Option[PqIndex] =
    store.currentDir().map(loadPqIndex(spark, _))

  /** Load a version directory as the SAME family as `like` — the
    * family-dispatch seam the cross-surface erasure audit uses to
    * enumerate what every retained store version still holds without
    * the caller naming the family twice (the live handle already
    * knows it). */
  def loadAnnIndexLike(spark: SparkSession, dir: String,
                       like: Similarity.AnnIndex): Similarity.AnnIndex =
    like match {
      case _: IvfIndex   => loadIvfIndex(spark, dir)
      case _: LshIndex   => loadLshIndex(spark, dir)
      case _: PqIndex    => loadPqIndex(spark, dir)
      case _: IvfPqIndex => loadIvfPqIndex(spark, dir)
    }

  // ---------------------------------------------------------------- //
  // rebuild*: re-train the quantizer on `corpus` (a FRESH build — the
  // builds' deterministic hash-sampling / Lloyd training makes
  // append-then-rebuild row-identical to a fresh build over the same
  // rows, spec-asserted), write the complete version directory, then
  // publish. The returned index reads the PUBLISHED parquet, not the
  // build lineage, so the caller holds exactly what every other
  // reader of the store sees.
  // ---------------------------------------------------------------- //

  private def rebuildWith[I](store: VersionedIndexStore, spark: SparkSession,
                             build: () => I, save: (I, String) => Unit,
                             load: (SparkSession, String) => I): I = {
    val v = store.nextVersion()
    val dir = store.versionDir(v)
    save(build(), dir)
    store.publish(v)
    load(spark, dir)
  }

  /** `Similarity.AutoCentroids` (the IVF-family default here) →
    * re-derive the coarse-quantizer size from the CURRENT corpus
    * count at rebuild time (`suggestedNCentroids`, the √N rule) —
    * the rebuild is the one moment the size can track growth, and a
    * frozen count degrades every probe linearly in N (measured,
    * docs/SCALE.md round 10). One corpus count per actual rebuild;
    * the healthy no-rebuild path in maintain* never pays it. */
  private def resolveCentroids(nCentroids: Int, corpus: DataFrame): Int =
    if (nCentroids == Similarity.AutoCentroids)
      Similarity.suggestedNCentroids(corpus.count())
    else nCentroids

  def rebuildIvfIndex(store: VersionedIndexStore, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      nCentroids: Int = Similarity.AutoCentroids,
                      trainCoarse: Boolean = false): IvfIndex =
    rebuildWith[IvfIndex](store, corpus.sparkSession,
      () => Similarity.ivfIndex(corpus, idCol, vecCol,
        resolveCentroids(nCentroids, corpus),
        persistIndex = false, trainCoarse = trainCoarse),
      saveIvfIndex, loadIvfIndex)

  /** `planes` non-empty = rebuild under the caller's FROZEN explicit
    * hyperplanes ([[Similarity.lshIndexWithPlanes]]) instead of the
    * seeded pseudo-random ones — without it, a recall-floor rebuild
    * over an explicit-planes deployment would silently publish an
    * index in a DIFFERENT hash space than the quantizer contract
    * (and any oracle built on those planes) assumes. */
  def rebuildLshIndex(store: VersionedIndexStore, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      nPlanes: Int = 6, bucketCap: Int = 2000,
                      planes: Seq[Seq[Double]] = Nil): LshIndex =
    rebuildWith[LshIndex](store, corpus.sparkSession,
      () => if (planes.nonEmpty)
        Similarity.lshIndexWithPlanes(corpus, idCol, vecCol, planes,
          bucketCap, persistIndex = false)
      else Similarity.lshIndex(corpus, idCol, vecCol, nPlanes,
        bucketCap, persistIndex = false),
      saveLshIndex, loadLshIndex)

  def rebuildPqIndex(store: VersionedIndexStore, corpus: DataFrame,
                     idCol: String, vecCol: String,
                     m: Int = 8, ksub: Int = 16, maxIter: Int = 5,
                     trainSize: Int = 4096): PqIndex =
    rebuildWith[PqIndex](store, corpus.sparkSession,
      () => Similarity.pqIndex(corpus, idCol, vecCol, m, ksub, maxIter,
        trainSize, persistIndex = false),
      savePqIndex, loadPqIndex)

  /** Outcome of one [[maintainPqIndex]]/[[maintainIvfIndex]] step:
    * the live index (rebuilt or untouched), the audited recall that
    * drove the decision, whether a rebuild+swap happened, and the
    * versions retention GC deleted (empty unless `retain` was set AND
    * the step rebuilt). */
  final case class Maintenance[I](index: I, recall: Double,
                                  rebuilt: Boolean,
                                  gcVersions: Seq[Long] = Nil)

  /** The audit→rebuild→swap→GC tail shared by every maintain*: GC
    * runs ONLY on the rebuild path (a healthy audit must never delete
    * anything — under-threshold calls stay read-only no-ops), with
    * [[VersionedIndexStore.retainVersions]]' concurrent-reader
    * contract: `retain = Some(n)` keeps CURRENT plus the n versions
    * directly below it, so size n to the deployment's longest
    * in-flight read (n ≥ 1 tolerates a reader that resolved the
    * pointer just before this swap; Some(0) is the keep-only-CURRENT
    * setting for single-reader loops). None (the default) defers GC
    * to an explicit owner call, the pre-existing contract. */
  private def withRetention[I](store: VersionedIndexStore,
                               retain: Option[Int], recall: Double,
                               rebuilt: => I): Maintenance[I] = {
    val ix = rebuilt
    Maintenance(ix, recall, rebuilt = true,
      gcVersions = retain.fold(Seq.empty[Long])(store.retainVersions))
  }

  /** Deterministic hash-uniform audit sample of corpus vectors (the
    * kmeans-seeding stance: smallest xxhash64 of the id — no Random,
    * so the same corpus always audits with the same queries). */
  private def auditSample(corpus: DataFrame, idCol: String,
                          vecCol: String, n: Int): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .withColumn("graft_h", xxhash64(col(idCol)))
      .orderBy(col("graft_h"), col(idCol)).limit(n)
      .drop("graft_h")

  private def recallOf(exact: DataFrame, ann: DataFrame): Double = {
    val spark = exact.sparkSession
    import spark.implicits._
    Similarity.recallAtK(exact, ann, "audit")
      .select("recall").as[Double].head()
  }

  // ---------------------------------------------------------------- //
  // maintain*: the alarm wired to its response. The appends'
  // scaladocs defer quantizer drift to "periodic re-train with
  // q_sim_ann_recall as the alarm"; this is that loop as ONE
  // operator: audit recall@k of the live index against a bounded
  // brute-force sample of its own corpus, and rebuild + atomically
  // swap ONLY when it falls below `recallFloor`. Audit cost is
  // sampleQueries brute-force rows (|S|·|corpus| dot products — the
  // q_sim_ann_recall shape, bounded by the sample size); a healthy
  // index costs exactly the audit and touches neither the store nor
  // the pointer. Run from the maintenance owner between ingest
  // batches — the same single-writer stance as the appends.
  // ---------------------------------------------------------------- //

  def maintainPqIndex(store: VersionedIndexStore, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      current: PqIndex, recallFloor: Double,
                      k: Int = 3, rerank: Int = 16,
                      sampleQueries: Int = 64,
                      m: Int = 8, ksub: Int = 16, maxIter: Int = 5,
                      trainSize: Int = 4096,
                      retain: Option[Int] = None): Maintenance[PqIndex] = {
    val sample = auditSample(corpus, idCol, vecCol, sampleQueries)
    val exact = Similarity.bruteForceTopK(sample, corpus, idCol,
      vecCol, k)
    val r = recallOf(exact, Similarity.pqTopKWith(current, sample,
      corpus, idCol, vecCol, k, rerank))
    if (r >= recallFloor) Maintenance(current, r, rebuilt = false)
    else withRetention(store, retain, r,
      rebuildPqIndex(store, corpus, idCol, vecCol, m, ksub, maxIter,
        trainSize))
  }

  def maintainIvfIndex(store: VersionedIndexStore, corpus: DataFrame,
                       idCol: String, vecCol: String,
                       current: IvfIndex, recallFloor: Double,
                       k: Int = 3, nProbe: Int = 2,
                       sampleQueries: Int = 64,
                       nCentroids: Int = Similarity.AutoCentroids,
                       trainCoarse: Boolean = false,
                       retain: Option[Int] = None)
  : Maintenance[IvfIndex] = {
    val sample = auditSample(corpus, idCol, vecCol, sampleQueries)
    val exact = Similarity.bruteForceTopK(sample, corpus, idCol,
      vecCol, k)
    val r = recallOf(exact, Similarity.ivfTopKWith(current, sample,
      idCol, vecCol, k, nProbe))
    if (r >= recallFloor) Maintenance(current, r, rebuilt = false)
    else withRetention(store, retain, r,
      rebuildIvfIndex(store, corpus, idCol, vecCol, nCentroids,
        trainCoarse))
  }

  /** A recall-floor rebuild INHERITS the current index's explicit
    * planes when it carries them (the frozen-quantizer contract —
    * see [[rebuildLshIndex]]); `nPlanes` applies only to the
    * pseudo-random tense. */
  def maintainLshIndex(store: VersionedIndexStore, corpus: DataFrame,
                       idCol: String, vecCol: String,
                       current: LshIndex, recallFloor: Double,
                       k: Int = 3, sampleQueries: Int = 64,
                       nPlanes: Int = 6, bucketCap: Int = 2000,
                       retain: Option[Int] = None)
  : Maintenance[LshIndex] = {
    val sample = auditSample(corpus, idCol, vecCol, sampleQueries)
    val exact = Similarity.bruteForceTopK(sample, corpus, idCol,
      vecCol, k)
    val r = recallOf(exact, Similarity.lshTopKWith(current, sample,
      idCol, vecCol, k))
    if (r >= recallFloor) Maintenance(current, r, rebuilt = false)
    else withRetention(store, retain, r,
      rebuildLshIndex(store, corpus, idCol, vecCol, nPlanes,
        bucketCap, planes = current.planes))
  }

  def maintainIvfPqIndex(store: VersionedIndexStore, corpus: DataFrame,
                         idCol: String, vecCol: String,
                         current: IvfPqIndex, recallFloor: Double,
                         k: Int = 3, nProbe: Int = 2, rerank: Int = 16,
                         sampleQueries: Int = 64,
                         nCentroids: Int = Similarity.AutoCentroids,
                         m: Int = 8,
                         ksub: Int = 16, maxIter: Int = 5,
                         trainSize: Int = 4096,
                         residual: Boolean = false,
                         trainCoarse: Boolean = false,
                         retain: Option[Int] = None)
  : Maintenance[IvfPqIndex] = {
    val sample = auditSample(corpus, idCol, vecCol, sampleQueries)
    val exact = Similarity.bruteForceTopK(sample, corpus, idCol,
      vecCol, k)
    val r = recallOf(exact, Similarity.ivfPqTopKWith(current, sample,
      corpus, idCol, vecCol, k, nProbe, rerank))
    if (r >= recallFloor) Maintenance(current, r, rebuilt = false)
    else withRetention(store, retain, r,
      rebuildIvfPqIndex(store, corpus, idCol, vecCol, nCentroids, m,
        ksub, maxIter, trainSize, residual, trainCoarse))
  }

  def rebuildIvfPqIndex(store: VersionedIndexStore, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        nCentroids: Int = Similarity.AutoCentroids,
                        m: Int = 8, ksub: Int = 16,
                        maxIter: Int = 5, trainSize: Int = 4096,
                        residual: Boolean = false,
                        trainCoarse: Boolean = false): IvfPqIndex =
    rebuildWith[IvfPqIndex](store, corpus.sparkSession,
      () => Similarity.ivfPqIndex(corpus, idCol, vecCol,
        resolveCentroids(nCentroids, corpus), m,
        ksub, maxIter, trainSize, residual, trainCoarse,
        persistIndex = false),
      saveIvfPqIndex, loadIvfPqIndex)
}
