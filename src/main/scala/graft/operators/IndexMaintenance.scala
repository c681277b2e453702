package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{AnnIndex, IvfIndex, IvfPqIndex, LshIndex, PqIndex}
import graft.streaming.BatchIdGate

/** Index REBUILD + atomic swap — the other half of the incremental
  * `Similarity.appendToAnnIndex` story: appends fold batches in
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
  * documented stance of Similarity's ANN lifecycle) — a recall audit
  * against a brute-force sample dropping below its floor means the
  * frozen quantizer no longer describes the corpus, and
  * [[maintainAnnIndex]] is that audit wired to one rebuild + swap.
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
  // Parquet save/load of every index family. Quantizer state (driver
  // literals in the in-memory form) round-trips through parquet rows
  // — doubles are exact in parquet, and load re-sorts by the id
  // columns so the reconstructed literals are element-identical.
  // ---------------------------------------------------------------- //

  private def read(spark: SparkSession, dir: String,
                   name: String): DataFrame =
    spark.read.parquet(new org.apache.hadoop.fs.Path(dir, name).toString)

  private def loadCodebook(spark: SparkSession, dir: String)
  : Array[Array[Seq[Double]]] = {
    import spark.implicits._
    read(spark, dir, "codebook").select("s", "j", "codeword")
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  /** Write every artifact of `index` into the version directory `dir`,
    * one parquet directory each: the family's quantizer state
    * (`cents`, `codebook`, `meta` — LSH's plane count and planes,
    * IVF+PQ's residual flag — and LSH's census `dropped`) and its
    * id-keyed row table (`assigned`, `buckets` or `encoded`). */
  def saveAnnIndex(index: AnnIndex, dir: String): Unit = {
    val spark = index.rows.sparkSession
    import spark.implicits._
    def cents(c: Seq[(Long, Seq[Double])]) =
      "cents" -> c.toDF("cent_id", "cent_vec")
    def codebook(cb: Array[Array[Seq[Double]]]) =
      "codebook" -> cb.zipWithIndex.flatMap { case (sub, s) =>
        sub.zipWithIndex.map { case (cw, j) => (s, j, cw) }
      }.toSeq.toDF("s", "j", "codeword")
    val artifacts: Seq[(String, DataFrame)] = index match {
      case ix: IvfIndex => Seq(cents(ix.cents), "assigned" -> ix.assigned)
      case ix: LshIndex => Seq("meta" -> Similarity.lshMetaFrame(ix),
        "buckets" -> ix.buckets, "dropped" -> ix.dropped)
      case ix: PqIndex => Seq(codebook(ix.codebook), "encoded" -> ix.encoded)
      case ix: IvfPqIndex => Seq(cents(ix.cents), codebook(ix.codebook),
        "meta" -> Seq(ix.residual).toDF("residual"), "encoded" -> ix.encoded)
    }
    artifacts.foreach { case (name, df) =>
      df.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(dir, name).toString)
    }
  }

  /** Load a version directory as the SAME family as `like` — the
    * caller names the family by the index it already holds, so the
    * cross-surface erasure audit can enumerate what every retained
    * store version still holds. For the published version, resolve
    * the pointer ONCE (`store.currentDir()`), so every artifact comes
    * from one version even if a rebuild publishes concurrently. */
  def loadAnnIndexLike[I <: AnnIndex](spark: SparkSession, dir: String,
                                      like: I): I = {
    import spark.implicits._
    def cents = Similarity.centsOf(read(spark, dir, "cents"))
    (like match {
      case _: IvfIndex => IvfIndex(cents, read(spark, dir, "assigned"))
      case _: LshIndex =>
        val (nPlanes, planes) = Similarity.lshMeta(read(spark, dir, "meta"))
        LshIndex(nPlanes, read(spark, dir, "buckets"),
          read(spark, dir, "dropped"), planes)
      case _: PqIndex =>
        PqIndex(loadCodebook(spark, dir), read(spark, dir, "encoded"))
      case _: IvfPqIndex => IvfPqIndex(cents, loadCodebook(spark, dir),
        read(spark, dir, "encoded"),
        read(spark, dir, "meta").as[Boolean].head())
    }).asInstanceOf[I]
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

  private def rebuildWith[I <: AnnIndex](store: VersionedIndexStore,
                                         built: I): I = {
    val v = store.nextVersion()
    val dir = store.versionDir(v)
    saveAnnIndex(built, dir)
    store.publish(v)
    loadAnnIndexLike(built.rows.sparkSession, dir, built)
  }

  /** `Similarity.AutoCentroids` (the IVF-family default here) →
    * re-derive the coarse-quantizer size from the CURRENT corpus
    * count at rebuild time (`suggestedNCentroids`, the √N rule) —
    * the rebuild is the one moment the size can track growth, and a
    * frozen count degrades every probe linearly in N (measured,
    * docs/SCALE.md round 10). One corpus count per actual rebuild;
    * the healthy no-rebuild path in [[maintainAnnIndex]] never pays
    * it. */
  private def resolveCentroids(nCentroids: Int, corpus: DataFrame): Int =
    if (nCentroids == Similarity.AutoCentroids)
      Similarity.suggestedNCentroids(corpus.count())
    else nCentroids

  def rebuildIvfIndex(store: VersionedIndexStore, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      nCentroids: Int = Similarity.AutoCentroids,
                      trainCoarse: Boolean = false): IvfIndex =
    rebuildWith(store,
      Similarity.ivfIndex(corpus, idCol, vecCol,
        resolveCentroids(nCentroids, corpus),
        persistIndex = false, trainCoarse = trainCoarse))

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
    rebuildWith(store,
      if (planes.nonEmpty)
        Similarity.lshIndexWithPlanes(corpus, idCol, vecCol, planes,
          bucketCap, persistIndex = false)
      else Similarity.lshIndex(corpus, idCol, vecCol, nPlanes,
        bucketCap, persistIndex = false))

  def rebuildPqIndex(store: VersionedIndexStore, corpus: DataFrame,
                     idCol: String, vecCol: String,
                     m: Int = 8, ksub: Int = 16, maxIter: Int = 5,
                     trainSize: Int = 4096): PqIndex =
    rebuildWith(store,
      Similarity.pqIndex(corpus, idCol, vecCol, m, ksub, maxIter,
        trainSize, persistIndex = false))

  def rebuildIvfPqIndex(store: VersionedIndexStore, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        nCentroids: Int = Similarity.AutoCentroids,
                        m: Int = 8, ksub: Int = 16,
                        maxIter: Int = 5, trainSize: Int = 4096,
                        residual: Boolean = false,
                        trainCoarse: Boolean = false): IvfPqIndex =
    rebuildWith(store,
      Similarity.ivfPqIndex(corpus, idCol, vecCol,
        resolveCentroids(nCentroids, corpus), m,
        ksub, maxIter, trainSize, residual, trainCoarse,
        persistIndex = false))

  /** Outcome of one [[maintainAnnIndex]] step: the live index (rebuilt
    * or untouched), the audited recall that drove the decision,
    * whether a rebuild+swap happened, and the versions retention GC
    * deleted (empty unless `retain` was set AND the step rebuilt). */
  final case class Maintenance[I](index: I, recall: Double,
                                  rebuilt: Boolean,
                                  gcVersions: Seq[Long] = Nil)

  /** Deterministic hash-uniform audit sample of corpus vectors (the
    * kmeans-seeding stance: smallest xxhash64 of the id — no Random,
    * so the same corpus always audits with the same queries). */
  private def auditSample(corpus: DataFrame, idCol: String,
                          vecCol: String, n: Int): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .withColumn("graft_h", xxhash64(col(idCol)))
      .orderBy(col("graft_h"), col(idCol)).limit(n)
      .drop("graft_h")

  /** The alarm wired to its response. Appends defer quantizer drift
    * to "periodic re-train with q_sim_ann_recall as the alarm"; this
    * is that loop as ONE operator over any family: audit recall@k of
    * the live index ([[Similarity.annTopKWith]]) against a bounded
    * brute-force sample of its own corpus, and rebuild + atomically
    * swap ONLY when it falls below `recallFloor`. Audit cost is
    * `sampleQueries` brute-force rows (|S|·|corpus| dot products — the
    * q_sim_ann_recall shape, bounded by the sample size); a healthy
    * index costs exactly the audit and touches neither the store nor
    * the pointer. Run from the maintenance owner between ingest
    * batches — the same single-writer stance as the appends.
    *
    * The rebuild keeps every quantizer shape `current` carries: the
    * PQ families' subspace count and codebook size, IVF+PQ's residual
    * codes, and LSH's plane count and explicit planes (the frozen-
    * quantizer contract — see [[rebuildLshIndex]]). The parameters
    * are the audit's (`k`; `nProbe` for the IVF-routed families;
    * `rerank`, the PQ families' ADC shortlist depth, which must be
    * at least `k`) and the build's (`nCentroids` and `trainCoarse`
    * for the IVF-routed families, `bucketCap` for LSH, `maxIter` and
    * `trainSize` for codebook training).
    *
    * Retention GC runs ONLY on the rebuild path (a healthy audit must
    * never delete anything), with
    * [[VersionedIndexStore.retainVersions]]' concurrent-reader
    * contract: `retain = Some(n)` keeps CURRENT plus the n versions
    * directly below it, so size n to the deployment's longest
    * in-flight read (n ≥ 1 tolerates a reader that resolved the
    * pointer just before this swap; Some(0) is the keep-only-CURRENT
    * setting for single-reader loops). None (the default) defers GC
    * to an explicit owner call. */
  def maintainAnnIndex[I <: AnnIndex](store: VersionedIndexStore,
                                      corpus: DataFrame, idCol: String,
                                      vecCol: String, current: I,
                                      recallFloor: Double, k: Int = 3,
                                      nProbe: Int = 2, rerank: Int = 16,
                                      sampleQueries: Int = 64,
                                      nCentroids: Int = Similarity.AutoCentroids,
                                      trainCoarse: Boolean = false,
                                      bucketCap: Int = 2000,
                                      maxIter: Int = 5,
                                      trainSize: Int = 4096,
                                      retain: Option[Int] = None)
  : Maintenance[I] = {
    current match {
      case _: PqIndex | _: IvfPqIndex => require(rerank >= k,
        s"rerank ($rerank) must be >= k ($k): the exact re-scoring can " +
          "only return rows from the ADC shortlist")
      case _ =>
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = auditSample(corpus, idCol, vecCol, sampleQueries)
    val r = Similarity.recallAtK(
        Similarity.bruteForceTopK(sample, corpus, idCol, vecCol, k),
        Similarity.annTopKWith(current, sample, idCol, vecCol, k, nProbe,
          rerankVecs = Some(corpus), rerankDepth = rerank), "audit")
      .select("recall").as[Double].head()
    if (r >= recallFloor) Maintenance(current, r, rebuilt = false)
    else {
      def shape(cb: Array[Array[Seq[Double]]]) = (cb.length, cb.head.length)
      val rebuilt = current match {
        case _: IvfIndex => rebuildIvfIndex(store, corpus, idCol, vecCol,
          nCentroids, trainCoarse)
        case ix: LshIndex => rebuildLshIndex(store, corpus, idCol, vecCol,
          ix.nPlanes, bucketCap, ix.planes)
        case ix: PqIndex =>
          val (m, ksub) = shape(ix.codebook)
          rebuildPqIndex(store, corpus, idCol, vecCol, m, ksub, maxIter,
            trainSize)
        case ix: IvfPqIndex =>
          val (m, ksub) = shape(ix.codebook)
          rebuildIvfPqIndex(store, corpus, idCol, vecCol, nCentroids, m,
            ksub, maxIter, trainSize, ix.residual, trainCoarse)
      }
      Maintenance(rebuilt.asInstanceOf[I], r, rebuilt = true,
        gcVersions = retain.fold(Seq.empty[Long])(store.retainVersions))
    }
  }
}
