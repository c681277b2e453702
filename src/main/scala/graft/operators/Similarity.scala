package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.StagedTables

/** Vector-similarity operators over an `ArrayType(FloatType)` embedding
  * column: brute-force cosine top-k (exact baseline), kNN label vote,
  * and a random-hyperplane LSH bucketed ANN (the scale path).
  *
  * The hot kernels (`graft_dot`, `graft_sqdist`) are native Catalyst
  * expressions with codegen; the remaining kernels are pure column
  * expressions (`transform`/`aggregate` folds). Either way they stay
  * inside whole-stage codegen; floats are widened to double BEFORE
  * arithmetic so results are bit-stable and oracle-comparable. The
  * imperative exceptions are the quantizer scans — IVF list
  * assignment and probe ranking, k-means assignment, PQ encode — which
  * hold the centroid or codeword matrix behind a broadcast and score
  * it in one JVM loop per row, and the fused Lloyd iterate in
  * [[kmeans]] (an RDD `mapPartitions` + reduce pass per round).
  *
  * Scale notes:
  *  - brute-force top-k broadcasts the (small) query set against the
  *    candidate corpus — a map-side nested loop, no shuffle of the big
  *    side; the only shuffle is the final per-query top-k window, keyed
  *    by query id (perfectly spread).
  *  - at 100 TB the corpus side stays partitioned; LSH bucketing turns
  *    the cross product into a bucket-equi-join, which Spark plans as a
  *    hash join on bucket id. Bucket-size capping bounds skew.
  */
object Similarity {

  /** Cast a float vector column to double elements. */
  def toDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** THE micro-unit (1e-6) quantization form — every exactness-critical
    * integer path quantizes through this one expression ([[quantizeInt8]],
    * [[EmbeddingStats.centroidOutliers]]), and the fused Lloyd iterate's
    * JVM loop mirrors it as `math.floor(x * 1000000.0d + 0.5d).toLong`.
    * Keep the three in lockstep: a rounding-convention change applied to
    * one copy but not the others silently breaks the cross-operator
    * claim that all micro-unit paths quantize identically.
    */
  def microQuantize(x: Column): Column =
    floor(x.cast("double") * 1000000.0d + 0.5d).cast("long")

  /** Dot product of two double-array columns via the native codegen
    * expression (graft.functions.DotProduct). Index-order summation —
    * bit-identical to the `aggregate(zip_with(...))` fold it replaced. */
  def dot(a: Column, b: Column): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_dot", a, b)
  }

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** Rows with a NULL embedding are EXCLUDED from every vector
    * operator — the realistic failed-extraction artifact: vector math
    * has no null-propagating meaning inside an index, a centroid sum,
    * or a covariance fold, and an unfiltered null crashes the JVM
    * kernels mid-job (Seq.length on null). Applied at each public
    * entry; callers needing the dropped rows anti-join the operator's
    * output ids against its input. */
  private[operators] def nonNullVecs(df: DataFrame,
                                     vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)

  /** Cosine similarity of two double-array columns. A zero-norm side
    * (an all-zero embedding — a realistic failed-extraction artifact)
    * scores 0, NOT NaN: doubles order NaN above every value, so a NaN
    * cosine would take rank 1 of every descending top-k list and one
    * corrupt vector would displace a true neighbor from every query's
    * results. */
  def cosine(a: Column, b: Column): Column =
    safeCosDiv(dot(a, b), sqrt(normSq(a)) * sqrt(normSq(b)))

  /** `num / den`, with a zero denominator mapping to 0 (see
    * [[cosine]]) — shared by the scorers that precompute norms. */
  private def safeCosDiv(num: Column, den: Column): Column =
    when(den === 0.0d, 0.0d).otherwise(num / den)

  /** Int8 quantization of an embedding: scale the L2-normalized
    * vector by 127 and round half-up — the standard storage shrink
    * (4 bytes -> 1 byte per dim) before ANN indexing; cosine on the
    * int8 vectors approximates cosine on the originals. Pure codegen
    * lambdas.
    *
    * Codes must be reproducible bit-exactly across engines/runs (the
    * artifact is stored), so the whole pipeline is integer-exact:
    * each element is first snapped to micro-units
    * `m = floor(x*1e6 + 0.5)` (a long), the norm comes from the
    * EXACT integer sum of squares `sum(m*m)` (order-independent —
    * a floating-point sum would depend on summation order, and a
    * last-ulp norm difference flips codes sitting on a rounding
    * boundary), and each code is `floor(m*127/sqrt(sum) + 0.5)`:
    * single correctly-rounded IEEE ops on identical inputs, so any
    * engine reproduces every code. Assumes |x| <= ~1e3 per element
    * (sum of 64 squared micro-unit longs stays far below 2^63).
    */
  def quantizeInt8(v: Column): Column = {
    val micro = transform(v, microQuantize(_))
    val nrmMicro =
      sqrt(aggregate(micro, lit(0L), (acc, m) => acc + m * m).cast("double"))
    when(nrmMicro === 0.0d,
      transform(micro,
        m => floor(m.cast("double") / 1000000.0d * 127.0d + 0.5d).cast("long")))
      .otherwise(transform(micro,
        m => floor(m.cast("double") * 127.0d / nrmMicro + 0.5d).cast("long")))
  }

  /** Exact brute-force cosine top-k: for each query row (small set,
    * broadcast), the k nearest candidate rows by cosine, deterministic
    * tiebreak on candidate id.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(
      nonNullVecs(queries, vecCol).select(col(idCol).as("q_id"),
        toDouble(col(vecCol)).as("q_vec"),
        sqrt(normSq(toDouble(col(vecCol)))).as("q_norm")))
    val c = nonNullVecs(candidates, vecCol).select(col(idCol).as("c_id"),
      toDouble(col(vecCol)).as("c_vec"),
      sqrt(normSq(toDouble(col(vecCol)))).as("c_norm"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", safeCosDiv(dot(col("q_vec"), col("c_vec")),
        col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
  }

  /** kNN majority-label vote: label of each query's k nearest
    * neighbours, ties broken toward the smaller label. */
  def knnLabel(queries: DataFrame, candidates: DataFrame,
               idCol: String, vecCol: String, labelCol: String,
               k: Int): DataFrame = {
    val topk = bruteForceTopK(queries, candidates, idCol, vecCol, k)
    val labels = candidates.select(col(idCol).as("c_id"),
      col(labelCol).as("c_label"))
    val votes = topk.join(broadcast(labels), "c_id")
      .groupBy(col("q_id"), col("c_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("c_label").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("c_label").as("pred_label"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * row, the `k` most-similar candidates from a DIFFERENT group
    * (label / source / cluster) — "hard" because they look like the
    * anchor but are labeled otherwise, exactly the negatives a
    * contrastive or reranker objective learns the most from. Same
    * broadcast-NLJ + per-anchor window shape as [[bruteForceTopK]]
    * (anchors are a bounded mining batch per job), with the group
    * inequality pushed into the join condition so same-group pairs
    * never materialize. Exact by design — it is the oracle twin; the
    * corpus-wide scale path is any staged ANN index with an overfetched
    * shortlist group-filtered before the final top-k. */
  def hardNegatives(anchors: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, groupCol: String,
                    k: Int): DataFrame = {
    val q = broadcast(
      nonNullVecs(anchors, vecCol).select(col(idCol).as("q_id"),
        col(groupCol).as("q_grp"),
        toDouble(col(vecCol)).as("q_vec"),
        sqrt(normSq(toDouble(col(vecCol)))).as("q_norm")))
    val c = nonNullVecs(candidates, vecCol)
      .select(col(idCol).as("c_id"),
      col(groupCol).as("c_grp"),
      toDouble(col(vecCol)).as("c_vec"),
      sqrt(normSq(toDouble(col(vecCol)))).as("c_norm"))
    val scored = q.join(c, col("q_grp") =!= col("c_grp"))
      .withColumn("cos", safeCosDiv(dot(col("q_vec"), col("c_vec")),
        col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
  }

  /** Deterministic ±1 sign for random-projection component (`outIdx`,
    * `inIdx`) under `seed`: +1 when the first hex digit of
    * `md5("rp_<seed>_<outIdx>_<inIdx>")` is 0-7. The digit test is the
    * engine-portable coin flip — DuckDB's md5() reproduces it, so the
    * whole projection is oracle-checkable. */
  private[graft] def rpSign(seed: Int, outIdx: Int, inIdx: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_${seed}_${outIdx}_${inIdx}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xF) < 8) 1L else -1L
  }

  /** Johnson-Lindenstrauss random projection `dim -> outDim` with a
    * deterministic dense ±1 sign matrix (Achlioptas 2001: ±1 entries
    * satisfy the JL guarantee; scaling by 1/sqrt(outDim) is a
    * monotone constant, so ranking-type consumers can stay in exact
    * integer units and skip it). The vector is micro-quantized
    * ([[microQuantize]]) so each output component is an exact BIGINT
    * Σ ±x_micro — partitioning/engine independent, hash-matchable in
    * DuckDB.
    *
    * Scale shape: the sign matrix depends only on (outDim, dim, seed)
    * — outDim·dim literal longs ride the plan ONCE (the PQ-codebook
    * stance), and the projection itself is a map-only codegen fold:
    * no shuffle, no join, no UDF. At 100 TB this is a pure scan; the
    * shrunken vectors then feed ANN/dedup at outDim/dim of the cost.
    *
    * @return input frame with `proj`: array<long> of length `outDim`
    */
  def randomProject(vecs: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int, seed: Int = 7): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got dim=$dim outDim=$outDim")
    val signs: Seq[Seq[Long]] =
      Seq.tabulate(outDim, dim)((j, i) => rpSign(seed, j, i))
    val xq = transform(toDouble(col(vecCol)), microQuantize(_))
    nonNullVecs(vecs, vecCol).withColumn("proj",
      transform(typedLit(signs), row =>
        aggregate(zip_with(row, xq, (s, x) => s * x), lit(0L), _ + _)))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * derived from a 64-bit avalanche hash of (plane, dim) — no
    * java.util.Random, so plans are reproducible across runs/retries.
    */
  private def planeComponent(plane: Int, dim: Column): Column = {
    val h = xxhash64(lit(plane), dim)
    (h.cast("double") / lit(Long.MaxValue.toDouble))
  }

  /** Sign-random-projection LSH bucket id: `nPlanes` hyperplane sign
    * bits packed into a long. Vectors in the same bucket are likely
    * cosine-close; bucketing converts ANN into a bucket equi-join.
    */
  def lshBucket(vec: Column, nPlanes: Int): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    val bits = (0 until nPlanes).map { p =>
      val d = aggregate(
        zip_with(vec, dims, (x, i) => x * planeComponent(p, i)),
        lit(0.0d), (acc, x) => acc + x)
      when(d >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** [[lshBucket]] under CALLER-SUPPLIED hyperplanes: bit p is set
    * iff dot(vec, planes(p)) >= 0 (the native index-order kernel).
    * This is the externally-trained-quantizer tense of the LSH family
    * — the [[ivfIndexWithCentroids]] stance — and what makes the
    * whole sign-bit probe oracle-expressible when the planes are an
    * id-picked corpus subset (q_sim_ann_lsh's DuckDB twin recomputes
    * bucketing + same-bucket probe from the same explicit table). A
    * NULL plane score (dim mismatch) contributes a 0 bit, like the
    * pseudo-random form's null-propagating fold. */
  def lshBucketWithPlanes(vec: Column,
                          planes: Seq[Seq[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 62,
      s"need 1 <= nPlanes <= 62 explicit hyperplanes, got ${planes.size}")
    val pl = typedLit(planes.map(_.toSeq))
    planes.indices.map { p =>
      when(dot(vec, element_at(pl, p + 1)) >= 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The ONE bucket-hash dispatch every LSH consumer (build, probe,
    * append — DataFrame and TABLE tenses) routes through: explicit
    * planes when the index carries them, the seeded pseudo-random
    * hyperplanes otherwise. Centralized so a consumer can never hash
    * queries into a different space than the index was built in. */
  private def lshHash(vec: Column, nPlanes: Int,
                      planes: Seq[Seq[Double]]): Column =
    if (planes.nonEmpty) {
      require(planes.size == nPlanes,
        s"index carries ${planes.size} explicit planes but declares " +
          s"nPlanes=$nPlanes — the artifact is corrupt")
      lshBucketWithPlanes(vec, planes)
    } else lshBucket(vec, nPlanes)

  /** The four staged ANN index families (IVF, LSH, PQ, IVF+PQ). They
    * share one lifecycle contract: a FROZEN quantizer (centroids /
    * planes and census / codebook) plus an id-keyed row table, one row
    * per indexed vector. So append, restrict, delete
    * ([[appendToAnnIndex]], [[restrictAnnToIds]],
    * [[deleteFromAnnIndex]]), the erasure count ([[annRowsHeld]]), the
    * probe ([[annTopKWith]]) and save / load / maintain
    * ([[IndexMaintenance]]) are written once over this trait; a family
    * contributes only its row table and its encode. */
  sealed trait AnnIndex {
    /** The family's own case class, which a row edit returns. */
    type Self <: AnnIndex
    /** The id-keyed row table: `assigned` (IVF), `buckets` (LSH) or
      * `encoded` (PQ, IVF+PQ). */
    def rows: DataFrame
    /** The same frozen quantizer over other rows. */
    def withRows(rows: DataFrame): Self
    /** (c_id, c_vec) vectors as rows of [[rows]] under the frozen
      * quantizer: the build's own projection, so an appended vector's
      * row is the one a rebuild with the same quantizer gives it. */
    private[graft] def encode(cands: DataFrame): DataFrame
  }

  /** Staged IVF index: the coarse-quantizer centroid table (driver
    * state — nCentroids·dim doubles, the bounded-collect stance shared
    * with [[kmeans]] seeding) plus the corpus assigned to its nearest
    * list, persisted so every consumer (probe join, recall audit)
    * reads one materialization. */
  final case class IvfIndex(cents: Seq[(Long, Seq[Double])],
                            assigned: DataFrame) extends AnnIndex {
    type Self = IvfIndex
    def rows: DataFrame = assigned
    def withRows(rows: DataFrame): IvfIndex = copy(assigned = rows)
    private[graft] def encode(cands: DataFrame): DataFrame =
      ivfAssignBroadcast(cands, cents)
  }

  /** Build the IVF index: `nCentroids` centroids picked
    * deterministically (smallest xxhash64 of the id — a seeded uniform
    * sample, no Random), then every candidate assigned to its nearest
    * centroid by the MAP-ONLY [[ivfAssignBroadcast]] scan — zero
    * corpus exchange, same shape as [[assignToCentroids]]. In a real
    * deployment `assigned` materializes as a table bucketed by
    * cent_id, amortized over all queries.
    *
    * SIZE `nCentroids` WITH THE CORPUS ([[suggestedNCentroids]]):
    * every downstream probe — [[ivfTopKWith]],
    * [[graft.streaming.StreamingOps.semanticProbe]] — pays
    * O(N / nCentroids) candidate comparisons per query, while the
    * query side pays O(nCentroids) row-local centroid scores. A
    * nCentroids frozen while the corpus grows makes probe cost grow
    * linearly with N (measured: the ingest door's semantic gate
    * inflated ~17× from sf0.1 to sf1 at a fixed 16 centroids —
    * docs/SCALE.md round 10); nCentroids ≈ √N balances the two terms
    * at O(√N) each, the standard IVF sizing. The default 16 is a
    * small-fixture setting, not a deployment recommendation.
    */
  /** Scale-correct coarse-quantizer size for an N-vector corpus:
    * `max(16, ceil(√N))`, the balance point where the query side's
    * O(nCentroids) row-local centroid ranking and the probe side's
    * O(N / nCentroids) within-list comparisons are both O(√N) — the
    * standard IVF sizing rule (FAISS's nlist guidance has the same
    * shape). Floored at the small-fixture default so tiny corpora
    * keep non-degenerate lists. Callers that freeze nCentroids while
    * the corpus grows get linearly-degrading probes; callers that
    * re-train on a maintenance cadence
    * ([[graft.operators.IndexMaintenance.rebuildIvfIndex]]) should
    * re-derive this from the CURRENT corpus count at each rebuild. */
  def suggestedNCentroids(nVectors: Long): Int = {
    require(nVectors >= 0, s"nVectors=$nVectors must be >= 0")
    math.max(16L, math.ceil(math.sqrt(nVectors.toDouble)).toLong)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Sentinel accepted by the [[IndexMaintenance]] rebuild/maintain
    * entry points: derive nCentroids from the corpus count at build
    * time ([[suggestedNCentroids]]). It is their DEFAULT because
    * re-training is exactly where the corpus has grown — a
    * maintenance cadence that freezes the centroid count
    * re-introduces the linear probe degradation the rebuild exists
    * to prevent. */
  val AutoCentroids: Int = -1

  def ivfIndex(candidates: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int = 16,
               persistIndex: Boolean = true,
               trainCoarse: Boolean = false): IvfIndex = {
    val spark = candidates.sparkSession
    import spark.implicits._
    requireIntegralId(candidates, idCol, "ivfIndex")
    val cands = nonNullVecs(candidates, vecCol)
      .select(col(idCol).cast("long").as("c_id"),
      toDouble(col(vecCol)).as("c_vec"))
    // trainCoarse = true replaces the hash-sampled centroids with
    // Lloyd-trained ones (the fused distributed kmeans): costs
    // maxIter corpus passes at build, buys balanced lists AND small
    // residuals — the prerequisite for residual PQ codes paying off
    val cents: Seq[(Long, Seq[Double])] =
      if (trainCoarse)
        kmeansWithAudit(candidates, idCol, vecCol, nCentroids,
          maxIter = 5).centroids
          .zipWithIndex.map { case (c, i) => (i.toLong, c) }
      else cands
        .withColumn("h", xxhash64(col("c_id")))
        .orderBy(col("h"), col("c_id")).limit(nCentroids)
        .select(col("c_id"), col("c_vec"))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    IvfIndex(cents, persisted(ivfAssignBroadcast(cands, cents),
      persistIndex))
  }

  /** Build an [[IvfIndex]] under a caller-supplied FROZEN coarse
    * quantizer — the externally-trained-quantizer deployment shape
    * (FAISS-style: train the quantizer in one system, assign here),
    * and what makes the whole IVF probe oracle-expressible when the
    * centroids are an id-picked corpus subset (q_sim_ann_ivf's DuckDB
    * twin recomputes assignment + probe + in-list rerank from the
    * same explicit table). Assignment is the builds' shared
    * [[ivfAssignBroadcast]] projection, so append/delete/restrict
    * semantics are unchanged. Centroids are re-sorted by id, the
    * [[ivfIndex]] invariant every probe's tie-break relies on. */
  def ivfIndexWithCentroids(candidates: DataFrame, idCol: String,
                            vecCol: String,
                            cents: Seq[(Long, Seq[Double])],
                            persistIndex: Boolean = true): IvfIndex = {
    require(cents.nonEmpty,
      "ivfIndexWithCentroids needs at least one centroid")
    requireIntegralId(candidates, idCol, "ivfIndexWithCentroids")
    val sorted = cents.sortBy(_._1)
    IvfIndex(sorted, persisted(ivfAssignBroadcast(
      nonNullVecs(candidates, vecCol)
        .select(col(idCol).cast("long").as("c_id"),
          toDouble(col(vecCol)).as("c_vec")), sorted), persistIndex))
  }

  /** The staged-index persist step every in-memory build shares:
    * `persistIndex = false` trades recomputing the projection for each
    * consumer against zero cache residue — a throwaway index (a
    * rebuild about to be written out, a spec fixture) takes it so it
    * cannot leak until clearCache. */
  private def persisted(df: DataFrame, persistIndex: Boolean): DataFrame =
    if (persistIndex)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df

  /** Contract shared by every operator keying on a Long id: ids must
    * be integral (the centroid tables and IvfIndex.cents carry them
    * as Long) — fail fast with a named requirement instead
    * of a silent `cast("long") = null` (non-ANSI cast semantics would
    * otherwise null out e.g. UUID string ids and make the rows vanish
    * from every probe without an error anywhere). */
  private def requireIntegralId(df: DataFrame, idCol: String,
                                opName: String): Unit =
    Guards.requireIntegral(df.schema(idCol).dataType, opName,
      s"id ('$idCol')", "centroid tables are keyed by Long")

  /** Spark SQL's total order on doubles for the quantizer scans: NaN
    * compares GREATER than every non-NaN value (and equal to itself),
    * unlike the JVM's always-false `>`. A NaN-scored centroid
    * therefore wins the scan, exactly as it would sort first in a
    * SQL `ORDER BY score DESC`. ONE definition shared with
    * [[graft.functions.CentroidRankKernel]] (the semantics live
    * here, not in per-kernel copies). */
  private[graft] def gtSqlDouble(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b)
    else if (java.lang.Double.isNaN(b)) false
    else a > b

  /** `graft_dot` against a (never-null) centroid, on the JVM: index-
    * order summation; boxed null on a dim mismatch or a null element,
    * exactly as the codegen kernel — so a degenerate vector scores no
    * centroid and surfaces as the `cent_id = -1` sentinel. */
  private def dotOrNull(v: scala.collection.Seq[Any],
                        c: Array[Double]): java.lang.Double = {
    if (v.length != c.length) return null
    var s = 0.0d
    var i = 0
    while (i < c.length) {
      v(i) match {
        case d: java.lang.Double => s += d.doubleValue() * c(i)
        case null                => return null
        case other => s += other.asInstanceOf[Number].doubleValue() * c(i)
      }
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** One centroid's score for one vector: `safeCosDiv(dot(v, cent),
    * ‖cent‖)` INCLUDING the degenerate branch — a zero-norm centroid
    * scores 0.0 even against a null-dot vector (safeCosDiv tests the
    * denominator first). dot/‖cent‖ ranks centroids exactly as
    * cosine does: the vector's own norm is a positive constant across
    * them. */
  private def centScoreOrNull(v: scala.collection.Seq[Any],
                              c: Array[Double],
                              norm: Double): java.lang.Double =
    if (norm == 0.0d) java.lang.Double.valueOf(0.0d)
    else if (v == null) null
    else {
      val d = dotOrNull(v, c)
      if (d == null) null
      else java.lang.Double.valueOf(d.doubleValue() / norm)
    }

  /** The broadcast quantizer artifact: ids / row-major matrix /
    * fold-order norms, built once on the driver and shipped via
    * torrent — never serialized into the plan or the task binary. */
  private def broadcastQuantizer(spark: org.apache.spark.sql.SparkSession,
                                 cents: Seq[(Long, Seq[Double])])
  : org.apache.spark.broadcast.Broadcast[
      (Array[Long], Array[Array[Double]], Array[Double])] = {
    val ids = cents.map(_._1).toArray
    val mat = cents.map(_._2.toArray).toArray
    val norms = mat.map(c => math.sqrt(
      c.foldLeft(0.0d)((a, x) => a + x * x)))
    spark.sparkContext.broadcast((ids, mat, norms))
  }

  /** The IVF list assignment over a FROZEN centroid table: (c_id,
    * c_vec) → (c_id, c_vec, cent_id). ONE definition shared by every
    * build, append and table append, so an appended vector can never
    * land in a different list than a rebuild with the same quantizer
    * would put it in. The quantizer rides a torrent broadcast, never
    * the plan: at √N sizing a 10-billion-vector corpus needs ~10⁵
    * centroids, and the broadcast is one executor-cached artifact.
    *
    * Contract (XlQuantizerSpec's edge-case table): each centroid
    * scores [[centScoreOrNull]]; the highest score in Spark SQL's
    * order wins ([[gtSqlDouble]] — a NaN score wins); ties keep the
    * first centroid in `cents` order (callers keep `cents` sorted by
    * cent_id — [[ivfIndex]] does); a vector that scores no centroid
    * gets `cent_id = -1`. Plan shape: ONE map-only `mapPartitions`
    * projection — zero exchanges, zero joins, plan size independent
    * of K (ScaleSpec asserts both). Requires `c_vec` as array<double>
    * (the shared cands shape). */
  def ivfAssignBroadcast(cands: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = cands.sparkSession
    val bc = broadcastQuantizer(spark, cents)
    val vecIdx = cands.schema.fieldIndex("c_vec")
    val outSchema = cands.schema.add("cent_id",
      org.apache.spark.sql.types.LongType, nullable = false)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    cands.mapPartitions { rows =>
      val (ids, mat, norms) = bc.value
      rows.map { r =>
        val v = r.getAs[scala.collection.Seq[Any]](vecIdx)
        var bestId = -1L
        var bestS = Double.NegativeInfinity
        var k = 0
        while (k < mat.length) {
          val s = centScoreOrNull(v, mat(k), norms(k))
          if (s != null && gtSqlDouble(s.doubleValue(), bestS)) {
            bestS = s.doubleValue(); bestId = ids(k)
          }
          k += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bestId)
      }
    }(enc)
  }

  /** Query stage of IVF top-k against a prebuilt [[IvfIndex]]: each
    * query probes its `nProbe` nearest centroid lists and
    * exact-reranks only inside them. Probe selection is ONE map-only
    * projection over the broadcast quantizer (never a queries ×
    * centroids cross product): [[ivfAssignBroadcast]]'s scores and
    * order, taken `nProbe` deep (score desc, cent_id asc; a zero-norm
    * query scores 0.0 everywhere and probes the id-ascending lists).
    * A query that scores null against EVERY centroid (dim mismatch,
    * null element) probes nothing and is absent from the result —
    * the honest answer for a query the quantizer cannot place (the
    * [[ivfAssignTwoLevel]] stance). The list join is an equi-join on
    * cent_id. `nProbe` past K probes every list. */
  def ivfTopKWith(index: IvfIndex, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val bc = broadcastQuantizer(spark, index.cents)
    val qs = nonNullVecs(queries, vecCol)
      .select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
    val vecIdx = qs.schema.fieldIndex("q_vec")
    val outSchema = qs.schema.add("probe_cents",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false),
      nullable = false)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val np = math.min(nProbe, index.cents.size)
    val probed = qs.mapPartitions { rows =>
      val (ids, mat, norms) = bc.value
      rows.map { r =>
        val v = r.getAs[scala.collection.Seq[Any]](vecIdx)
        val scores = new Array[java.lang.Double](mat.length)
        var i = 0
        while (i < mat.length) {
          scores(i) = centScoreOrNull(v, mat(i), norms(i)); i += 1
        }
        val taken = new Array[Boolean](mat.length)
        val out = new scala.collection.mutable.ArrayBuffer[Long](np)
        var round = 0
        while (round < np) {
          var sel = -1
          var selS = Double.NegativeInfinity
          var haveSel = false
          i = 0
          while (i < mat.length) {
            val s = scores(i)
            if (!taken(i) && s != null &&
                (!haveSel || gtSqlDouble(s.doubleValue(), selS))) {
              sel = i; selS = s.doubleValue(); haveSel = true
            }
            i += 1
          }
          if (sel >= 0) { taken(sel) = true; out += ids(sel) }
          round += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ out.toSeq)
      }
    }(enc)
    rerankProbes(index, probed, k)
  }

  /** The exact-rerank tail shared by [[ivfTopKWith]] and
    * [[ivfTopKHier]]: explode each query's probe list, broadcast the
    * query side into the cent_id equi-join against the assigned
    * lists, exact cosine top-k per query. */
  private def rerankProbes(index: IvfIndex, probed: DataFrame,
                           k: Int): DataFrame = {
    val probes = probed.select(col("q_id"), col("q_vec"),
      explode(col("probe_cents")).as("cent_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(probes).join(index.assigned, "cent_id")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
  }

  /** EXTREME-K tense of [[ivfTopKWith]]: probe selection routed
    * through a [[TwoLevelQuantizer]] (ONE codegen
    * [[graft.functions.CentroidRanks]] call per query,
    * O(wProbe·√K·dim) instead of the flat O(K·dim) scan), then the
    * identical exact-rerank tail — the batch query stage's twin of
    * the streaming gate's hierarchical transport. Full `wProbe` is
    * result-identical to [[ivfTopKWith]] (XlQuantizerSpec); narrow
    * `wProbe` trades boundary recall exactly as [[ivfAssignTwoLevel]]
    * documents. A query no super can score probes nothing and is
    * absent from the result (the flat probe's empty-probe stance). */
  def ivfTopKHier(index: IvfIndex, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  tlq: TwoLevelQuantizer,
                  nProbe: Int = 2, wProbe: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.cents.size,
      s"nProbe=$nProbe out of range [1, ${index.cents.size}]")
    requireHierOver(tlq, index.cents)
    val qs = nonNullVecs(queries, vecCol)
      .select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
    val probed = qs.withColumn("probe_cents",
      centroidRanksTwoLevel(col("q_vec"), tlq, nProbe, wProbe))
    rerankProbes(index, probed, k)
  }

  /** Reject a hierarchy that does not cover EXACTLY this centroid
    * set — count, ids, AND vectors: a rebuild keeps K and reuses ids
    * 0..K-1, so anything weaker would let a hierarchy cached across
    * the rebuild silently rank against the old centroids. Driver-side
    * K·dim equality, once per plan build. ONE definition shared by
    * [[graft.streaming.StreamingOps.semanticProbe]] and
    * [[ivfTopKHier]]. */
  private[graft] def requireHierOver(tlq: TwoLevelQuantizer,
      cents: Seq[(Long, Seq[Double])]): Unit = {
    require(tlq.nCentroids == cents.size,
      s"hierarchy covers ${tlq.nCentroids} leaves but the index has " +
        s"${cents.size} centroids — build the TwoLevelQuantizer " +
        "over index.cents")
    val leaves = tlq.children.valuesIterator.flatten.toMap
    // element-wise SQL equality, NOT Seq ==: a corpus vector with a
    // NaN component makes its k-means centroid NaN, and JVM NaN !=
    // NaN would reject the FRESH hierarchy built over that very
    // index (eqSqlDouble exists for exactly this divergence)
    def sameVec(a: Seq[Double], b: Seq[Double]): Boolean =
      a.size == b.size && a.indices.forall(i => eqSqlDouble(a(i), b(i)))
    cents.foreach { case (id, vec) =>
      require(leaves.get(id).exists(sameVec(_, vec)),
        s"hierarchy leaf $id does not match the index centroid " +
          "(stale hierarchy after a rebuild?) — build the " +
          "TwoLevelQuantizer over index.cents")
    }
  }

  /** SQL double equality for the two-level tie-break: NaN == NaN
    * (Spark's total order), unlike the JVM. Shared with
    * [[graft.functions.TwoLevelRankKernel]] — one definition. */
  private[graft] def eqSqlDouble(a: Double, b: Double): Boolean =
    (java.lang.Double.isNaN(a) && java.lang.Double.isNaN(b)) || a == b

  /** Two-level (hierarchical) coarse quantizer: √K super-centroids
    * over the K leaf centroids, leaves grouped under their nearest
    * super. Exhaustive assignment is O(K·dim) per row — at √N
    * sizing of a 10B-vector corpus (K ≈ 10⁵) that is ~10⁸ flops per
    * arriving vector; routing through the hierarchy costs
    * O((√K·wProbe + K/√K·wProbe)·dim) ≈ O(√K·dim) — FAISS's IMI
    * stance. The price is approximation at super-cluster boundaries:
    * a leaf's true nearest vector may sit under an unprobed super —
    * `wProbe` is the recall/cost dial, audited (not guessed) by
    * XlQuantizerSpec's agreement floor against the exact assignment. */
  final case class TwoLevelQuantizer(
      supers: Seq[(Long, Seq[Double])],
      children: Map[Long, Seq[(Long, Seq[Double])]]) {
    def nCentroids: Int = children.valuesIterator.map(_.size).sum
  }

  /** Build the hierarchy over an existing centroid set by running the
    * deterministic [[kmeans]] ON THE CENTROIDS themselves (K rows — a
    * bounded job at any corpus size; the corpus is never read).
    * `k1 = 0` (default) sizes the super layer at ⌈√K⌉, the balance
    * point of the two routing terms. */
  def twoLevelQuantizer(cents: Seq[(Long, Seq[Double])],
                        k1: Int = 0): TwoLevelQuantizer = {
    require(cents.nonEmpty, "twoLevelQuantizer needs >= 1 centroid")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val kk1 = math.min(cents.size,
      if (k1 > 0) k1
      else math.max(1, math.ceil(math.sqrt(cents.size.toDouble)).toInt))
    val res = kmeansWithAudit(
      cents.toDF("cent_id", "cent_vec"), "cent_id", "cent_vec",
      kk1, maxIter = 5)
    val supers = res.centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }
    val asg = res.assignments
      .select(col("id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    require(asg.valuesIterator.forall(_ >= 0),
      "twoLevelQuantizer: a centroid failed super-assignment " +
        "(degenerate vector in the quantizer)")
    val children = cents.groupBy(c => asg(c._1))
      .map { case (s, cs) => (s, cs.sortBy(_._1)) }
    TwoLevelQuantizer(supers, children)
  }

  /** Nearest-leaf assignment routed through a [[TwoLevelQuantizer]]
    * behind a broadcast: per row, rank the √K supers exhaustively
    * (same score/tie semantics as the exact fold), then argmax over
    * ONLY the probed supers' leaves. Same map-only plan shape as
    * [[ivfAssignBroadcast]] — zero exchanges, zero joins, nothing in
    * the plan; deterministic (fixed scan order, explicit
    * score-desc/id-asc tie-break). Leaves under an unprobed super are
    * invisible to the row — the approximation [[twoLevelQuantizer]]
    * documents; agreement vs exact is the audit, wProbe the dial.
    * One scoped divergence from the flat forms: a vector that scores
    * null against EVERY super (dim mismatch, null element) cannot be
    * routed and gets the -1 sentinel outright, even where the flat
    * scan would still reach a degenerate zero-norm leaf (which
    * safeCosDiv scores 0.0 against anything) — the sentinel is the
    * more honest answer for a vector the quantizer cannot place. */
  /** The broadcast two-level quantizer artifact: super matrix /
    * fold-order norms, then per-super (build-order) child ids /
    * matrix / norms — children id-sorted within each super (the
    * [[twoLevelQuantizer]] contract). ONE artifact shape shared by
    * [[ivfAssignTwoLevel]] and the streaming
    * [[graft.functions.TwoLevelRankKernel]]. */
  private[graft] def broadcastTwoLevel(
      spark: org.apache.spark.sql.SparkSession, tlq: TwoLevelQuantizer)
  : org.apache.spark.broadcast.Broadcast[
      (Array[Array[Double]], Array[Double], Array[Array[Long]],
        Array[Array[Array[Double]]], Array[Array[Double]])] = {
    val superMat = tlq.supers.map(_._2.toArray).toArray
    val superNorms = superMat.map(c => math.sqrt(
      c.foldLeft(0.0d)((a, x) => a + x * x)))
    val childIds = tlq.supers.map { case (sid, _) =>
      tlq.children.getOrElse(sid, Nil).map(_._1).toArray }.toArray
    val childMat = tlq.supers.map { case (sid, _) =>
      tlq.children.getOrElse(sid, Nil).map(_._2.toArray).toArray }.toArray
    val childNorms = childMat.map(_.map(c => math.sqrt(
      c.foldLeft(0.0d)((a, x) => a + x * x))))
    spark.sparkContext.broadcast(
      (superMat, superNorms, childIds, childMat, childNorms))
  }

  def ivfAssignTwoLevel(cands: DataFrame, tlq: TwoLevelQuantizer,
                        wProbe: Int = 2): DataFrame = {
    require(wProbe >= 1 && wProbe <= tlq.supers.size,
      s"wProbe=$wProbe out of range [1, ${tlq.supers.size}]")
    val spark = cands.sparkSession
    val bc = broadcastTwoLevel(spark, tlq)
    val vecIdx = cands.schema.fieldIndex("c_vec")
    val outSchema = cands.schema.add("cent_id",
      org.apache.spark.sql.types.LongType, nullable = false)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val w = wProbe
    cands.mapPartitions { rows =>
      val (sMat, sNorms, cIds, cMat, cNorms) = bc.value
      rows.map { r =>
        val v = r.getAs[scala.collection.Seq[Any]](vecIdx)
        // super scores once; selection = w rounds of first-max scan
        // (w is small — O(w·√K) beats sorting √K entries per row)
        val sScores = new Array[java.lang.Double](sMat.length)
        var i = 0
        while (i < sMat.length) {
          sScores(i) = centScoreOrNull(v, sMat(i), sNorms(i)); i += 1
        }
        val taken = new Array[Boolean](sMat.length)
        var bestId = -1L
        var bestS = Double.NegativeInfinity
        var haveBest = false
        var round = 0
        while (round < w) {
          var sel = -1
          var selS = Double.NegativeInfinity
          var haveSel = false
          i = 0
          while (i < sMat.length) {
            val s = sScores(i)
            if (!taken(i) && s != null &&
                (!haveSel || gtSqlDouble(s.doubleValue(), selS))) {
              sel = i; selS = s.doubleValue(); haveSel = true
            }
            i += 1
          }
          if (sel >= 0) {
            taken(sel) = true
            val ids = cIds(sel); val mat = cMat(sel); val ns = cNorms(sel)
            var j = 0
            while (j < mat.length) {
              val s = centScoreOrNull(v, mat(j), ns(j))
              if (s != null) {
                val sv = s.doubleValue()
                if (!haveBest || gtSqlDouble(sv, bestS) ||
                    (eqSqlDouble(sv, bestS) && ids(j) < bestId)) {
                  bestS = sv; bestId = ids(j); haveBest = true
                }
              }
              j += 1
            }
          }
          round += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bestId)
      }
    }(enc)
  }

  /** Row-local top-`nProbe` centroid-id ARRAY for streaming
    * consumers ([[graft.streaming.StreamingOps.semanticProbe]]
    * references rank p as `try_element_at(col, p)`): ONE native
    * codegen [[graft.functions.CentroidRanks]] kernel call —
    * row-local (no object boundary, composes with the door's single
    * stateful op), scoring the K centroids ONCE per row for all probe
    * ranks, with the matrix behind a broadcast handle instead of
    * inside the plan. Rank 1 is [[ivfAssignBroadcast]]'s assignment
    * (same scores, same SQL order, same smallest-cent_id tie-break),
    * so an arriving vector probes exactly the list a rebuild would
    * have put it in; ranks 2..n are the nProbe widening. A vector
    * the quantizer cannot place yields a SHORT array (missing ranks
    * read as NULL downstream). */
  def centroidRanks(vec: Column,
                                   cents: Seq[(Long, Seq[Double])],
                                   nProbe: Int): Column = {
    val kernel = new graft.functions.CentroidRankKernel(
      broadcastQuantizer(org.apache.spark.sql.SparkSession.active, cents))
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.CentroidRanks(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(vec),
        kernel, nProbe))
  }

  /** EXTREME-K tense of [[centroidRanks]]: the same row-local
    * top-`nProbe` centroid-id ARRAY, but routed through a
    * [[TwoLevelQuantizer]] behind a broadcast — per-arrival cost
    * O(wProbe·√K·dim) instead of the flat kernel's O(K·dim), the dial
    * a streaming door needs once √N sizing pushes K past ~10⁵. Full
    * `wProbe` is rank-for-rank identical to [[centroidRanks]] on
    * routable vectors (XlQuantizerSpec); narrow `wProbe` trades
    * recall for the √K scan, and a vector no super can score yields
    * an EMPTY array (the [[ivfAssignTwoLevel]] stance). Same plan
    * shape as the flat kernel: ONE native codegen
    * [[graft.functions.CentroidRanks]] call, still composing with
    * the door's single stateful op. */
  def centroidRanksTwoLevel(vec: Column,
                                           tlq: TwoLevelQuantizer,
                                           nProbe: Int,
                                           wProbe: Int): Column = {
    val kernel = new graft.functions.TwoLevelRankKernel(
      broadcastTwoLevel(
        org.apache.spark.sql.SparkSession.active, tlq), wProbe)
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.CentroidRanks(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(vec),
        kernel, nProbe))
  }

  /** Recall@k of an ANN result against the exact brute-force result:
    * the fraction of `exact`'s (q_id, c_id) pairs that `ann` also
    * returned. Both inputs use the top-k output shape of
    * [[bruteForceTopK]]/[[annTopKWith]]. The denominator is
    * |exact| (per-query lists may be shorter than k on a small
    * corpus), so recall is always in [0, 1]. One row out:
    * (method, n_exact, hits, recall) — approximation quality as a
    * number the harness can track, not a vibe.
    *
    * Scale: both inputs are top-k lists (|queries| * k rows), already
    * tiny relative to the corpus; one left join feeding a single
    * aggregate over those lists only.
    */
  def recallAtK(exact: DataFrame, ann: DataFrame, method: String): DataFrame = {
    // one pass over `exact`: left-join the ANN pairs onto it and count
    // matches and totals in the same aggregate (a semi-join + separate
    // count would evaluate the exact plan twice). dropDuplicates
    // enforces the 1:0-or-1 join the denominator depends on — an ANN
    // producer emitting duplicate (q_id, c_id) pairs (e.g. multi-probe
    // without dedup) would otherwise inflate n_exact AND hits and bias
    // recall toward 1 with no error.
    val hit = ann.select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id").withColumn("hit", lit(1))
    // the exact side gets the same guard: a ground-truth list built
    // from concatenated/unioned sources would otherwise double-count
    // pairs in BOTH the denominator and the hits, silently biasing
    exact.select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
      .join(hit, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("hits"))
      .select(lit(method).as("method"), col("n_exact"), col("hits"),
        when(col("n_exact") === 0L, lit(1.0d)) // vacuous recall
          .otherwise(graft.rnd(
            col("hits").cast("double") / col("n_exact").cast("double"), 4))
          .as("recall"))
  }

  /** Staged LSH index: the capped bucket table plus the `nPlanes` it
    * was hashed with — carrying the parameter in the artifact means a
    * build/query plane-count mismatch (which would silently bucket
    * queries into a different hash space and return garbage
    * neighbors) cannot be expressed. */
  /** `dropped` is the build census's over-cap bucket table — carried
    * in the index so appends can keep honouring the skew guard: a
    * bucket censored at build stays censored (its corpus rows are
    * gone, so re-admitting batch rows would resurrect it with a
    * biased fraction of its true membership). Bounded by 2^nPlanes
    * rows and in practice by the handful of degenerate buckets. */
  /** `planes` empty = the seeded pseudo-random hyperplanes derived
    * from `nPlanes` ([[lshBucket]]); non-empty = the explicit
    * caller-supplied hyperplanes ([[lshBucketWithPlanes]],
    * `nPlanes == planes.size`). Carried in the index — like
    * `nPlanes` itself — so no consumer can hash queries into a
    * different space than the build's. */
  final case class LshIndex(nPlanes: Int, buckets: DataFrame,
                            dropped: DataFrame,
                            planes: Seq[Seq[Double]] = Nil)
    extends AnnIndex {
    type Self = LshIndex
    def rows: DataFrame = buckets
    def withRows(rows: DataFrame): LshIndex = copy(buckets = rows)
    /** Vectors hashing into a bucket the BUILD census dropped are
      * excluded: re-admitting them would resurrect a censored bucket
      * holding only a biased sliver of its membership, while a
      * frozen-quantizer rebuild keeps it dropped. The cap is not
      * re-censused for surviving buckets (that needs a full-table
      * count): a bucket crossing it through appends is caught at the
      * next rebuild's census, and until then costs probe work, never
      * wrong results. */
    private[graft] def encode(cands: DataFrame): DataFrame =
      cands.withColumn("bucket", lshHash(col("c_vec"), nPlanes, planes))
        .join(broadcast(dropped), Seq("bucket"), "left_anti")
  }

  /** Bucketed-and-capped LSH corpus index, materialized once (in a
    * real deployment this is a bucketed TABLE amortized over all
    * queries): the bucket-size census and every probe join read the
    * persisted projection without re-running the nPlanes kernel.
    * Buckets larger than `bucketCap` are dropped (standard skew
    * guard — a degenerate bucket means the planes don't discriminate
    * there); the census + broadcast anti-join form avoids
    * sort-shuffling every (vector, bucket) row. */
  def lshIndex(candidates: DataFrame, idCol: String, vecCol: String,
               nPlanes: Int = 6, bucketCap: Int = 2000,
               persistIndex: Boolean = true): LshIndex =
    lshBuild(candidates, idCol, vecCol, nPlanes, Nil, bucketCap,
      persistIndex)

  /** The one LSH build both public tenses share: hash through
    * [[lshHash]] (the index's own planes, or the seeded pseudo-random
    * ones), persist, census the buckets once and broadcast-anti-join
    * the over-cap ones away. */
  private def lshBuild(candidates: DataFrame, idCol: String,
                       vecCol: String, nPlanes: Int,
                       planes: Seq[Seq[Double]], bucketCap: Int,
                       persistIndex: Boolean): LshIndex = {
    val cb = persisted(nonNullVecs(candidates, vecCol)
      .select(col(idCol).as("c_id"),
        toDouble(col(vecCol)).as("c_vec"))
      .withColumn("bucket", lshHash(col("c_vec"), nPlanes, planes)),
      persistIndex)
    val hotBuckets = cb.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > bucketCap).select("bucket")
    LshIndex(nPlanes,
      cb.join(broadcast(hotBuckets), Seq("bucket"), "left_anti"),
      hotBuckets, planes)
  }

  /** Build an [[LshIndex]] under CALLER-SUPPLIED hyperplanes — the
    * externally-trained-quantizer deployment shape on the LSH family
    * ([[ivfIndexWithCentroids]]'s stance), and what makes the whole
    * sign-bit probe oracle-expressible when the planes are an
    * id-picked corpus subset. Same census/cap semantics as
    * [[lshIndex]]; `bucketCap = Int.MaxValue` disables the skew
    * census for tenses whose oracle must be census-free (the cap's
    * behavior stays spec-covered on the pseudo-random build). */
  def lshIndexWithPlanes(candidates: DataFrame, idCol: String,
                         vecCol: String, planes: Seq[Seq[Double]],
                         bucketCap: Int = 2000,
                         persistIndex: Boolean = true): LshIndex = {
    require(planes.nonEmpty,
      "lshIndexWithPlanes needs at least one hyperplane")
    lshBuild(candidates, idCol, vecCol, planes.size, planes, bucketCap,
      persistIndex)
  }

  /** Query stage of LSH top-k against a prebuilt [[LshIndex]]:
    * queries join only candidates in the same bucket (hashed with the
    * index's own plane count), then exact cosine re-rank inside the
    * bucket. */
  def lshTopKWith(index: LshIndex, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val qb = nonNullVecs(queries, vecCol)
      .select(col(idCol).as("q_id"),
        toDouble(col(vecCol)).as("q_vec"))
      .withColumn("bucket",
        lshHash(col("q_vec"), index.nPlanes, index.planes))
    val scored = broadcast(qb).join(index.buckets, "bucket")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
  }

  /** Map-only nearest-centroid assignment with the centroid table
    * behind a broadcast ([[assignBroadcastD2]]) — the corpus is
    * scanned once and NEVER shuffled. `cents(i)` is the centroid of
    * cluster id `i`. Output: (id, v, cluster, d2).
    */
  def assignToCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                        cents: Seq[Seq[Double]]): DataFrame = {
    requireIntegralId(vecs, idCol, "assignToCentroids")
    assignBroadcastD2(nonNullVecs(vecs, vecCol)
      .select(col(idCol).cast("long").as("id"),
        toDouble(col(vecCol)).as("v")), cents)
  }

  /** The d2 (k-means) assignment over (id, v) with the centroid table
    * behind a broadcast — the shape of [[ivfAssignBroadcast]]: ONE
    * map-only `mapPartitions` projection. Contract (XlQuantizerSpec's
    * edge-case table, KMeansSpec): d2 is the index-order (x−c)² sum,
    * the fused Lloyd iterate's arithmetic; a centroid of another
    * dimension, or any centroid against a vector with a null element,
    * is skipped; strict `<` keeps the first minimum over ascending
    * cluster ids, so a NaN d2 never wins; a vector no centroid can
    * score gets (−1, Double.MaxValue). Used by [[assignToCentroids]]
    * and the [[kmeans]] final assignment. */
  private[graft] def assignBroadcastD2(v: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    require(cents.nonEmpty, "assignBroadcastD2 needs at least one centroid")
    val spark = v.sparkSession
    val bc = spark.sparkContext.broadcast(cents.map(_.toArray).toArray)
    val idIdx = v.schema.fieldIndex("id")
    val vecIdx = v.schema.fieldIndex("v")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      v.schema(idIdx), v.schema(vecIdx),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("d2",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    v.mapPartitions { rows =>
      val mat = bc.value
      rows.map { r =>
        val raw = r.getAs[scala.collection.Seq[Any]](vecIdx)
        val vec: Array[java.lang.Double] =
          if (raw == null) null
          else raw.map {
            case d: java.lang.Double => d
            case null                => null
            case o => java.lang.Double.valueOf(
              o.asInstanceOf[Number].doubleValue())
          }.toArray
        var bestC = -1L
        var bestD = Double.MaxValue
        var k = 0
        while (vec != null && k < mat.length) {
          val c = mat(k)
          if (c.length == vec.length) {
            var s = 0.0d
            var ok = true
            var i = 0
            while (ok && i < c.length) {
              val x = vec(i)
              if (x == null) ok = false
              else {
                val d = x.doubleValue() - c(i)
                s += d * d
                i += 1
              }
            }
            if (ok && s < bestD) { bestD = s; bestC = k.toLong }
          }
          k += 1
        }
        org.apache.spark.sql.Row(r.get(idIdx), r.get(vecIdx), bestC, bestD)
      }
    }(enc)
  }

  /** Per-round k-means convergence evidence: inertia (Σ d2 of the
    * round's assignment, exact decimal sum) and the max centroid
    * displacement of the round's update. */
  final case class KMeansRound(round: Int, inertia: Double, moved: Double)

  /** [[kmeans]] plus the per-round audit trail and the final centroid
    * vectors (`centroids(i)` = centroid of cluster id `i` — bounded
    * k·dim driver state, what a trained coarse quantizer needs). */
  final case class KMeansResult(assignments: DataFrame,
                                audit: Seq[KMeansRound],
                                centroids: Seq[Seq[Double]] = Nil)

  /** Lloyd's k-means over the embedding column — the curation
    * workhorse behind semantic grouping / SemDeDup-style dataset
    * pruning (cluster first, then dedup or downsample WITHIN
    * clusters). Returns one row per vector: (id, cluster, d2) where
    * d2 is the squared L2 distance to its final centroid (so inertia
    * is one aggregate away).
    *
    * Distributed shape, per round: ONE mapPartitions job over the
    * cached corpus — assignment (the same index-order argmin as
    * [[assignToCentroids]]) and the centroid-update partials fused in
    * a single pass, ZERO exchanges: each partition emits exactly one
    * (counts, micro-unit sums, rounded-d2 total) partial, merged by
    * `reduce`. This is the genuine per-partition imperative case the
    * engine reserves RDD code for — it is how MLlib's KMeans itself
    * iterates — because a Catalyst aggregate pays per-round
    * plan-analysis + stage constants that dominate wall-clock at
    * small scale and buy nothing at large scale. Driver state stays
    * O(k·dim): the centroid table, independent of corpus size.
    *
    * The final returned assignment is [[assignBroadcastD2]] under the
    * final centroids (map-only, plan-assertable).
    *
    * Seeding is deterministic farthest-first (k-center) over a
    * bounded uniform sample: the `sampleSize` smallest-xxhash64(id)
    * vectors are collected ONCE (O(sample·dim) driver memory, one
    * job) and the k seeds are picked in driver memory — plain
    * uniform seeding routinely drops all k seeds into one dense blob
    * and Lloyd's then converges to a merged/split local optimum,
    * while distributed farthest-first would pay one corpus pass per
    * seed in job overhead. A hash-uniform sample of 10k dwarfs any
    * realistic k, so seed quality matches whole-corpus seeding for
    * separated clusters.
    *
    * Determinism: no Random anywhere, and centroid sums accumulate
    * in EXACT integer micro-units (snap to 1e-6, sum as
    * DECIMAL(38,0)) — a plain double sum would vary with partition
    * merge order, drifting centroids by ulps and flipping borderline
    * assignments between runs/retries. Lineage stays flat: every
    * round re-derives from the persisted input and a freshly
    * broadcast centroid table, so no checkpointing is needed.
    */
  def kmeans(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
             maxIter: Int = 10, tol: Double = 1e-6,
             sampleSize: Int = 10000): DataFrame =
    kmeansWithAudit(vecs, idCol, vecCol, k, maxIter, tol, sampleSize)
      .assignments

  /** [[kmeans]], also returning the per-round (inertia, moved) audit
    * so convergence is a query result, not a log line. Lloyd's
    * guarantees the inertia sequence is monotone non-increasing
    * (assignment and update each only lower it); the audit makes that
    * checkable per run — up to quantization: centroid updates snap
    * to 1e-6 micro-units (the determinism trade), so each component
    * sits within 5e-7 of the exact mean and a round's inertia can
    * exceed the previous one by at most ~n_rows·dim·(5e-7)² — a
    * bound any monotonicity check must scale with (see KMeansSpec),
    * not treat as exact. */
  def kmeansWithAudit(vecs: DataFrame, idCol: String, vecCol: String,
                      k: Int, maxIter: Int = 10, tol: Double = 1e-6,
                      sampleSize: Int = 10000): KMeansResult = {
    require(k > 0, s"k must be positive, got $k")
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    requireIntegralId(vecs, idCol, "kmeans")
    val spark = vecs.sparkSession
    import spark.implicits._
    val v = nonNullVecs(vecs, vecCol)
      .select(col(idCol).cast("long").as("id"),
        toDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one job: bounded hash-uniform sample (ordered so ties and
    // reruns are stable), seeded farthest-first in driver memory
    val sample = v.withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(math.max(k, sampleSize))
      .select(col("v")).as[Seq[Double]].collect()
    require(sample.nonEmpty, "kmeans needs at least one vector")
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head)
    val dmin = Array.fill(sample.length)(Double.MaxValue)
    while (seeds.size < math.min(k, sample.length)) {
      var best = 0; var i = 0
      while (i < sample.length) {
        dmin(i) = math.min(dmin(i), d2(sample(i), seeds.last))
        if (dmin(i) > dmin(best)) best = i
        i += 1
      }
      seeds += sample(best)
    }
    // cents(i) = centroid of cluster id i
    var cents: Array[Seq[Double]] = seeds.toArray

    def assign(): DataFrame = assignBroadcastD2(v, cents.toSeq)

    // built ONCE over the persisted corpus and reused every round —
    // no per-round Catalyst planning, the rounds are plain jobs
    val sc = spark.sparkContext
    val vecRdd = v.as[(Long, Seq[Double])].rdd.map(_._2.toArray)

    // One fused assignment+update pass. Exactness contract (what makes
    // results independent of partitioning and merge order): per-element micro-unit longs
    // `floor(x*1e6 + 0.5)` summed per partition (no overflow: a
    // partition's row count × 1e7 ≪ 2^63), merged as BigInt; per-row
    // d2 rounded HALF_UP to 6 dp exactly like CAST(d2 AS
    // DECIMAL(30,6)) and summed in BigDecimal; the argmin scans
    // centroid ids in order with strict <, the [[assignBroadcastD2]]
    // tiebreak.
    def iterate(): (Array[Long], Array[Array[BigInt]],
        java.math.BigDecimal) = {
      val bc = sc.broadcast(cents.map(_.toArray))
      val out = vecRdd.mapPartitions { it =>
        val cs = bc.value
        val kk = cs.length
        val counts = new Array[Long](kk)
        var sums: Array[Array[Long]] = null
        var j = java.math.BigDecimal.ZERO
        while (it.hasNext) {
          val p = it.next()
          val dim = p.length
          if (sums == null) sums = Array.fill(kk)(new Array[Long](dim))
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < kk) {
            val cw = cs(c)
            var s = 0.0d; var d = 0
            while (d < dim) { val df = p(d) - cw(d); s += df * df; d += 1 }
            if (s < bd) { bd = s; best = c }
            c += 1
          }
          counts(best) += 1
          val row = sums(best)
          var d = 0
          while (d < dim) {
            // addExact: a pathological corpus (|x| ~1e4 over ~1e8 rows
            // in one partition) could overflow the long partial — fail
            // LOUDLY rather than hand back plausible garbage centroids
            row(d) = Math.addExact(row(d),
              math.floor(p(d) * 1000000.0d + 0.5d).toLong)
            d += 1
          }
          j = j.add(java.math.BigDecimal.valueOf(bd)
            .setScale(6, java.math.RoundingMode.HALF_UP))
        }
        if (sums == null) Iterator.empty
        else Iterator.single((counts, sums.map(_.map(BigInt(_))), j))
      }.reduce { (a, b) =>
        (a._1.zip(b._1).map { case (x, y) => x + y },
          a._2.zip(b._2).map { case (xs, ys) =>
            xs.zip(ys).map { case (x, y) => x + y } },
          a._3.add(b._3))
      }
      bc.unpersist(blocking = false)
      out
    }

    val audit = scala.collection.mutable.ArrayBuffer.empty[KMeansRound]
    var moved = Double.MaxValue
    var i = 0
    while (moved > tol && i < maxIter) {
      val (counts, sums, j) = iterate()
      val prev = cents
      // empty clusters keep their old centroid rather than vanish;
      // the centroid arithmetic mirrors the decimal form exactly:
      // exact integer sum -> nearest double -> /1e6 -> /n
      cents = Array.tabulate(cents.length) { cl =>
        if (counts(cl) == 0L) prev(cl)
        else {
          val n = counts(cl).toDouble
          sums(cl).toSeq.map(s =>
            new java.math.BigDecimal(s.bigInteger).doubleValue() /
              1000000.0d / n)
        }
      }
      moved = cents.indices.map { cl =>
        math.sqrt(cents(cl).zip(prev(cl)).map { case (a, b) =>
          (a - b) * (a - b) }.sum)
      }.max
      audit += KMeansRound(i, j.doubleValue(), moved)
      i += 1
    }
    val out = assign().select(col("id"), col("cluster"), col("d2"))
      .localCheckpoint()
    v.unpersist()
    KMeansResult(out, audit.toSeq, cents.toSeq)
  }

  /** Product-quantization codebook: the vector space is split into `m`
    * contiguous subspaces and each gets its own `ksub`-centroid
    * codebook, trained by deterministic sequential Lloyd's in DRIVER
    * memory over a bounded hash-uniform sample (`trainSize` rows —
    * the FAISS stance: codebooks train on a sample, encode the
    * corpus). Returns codebook(sub)(code) = centroid subvector.
    *
    * PQ is the storage half of billion-scale ANN (IVF+PQ): a dim-64
    * float vector (256 B) becomes m=8 4-bit-ish codes (8 B here) —
    * a 32× shrink that decides whether a 100 TB embedding corpus'
    * index fits a cluster's RAM.
    */
  def pqTrain(vecs: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, maxIter: Int = 5,
              trainSize: Int = 4096): Array[Array[Seq[Double]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // ONE distributed job: the bounded hash-uniform training sample
    // (the same deterministic sampling as kmeans seeding). Everything
    // after is driver math over O(trainSize·dim) doubles — a few MB;
    // 8 subspaces × maxIter distributed rounds would cost ~40 job
    // schedules to cluster 4096 rows, pure overhead at any scale.
    requireIntegralId(vecs, idCol, "pqTrain")
    val sample: Array[Seq[Double]] = nonNullVecs(vecs, vecCol)
      .select(col(idCol).cast("long").as("id"),
        toDouble(col(vecCol)).as("v"))
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(trainSize)
      .select(col("v")).as[Seq[Double]].collect()
    require(sample.nonEmpty, "pqTrain needs at least one vector")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { s =>
      val pts = sample.map(v =>
        v.slice(s * sub, s * sub + sub).toArray)
      lloydDriver(pts, ksub, maxIter).map(_.toSeq)
    }.toArray
  }

  /** Sequential Lloyd's over an in-memory sample: farthest-first
    * seeding + argmin/mean rounds. Deterministic by construction
    * (fixed iteration order, no Random, no partition merge order).
    * Under-full codebooks (fewer distinct points than k) pad by
    * repeating the last centroid so the code range stays dense.
    */
  private def lloydDriver(pts: Array[Array[Double]], k: Int,
                          maxIter: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seeds = scala.collection.mutable.ArrayBuffer(pts.head)
    val dmin = Array.fill(pts.length)(Double.MaxValue)
    while (seeds.size < math.min(k, pts.length)) {
      var best = 0; var i = 0
      while (i < pts.length) {
        dmin(i) = math.min(dmin(i), d2(pts(i), seeds.last))
        if (dmin(i) > dmin(best)) best = i
        i += 1
      }
      seeds += pts(best)
    }
    var cents = Array.tabulate(k)(i => seeds(math.min(i, seeds.size - 1)))
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(k, dim)(0.0d)
      val counts = Array.fill(k)(0L)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          val d = d2(p, cents(c))
          if (d < bd) { bd = d; best = c }  // strict < keeps min index
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c)))
    }
    cents
  }

  /** The trained codebook as ONE 3-level literal column
    * (m × ksub × sub) for the per-query lookup table
    * ([[pqLutExpr]]): one literal keeps the expression tree size
    * independent of m·ksub, and the LUT is built on the small
    * broadcast query side only. */
  private def codebookLit(codebook: Array[Array[Seq[Double]]]): Column =
    typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)

  /** Encode every vector into its `m` nearest-codeword ids + exact
    * norm ([[pqCodesBroadcast]]): a map-only projection with the
    * codebook behind a broadcast — the corpus is scanned once and
    * never shuffled. Output: (c_id, codes array<int>, c_norm).
    */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
               codebook: Array[Array[Seq[Double]]]): DataFrame = {
    require(codebook.nonEmpty && codebook(0).nonEmpty,
      "pqEncode: codebook must have at least one subspace with one codeword")
    pqCodesBroadcast(
      nonNullVecs(vecs, vecCol).select(col(idCol).as("c_id"),
        toDouble(col(vecCol)).as("c_vec")),
      codebook, cents = None)
  }

  /** `graft_sqdist` on the JVM over a boxed (null-preserving) slice
    * of the encode vector vs a (never-null) codeword: index-order
    * summation, boxed null on a short/overhanging slice or a null
    * element — so a degenerate slice scores no codeword and encodes
    * as `-1`. */
  private def sliceSqDistOrNull(arr: Array[java.lang.Double],
                                start: Int,
                                w: Array[Double]): java.lang.Double = {
    if (start + w.length > arr.length) return null
    var s = 0.0d
    var j = 0
    while (j < w.length) {
      val x = arr(start + j)
      if (x == null) return null
      val d = x.doubleValue() - w(j)
      s += d * d
      j += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** The PQ code array + norm with the codebook (and, for the
    * residual path, the coarse centroids) BEHIND A BROADCAST — the PQ
    * tense of [[ivfAssignBroadcast]]: nothing in the plan, one tight
    * JVM loop per row, so FAISS-sized codebooks (m=64 × ksub=256)
    * encode at JVM speed. Contract (XlQuantizerSpec's edge-case
    * table): per subspace, the index-order d2 against each codeword
    * (the `graft_sqdist` arithmetic); strict `<` keeps the smallest
    * code id on ties, so a NaN d2 never wins; a short/ragged slice or
    * a null element encodes `-1`. The residual path is `v − cent`
    * with `zip_with`'s null-padding (residual length = max of the
    * two, missing side → null element), and a missed centroid lookup
    * (cent_id = -1) is a null residual → all codes -1 — the shape
    * [[residualExpr]] gives codebook training.
    *
    * Input: any frame with `c_vec` (+ `cent_id` when `cents` is
    * given, the residual path). Output: input columns minus `c_vec`,
    * plus `codes` (array<int>) and `c_norm` (norm of the ORIGINAL
    * vector, never the residual). One map-only `mapPartitions`
    * projection — zero exchanges, zero joins, plan independent of
    * m·ksub. */
  private def pqCodesBroadcast(df: DataFrame,
      codebook: Array[Array[Seq[Double]]],
      cents: Option[Seq[(Long, Seq[Double])]]): DataFrame = {
    val spark = df.sparkSession
    val m = codebook.length
    val cb = codebook.map(_.map(_.toArray))
    val centMap: Map[Long, Array[Double]] =
      cents.map(_.map { case (id, v) => (id, v.toArray) }.toMap)
        .getOrElse(Map.empty)
    val residual = cents.isDefined
    val bc = spark.sparkContext.broadcast((cb, centMap))
    val vecIdx = df.schema.fieldIndex("c_vec")
    val centIdx = if (residual) df.schema.fieldIndex("cent_id") else -1
    val keep = df.schema.fields.zipWithIndex
      .filter(_._1.name != "c_vec").map(_._2)
    val outSchema = org.apache.spark.sql.types.StructType(
      keep.map(df.schema.fields(_)) :+
        org.apache.spark.sql.types.StructField("codes",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType,
            containsNull = false), nullable = false) :+
        org.apache.spark.sql.types.StructField("c_norm",
          org.apache.spark.sql.types.DoubleType, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      val (book, cmap) = bc.value
      rows.map { r =>
        val raw = r.getAs[scala.collection.Seq[Any]](vecIdx)
        // boxed copy of the ORIGINAL vector (null-preserving)
        val v: Array[java.lang.Double] =
          if (raw == null) null
          else raw.map {
            case d: java.lang.Double => d
            case null                => null
            case o => java.lang.Double.valueOf(
              o.asInstanceOf[Number].doubleValue())
          }.toArray
        // norm of the original vector: null vec / null element -> null
        var normV: java.lang.Double = null
        if (v != null) {
          var s = 0.0d; var ok = true; var i = 0
          while (ok && i < v.length) {
            if (v(i) == null) ok = false
            else { s += v(i).doubleValue() * v(i).doubleValue(); i += 1 }
          }
          if (ok) normV = java.lang.Double.valueOf(math.sqrt(s))
        }
        // the encode vector: raw, or the zip_with-padded residual
        val encVec: Array[java.lang.Double] =
          if (!residual) v
          else if (v == null) null
          else {
            val cid = if (r.isNullAt(centIdx)) Long.MinValue
                      else r.getLong(centIdx)
            cmap.get(cid) match {
              case None => null // element_at miss -> null residual
              case Some(c) =>
                val n = math.max(v.length, c.length)
                val out = new Array[java.lang.Double](n)
                var i = 0
                while (i < n) {
                  val x = if (i < v.length) v(i) else null
                  out(i) =
                    if (x == null || i >= c.length) null
                    else java.lang.Double.valueOf(x.doubleValue() - c(i))
                  i += 1
                }
                out
            }
          }
        val codes = new Array[Int](m)
        var s2 = 0
        while (s2 < m) {
          val words = book(s2)
          val sub = words(0).length
          var bestC = -1
          var bestD = Double.MaxValue
          if (encVec != null) {
            var ci = 0
            while (ci < words.length) {
              val d2 = sliceSqDistOrNull(encVec, s2 * sub, words(ci))
              if (d2 != null && d2.doubleValue() < bestD) {
                bestD = d2.doubleValue(); bestC = ci
              }
              ci += 1
            }
          }
          codes(s2) = bestC
          s2 += 1
        }
        val outVals = keep.map(r.get(_)).toSeq :+ codes.toSeq :+ normV
        org.apache.spark.sql.Row.fromSeq(outVals)
      }
    }(enc)
  }

  /** Per-query ADC lookup table over a double vector column:
    * lut[s][c] = dot(query_sub_s, codeword_sc) — m·ksub short dot
    * products built on the SMALL broadcast query side from the single
    * codebook literal. Shared by [[pqTopKWith]] and
    * [[ivfPqTopKWith]]. */
  private def pqLutExpr(qv: Column,
                        codebook: Array[Array[Seq[Double]]]): Column = {
    val m = codebook.length
    val sub = codebook(0)(0).length
    val cb = codebookLit(codebook)
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(element_at(cb, s + lit(1)), cw =>
        aggregate(
          zip_with(slice(qv, s * lit(sub) + lit(1), lit(sub)), cw,
            (x, y) => x * y),
          lit(0.0d), (a, x) => a + x)))
  }

  /** Staged PQ index: trained codebook + the encoded corpus,
    * persisted — at production scale the encoded corpus IS the
    * expensive artifact (32× smaller than the raw vectors), built
    * once and amortized over all queries and recall audits. */
  final case class PqIndex(codebook: Array[Array[Seq[Double]]],
                           encoded: DataFrame) extends AnnIndex {
    type Self = PqIndex
    def rows: DataFrame = encoded
    def withRows(rows: DataFrame): PqIndex = copy(encoded = rows)
    private[graft] def encode(cands: DataFrame): DataFrame =
      pqCodesBroadcast(cands, codebook, cents = None)
  }

  def pqIndex(candidates: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, maxIter: Int = 5,
              trainSize: Int = 4096,
              persistIndex: Boolean = true): PqIndex = {
    val codebook = pqTrain(candidates, idCol, vecCol, m, ksub, maxIter,
      trainSize)
    PqIndex(codebook, persisted(
      pqEncode(candidates, idCol, vecCol, codebook), persistIndex))
  }

  /** PQ asymmetric-distance (ADC) approximate top-k against a
    * prebuilt [[PqIndex]]: score each (query, candidate) pair
    * as `Σ_s LUT[s][code_s]` — the query's dot product against each
    * CODEWORD is precomputed into a per-query lookup table, so the
    * corpus-side scan does m table lookups per pair instead of a
    * dim-length dot product, over an index 32× smaller than the raw
    * vectors. The `rerank`-deep shortlist per query is then re-scored
    * exactly against the raw vectors (an equi-join on c_id touching
    * only |Q|·rerank rows) — standard two-stage ADC+rerank.
    *
    * Same output shape as [[bruteForceTopK]], so [[recallAtK]]
    * measures it directly.
    */
  def pqTopKWith(index: PqIndex, queries: DataFrame,
                 candidates: DataFrame, idCol: String, vecCol: String,
                 k: Int, rerank: Int = 32): DataFrame = {
    // k > rerank would silently truncate every result list to the
    // shortlist depth and skew any recall audit against a deeper
    // exact top-k
    require(rerank >= k,
      s"rerank ($rerank) must be >= k ($k): the exact re-scoring can " +
        "only return rows from the ADC shortlist")
    val qv = toDouble(col(vecCol))
    val q = broadcast(nonNullVecs(queries, vecCol)
      .select(col(idCol).as("q_id"),
        qv.as("q_vec"), sqrt(normSq(qv)).as("q_norm"),
        pqLutExpr(qv, index.codebook).as("lut")))
    adcShortlistRerank(
      q.join(index.encoded, col("q_id") =!= col("c_id"))
        .withColumn("adc_base", lit(0.0d)),
      candidates, idCol, vecCol, k, rerank)
  }

  /** Shared ADC tail of [[pqTopKWith]] and [[ivfPqTopKWith]]: LUT-score
    * the (query, candidate) pair frame, keep the `rerank`-deep
    * per-query shortlist, exact-rerank it against the raw vectors —
    * ONE definition so the two ANN paths cannot diverge in ranking or
    * tie-break semantics.
    * `pairs` must carry (q_id, q_vec, q_norm, lut, c_id, codes,
    * c_norm, adc_base) — `adc_base` is the score term the codes do
    * not cover: 0 for plain PQ, dot(query, centroid) for residual
    * IVFADC (dot(q, cent + r) = dot(q, cent) + Σ lut). */
  private def adcShortlistRerank(pairs: DataFrame, candidates: DataFrame,
                                 idCol: String, vecCol: String,
                                 k: Int, rerank: Int): DataFrame = {
    val adc = pairs.withColumn("approx",
      (col("adc_base") +
        aggregate(zip_with(col("codes"), col("lut"),
          (code, row) => element_at(row, code + 1)),
          lit(0.0d), (acc, x) => acc + x)) /
        (col("q_norm") * col("c_norm")))
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("c_id").asc)
    val shortlist = adc.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= rerank)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("c_id"))
    // exact rerank on the shortlist only
    val cands = nonNullVecs(candidates, vecCol)
      .select(col(idCol).as("c_id"),
        toDouble(col(vecCol)).as("c_vec"),
        sqrt(normSq(toDouble(col(vecCol)))).as("c_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(shortlist).join(cands, "c_id")
      .withColumn("cos", safeCosDiv(dot(col("q_vec"), col("c_vec")),
        col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
  }

  /** Composed IVF+PQ index — the standard billion-scale ANN layout
    * (FAISS's IVFADC): the coarse quantizer confines each query to
    * `nProbe` inverted lists, and inside those lists the scan reads PQ
    * codes (~32× smaller than raw vectors) instead of the vectors
    * themselves. Both halves are the SAME staged artifacts that back
    * [[ivfIndex]] and [[pqIndex]] — the centroid table (bounded driver
    * state) and the trained codebook — and the composed corpus table
    * (c_id, cent_id, codes, c_norm) comes from ONE map-only projection:
    * list assignment is [[ivfIndex]]'s [[ivfAssignBroadcast]], code
    * assignment [[pqEncode]]'s [[pqCodesBroadcast]], so the corpus is
    * scanned once and never shuffled at build time.
    *
    * `residual = true` (FAISS's IVFADC form) trains and encodes the
    * RESIDUAL v − centroid(v) instead of the raw vector; the score
    * decomposes exactly as dot(q, cent + r) = dot(q, cent) + dot(q, r)
    * — the probe stage contributes the first term, the LUT the second,
    * so the ADC scan shape is unchanged. Residual needs a TRAINED
    * coarse quantizer (`trainCoarse = true`) to be meaningful: with
    * hash-sampled centroids the residual has roughly TWICE the
    * variance of the raw vector (difference of two near-independent
    * corpus vectors) and the same code budget quantizes it WORSE.
    * Measured recall@3 at sf0.1 (nProbe 4/16): raw 0.43 sampled /
    * 0.48 trained; residual 0.27 sampled / 0.42 trained — residual
    * never won on this corpus, so raw codes are the DEFAULT and
    * residual stays an option for corpora with tight cluster
    * structure (where ‖v − cent‖ ≪ ‖v‖ actually holds).
    * `residual = false` keeps raw-vector codes, byte-identical to
    * [[pqEncode]] over the same codebook. */
  final case class IvfPqIndex(cents: Seq[(Long, Seq[Double])],
                              codebook: Array[Array[Seq[Double]]],
                              encoded: DataFrame,
                              residual: Boolean) extends AnnIndex {
    type Self = IvfPqIndex
    def rows: DataFrame = encoded
    def withRows(rows: DataFrame): IvfPqIndex = copy(encoded = rows)
    private[graft] def encode(cands: DataFrame): DataFrame =
      ivfPqEncodeAssigned(ivfAssignBroadcast(cands, cents), cents,
        codebook, residual)
  }

  /** The assigned centroid's vector, looked up from the bounded
    * centroid table as ONE map literal — stays inside the map-only
    * build projection. */
  private def centVecExpr(cents: Seq[(Long, Seq[Double])]): Column =
    element_at(typedLit(cents.toMap), col("cent_id"))

  def ivfPqIndex(candidates: DataFrame, idCol: String, vecCol: String,
                 nCentroids: Int = 16, m: Int = 8, ksub: Int = 16,
                 maxIter: Int = 5, trainSize: Int = 4096,
                 residual: Boolean = false,
                 trainCoarse: Boolean = false,
                 persistIndex: Boolean = true): IvfPqIndex = {
    // the inner IVF assignment stays unpersisted: its single consumer
    // is the composed projection below, which is what gets persisted
    val ivf = ivfIndex(candidates, idCol, vecCol, nCentroids,
      persistIndex = false, trainCoarse = trainCoarse)
    // codebook trains on what it will encode (FAISS stance): the
    // residual frame embeds the assignment lineage, so the training
    // sample is one bounded job over that projection. The residual
    // expression is the ONE shared definition [[residualExpr]] —
    // training and encoding can never diverge on what a residual is.
    val codebook =
      if (residual)
        pqTrain(ivf.assigned.select(col("c_id"),
            residualExpr(ivf.cents).as("r")),
          "c_id", "r", m, ksub, maxIter, trainSize)
      else
        pqTrain(candidates, idCol, vecCol, m, ksub, maxIter, trainSize)
    // codes + exact corpus norm ride one projection: one corpus scan
    IvfPqIndex(ivf.cents, codebook, persisted(ivfPqEncodeAssigned(
      ivf.assigned, ivf.cents, codebook, residual), persistIndex), residual)
  }

  /** The IVF+PQ encode projection over an ALREADY-ASSIGNED frame —
    * ONE definition shared by [[ivfPqIndex]] (build) and
    * [[IvfPqIndex]]'s encode (append), so appended codes
    * are byte-identical to what a rebuild with the same quantizers
    * would produce. */
  private[graft] def ivfPqEncodeAssigned(assigned: DataFrame,
                                  cents: Seq[(Long, Seq[Double])],
                                  codebook: Array[Array[Seq[Double]]],
                                  residual: Boolean): DataFrame = {
    require(codebook.nonEmpty && codebook(0).nonEmpty,
      "ivfPqEncodeAssigned: codebook must have at least one subspace " +
        "with one codeword")
    pqCodesBroadcast(
      assigned.select(col("c_id"), col("cent_id"), col("c_vec")),
      codebook, cents = if (residual) Some(cents) else None)
  }

  /** v − cent(cent_id): THE residual definition, shared by codebook
    * training and (append-)encoding so the two cannot diverge. */
  private def residualExpr(cents: Seq[(Long, Seq[Double])]): Column =
    zip_with(col("c_vec"), centVecExpr(cents), (x, c) => x - c)

  /** Query stage of IVF+PQ: coarse-probe the `nProbe` nearest centroid
    * lists ([[centroidRanks]] — one kernel call per query plus an
    * explode, the [[ivfTopKWith]] probe order; an unplaceable query
    * probes nothing), ADC-score ONLY the probed lists via an
    * equi-join on cent_id with the probe side broadcast (the encoded
    * corpus is never exchanged), then exact-rerank the `rerank`-deep
    * shortlist against the raw vectors (an equi-join touching
    * |Q|·rerank rows). The residual decomposition's base term
    * `dot(q, cent)` is re-attached by a broadcast equi-join against
    * the (small) centroid table. `nProbe` past K probes every list.
    * Same output shape as [[bruteForceTopK]], so [[recallAtK]]
    * measures it directly. */
  def ivfPqTopKWith(index: IvfPqIndex, queries: DataFrame,
                    candidates: DataFrame, idCol: String, vecCol: String,
                    k: Int, nProbe: Int = 2, rerank: Int = 32): DataFrame = {
    require(rerank >= k,
      s"rerank ($rerank) must be >= k ($k): the exact re-scoring can " +
        "only return rows from the ADC shortlist")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val np = math.min(nProbe, index.cents.size)
    val spark = queries.sparkSession
    import spark.implicits._
    val qv = toDouble(col(vecCol))
    val exploded = nonNullVecs(queries, vecCol)
      .select(col(idCol).as("q_id"), qv.as("q_vec"),
        sqrt(normSq(qv)).as("q_norm"),
        pqLutExpr(qv, index.codebook).as("lut"))
      .withColumn("graft_cents",
        centroidRanks(col("q_vec"), index.cents, np))
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("lut"),
        explode(col("graft_cents")).as("cent_id"))
    // the raw dot(q, cent) is the residual decomposition's base term
    // (0 when the index holds raw-vector codes)
    val probes =
      if (index.residual)
        exploded.join(
            broadcast(index.cents.toDF("cent_id", "cent_vec")), "cent_id")
          .withColumn("adc_base", dot(col("q_vec"), col("cent_vec")))
          .drop("cent_vec")
      else exploded.withColumn("adc_base", lit(0.0d))
    adcShortlistRerank(
      broadcast(probes.select(col("q_id"), col("q_vec"), col("q_norm"),
          col("lut"), col("cent_id"), col("adc_base")))
        .join(index.encoded, "cent_id")
        .filter(col("q_id") =!= col("c_id")),
      candidates, idCol, vecCol, k, rerank)
  }

  // ------------------------------------------------------------------
  // The ANN lifecycle, written once over [[AnnIndex]]: every step edits
  // the id-keyed row table and leaves the FROZEN quantizer (centroids /
  // planes and census / codebook) untouched.
  //
  // APPEND is the embedding twin of Dedup.appendToBandedIndex: fold a
  // batch of newly admitted vectors in WITHOUT touching the corpus or
  // re-training any quantizer. The batch goes through the family's
  // own encode, so the appended rows are row-identical to what a
  // rebuild holding the same quantizers over (corpus ∪ batch) would
  // produce — spec-asserted per family. Cost is a map-only projection
  // over the batch + a NARROW union (plus a batch-sized id dedup); in
  // production each is a partitioned INSERT into the index table.
  // Quantizer DRIFT is the deliberate trade: appended data shifts the
  // distribution the quantizers were trained on, so a real ingest loop
  // appends between periodic re-train/rebuild cycles
  // (IndexMaintenance.maintainAnnIndex), with q_sim_ann_recall as the
  // drift alarm.
  //
  // DELETE is the takedown twin (and the dense-side counterpart of
  // Retrieval.deleteFromPostingsIndexTable): a taken-down document must
  // never be retrieved through the EMBEDDING space either (a hybrid
  // probe fusing a lexical and a dense list must not resurface a victim
  // through the list that forgot to delete it). ANN state has no global
  // statistics, so a victim is just its own id-keyed rows, and delete
  // == a rebuild holding the same quantizers over the survivors, row
  // for row. A centroid or bucket whose last member leaves goes empty;
  // LSH's census is NOT revisited (the next rebuild re-censuses).
  //
  // RESTRICT keeps only allowed ids in the SERVING set — the dense-space
  // twin of Retrieval.restrictToDocs (filtered retrieval must constrain
  // BOTH spaces of a hybrid funnel, or the allowlist leaks through the
  // list that skipped it). The restriction lives INSIDE the ranking (a
  // disallowed vector never occupies a rank — filtering a truncated
  // list instead loses every allowed vector below the cut), so restrict
  // == a same-quantizer build over the subset, row for row. The PQ
  // families' exact rerank joins raw vectors DOWN to the (already
  // restricted) shortlist ids, so restricting the code table alone
  // restricts the whole probe.
  //
  // REPLAY: the probes rank with row_number, so a duplicated c_id would
  // occupy two ranks of a top-k list and displace a true neighbor. An
  // append therefore dedups WITHIN the batch on id (batch-sized, the
  // appendToDigestIndex stance); CROSS-RUN replay protection is the
  // caller's exactly-once contract — gate the append on foreachBatch's
  // batchId, the standard idempotent-sink pattern. Delete and restrict
  // are set-semantically idempotent. In production an edited index
  // persists as a NEW VERSION through the IndexMaintenance
  // VersionedIndexStore (edit → save → publish).
  // ------------------------------------------------------------------

  /** `idCol` of `df` as the index's `c_id` key: the IVF-routed families
    * key on Long (their builds cast), LSH and PQ on the id as built —
    * so every step resolves ids in the space the index was built in. */
  private def idKey(index: AnnIndex, df: DataFrame, idCol: String,
                    op: String): Column = index match {
    case _: IvfIndex | _: IvfPqIndex =>
      requireIntegralId(df, idCol, op)
      col(idCol).cast("long").as("c_id")
    case _ => col(idCol).as("c_id")
  }

  /** The distinct ids of `df` as a one-column `c_id` frame. */
  private def idRows(index: AnnIndex, df: DataFrame, idCol: String,
                     op: String): DataFrame =
    df.select(idKey(index, df, idCol, op)).distinct()

  /** A batch of vectors as the (c_id, c_vec) rows every encode takes:
    * null vectors dropped BEFORE the id dedup (dedup-first could keep
    * a null-vector duplicate and then lose the id to the filter). */
  private def encodeInput(index: AnnIndex, vecs: DataFrame, idCol: String,
                          vecCol: String, op: String): DataFrame =
    nonNullVecs(vecs, vecCol).dropDuplicates(idCol)
      .select(idKey(index, vecs, idCol, op), toDouble(col(vecCol)).as("c_vec"))

  // a USING-column anti/semi-join reorders the join key to the front;
  // re-select the table's own column order so delete == rebuild (and
  // restrict == subset-build) is ROW-identical, not just set-equal
  // modulo projection
  private def keepColumns(rows: DataFrame, joined: DataFrame): DataFrame =
    joined.select(rows.columns.map(col).toIndexedSeq: _*)

  /** Fold new vectors into a staged index under its frozen quantizer. */
  def appendToAnnIndex(index: AnnIndex, newVecs: DataFrame, idCol: String,
                       vecCol: String): index.Self =
    index.withRows(index.rows.unionByName(index.encode(
      encodeInput(index, newVecs, idCol, vecCol, "appendToAnnIndex"))))

  /** Restrict an index's SERVING set to `allowed` ids — the one call a
    * filtered-serving path makes
    * ([[graft.streaming.StreamingOps.hybridProbe]]'s seam), whichever
    * family the deployment staged. */
  def restrictAnnToIds(index: AnnIndex, allowed: DataFrame,
                       idCol: String): index.Self =
    index.withRows(keepColumns(index.rows, index.rows.join(
      idRows(index, allowed, idCol, "restrictAnnToIds"), Seq("c_id"),
      "left_semi")))

  /** Remove ids from a staged index. */
  def deleteFromAnnIndex(index: AnnIndex, ids: DataFrame,
                         idCol: String): index.Self =
    index.withRows(keepColumns(index.rows, index.rows.join(
      idRows(index, ids, idCol, "deleteFromAnnIndex"), Seq("c_id"),
      "left_anti")))

  /** Rows a staged ANN index still holds per requested id — the
    * dense-side erasure counter behind
    * [[Retrieval.takedownAuditAll]]: 0 after a [[deleteFromAnnIndex]]
    * (ANN deletes are physical removals from the id-keyed table — no
    * tombstone state), 1 for a live indexed vector, 0 for an id that
    * never entered the index (NULL embedding, census-dropped LSH
    * bucket, unknown id). Victim-bounded: the request set joins INTO
    * the table before any aggregation, so the cost is the victims' own
    * rows, never a corpus pass — and on a cent_id/bucket-bucketed table
    * the join keys on the id column exactly as the delete did. Output:
    * (doc, rows_held), one row per distinct requested id. */
  def annRowsHeld(index: AnnIndex, ids: DataFrame,
                  idCol: String): DataFrame = {
    val req = idRows(index, ids, idCol, "annRowsHeld")
      .withColumnRenamed("c_id", "doc")
    val held = index.rows.select(col("c_id").as("doc"))
      .join(req, "doc")
      .groupBy("doc").agg(count(lit(1)).as("rows_held"))
    req.join(held, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("rows_held"), lit(0L)).as("rows_held"))
  }

  /** Family-dispatching top-k probe: one entry point over the four
    * staged families, returning the shared (q_id, rank, c_id, cos)
    * shape. `nProbe` applies to the IVF-routed families (LSH/PQ scan
    * their own structures); `rerankVecs` is the raw-vector frame the
    * PQ families' exact-rerank stage reads (REQUIRED for PQ/IVFPQ —
    * in production the id-bucketed embeddings table — ignored by
    * IVF/LSH, whose indexes hold the raw vectors already); its id/vec
    * columns must be named `idCol`/`vecCol` like the queries'.
    * `rerankDepth` is the ADC shortlist depth, floored at k so a deep
    * hybrid overfetch cannot trip the rerank >= k contract. */
  def annTopKWith(index: AnnIndex, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nProbe: Int = 2,
                  rerankVecs: Option[DataFrame] = None,
                  rerankDepth: Int = 32): DataFrame = {
    def vecs(fam: String): DataFrame = rerankVecs.getOrElse(
      throw new IllegalArgumentException(
        s"annTopKWith($fam) needs rerankVecs: the ADC shortlist is " +
          "re-scored exactly against raw vectors, which a PQ-coded " +
          "index does not hold"))
    val depth = math.max(rerankDepth, k)
    index match {
      case ix: IvfIndex => ivfTopKWith(ix, queries, idCol, vecCol, k,
        nProbe)
      case ix: LshIndex => lshTopKWith(ix, queries, idCol, vecCol, k)
      case ix: PqIndex => pqTopKWith(ix, queries, vecs("PqIndex"),
        idCol, vecCol, k, depth)
      case ix: IvfPqIndex => ivfPqTopKWith(ix, queries,
        vecs("IvfPqIndex"), idCol, vecCol, k, nProbe, depth)
    }
  }

  // ------------------------------------------------------------------
  // The TABLE tense of the IVF index (round 14) — the production form
  // the scaladocs have been promising ("in production `assigned`
  // materializes as a table bucketed by cent_id"), now real, on the
  // postings-table pattern (Retrieval.scala's layout comment):
  //   <prefix>_cents      (cent_id, cent_vec)   the frozen coarse
  //                       quantizer — K·dim rows, the bounded driver
  //                       artifact every load re-collects (the
  //                       IvfIndex.cents stance)
  //   <prefix>_assigned   (c_id, c_vec, cent_id) PARTITIONED by
  //                       (batch_id, cent_id) and bucketed+sorted by
  //                       c_id. cent_id as a directory level is the
  //                       100 TB win the in-memory form cannot give:
  //                       a probe touches nProbe lists, and partition
  //                       pruning (static for literal list filters,
  //                       DYNAMIC via the broadcast probe join's DPP
  //                       subquery) drops every other list's files
  //                       before any IO. c_id bucketing makes the
  //                       tombstone anti-join and the erasure audit
  //                       zero-exchange on the corpus side. batch_id
  //                       in front is the gated-append replay layout.
  //   <prefix>_tombstones (c_id) bucketed by c_id — deletes are
  //                       APPENDS here too (a takedown cannot rewrite
  //                       a 100 TB list synchronously); loads
  //                       anti-join them out of serving instantly,
  //                       compaction erases physically.
  // Append == rebuild holds verbatim (assignment under the FROZEN
  // cents table is per-row), delete == survivors-rebuild at the probe
  // level, single-writer cadence as everywhere. LSH/PQ/IVFPQ follow
  // the same pattern (bucket/c_id-keyed tables + their frozen
  // quantizer artifacts); IVF ships first because it is the family
  // the streaming door and the hybrid funnel actually probe.
  // ------------------------------------------------------------------

  private def ivfCentsTable(prefix: String) = prefix + "_cents"
  private def ivfAssignedTable(prefix: String) = prefix + "_assigned"
  private def ivfTombTable(prefix: String) = prefix + "_tombstones"

  /** The assigned table's place in the shared staged-table lifecycle:
    * cent_id follows batch_id as a directory level, so a probe prunes
    * to its own lists. */
  private def ivfLayout(prefix: String) = StagedTables.Layout(
    ivfAssignedTable(prefix), "c_id", Seq("batch_id", "cent_id"),
    Some(ivfTombTable(prefix)))

  /** Every table an IVF-table prefix owns — the one cleanup/refresh
    * enumeration (the [[graft.operators.Retrieval.indexTableNames]]
    * stance). */
  def ivfIndexTableNames(prefix: String): Seq[String] =
    Seq(ivfCentsTable(prefix), ivfAssignedTable(prefix),
      ivfTombTable(prefix))

  /** Materialize a staged [[IvfIndex]] as the tables above. `buckets`
    * sizes the c_id layout like a shuffle partition count at full
    * corpus scale; the cent_id directory fan-out is the index's own
    * K (size it with [[suggestedNCentroids]] like the in-memory
    * build). */
  def createIvfIndexTable(index: IvfIndex, prefix: String,
                          buckets: Int): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // three DIFFERENT tables (driver-seq cents, the assigned corpus,
    // the empty tombstone seed) — independent writes, overlapped from
    // the driver (guide §2.6, the createPostingsIndexTable stance).
    // CONCURRENCY CONTRACT (learned the hard way in r17): thunks run
    // in parallel must not SHARE an uncached logical subtree — two
    // concurrently-optimized plans over the same expression instances
    // let ConvertToLocalRelation evaluate shared interpreted
    // higher-order lambdas driver-side on two threads at once
    // (instance-held lambda slots → torn rows when the input is a
    // LocalRelation, the spec-fixture case). Hence the tombstone seed
    // is a FRESH empty frame with the assigned schema, never
    // `assigned.limit(0)`.
    val tombSeed = Concurrent.emptyLike(
      index.assigned.select(col("c_id")))
      .withColumn("batch_id", lit(StagedTables.BasePartition))
    Concurrent.inParallel(Seq(
      () => index.cents.toDF("cent_id", "cent_vec").write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(ivfCentsTable(prefix)),
      () => graft.sources.BucketedTables.writeBucketed(
        index.assigned.select("c_id", "c_vec", "cent_id")
          .withColumn("batch_id", lit(StagedTables.BasePartition)),
        ivfAssignedTable(prefix), buckets, Seq("c_id"),
        partitionCols = Seq("batch_id", "cent_id")),
      () => graft.sources.BucketedTables.writeBucketed(
        tombSeed, ivfTombTable(prefix), buckets, Seq("c_id"),
        partitionCols = Seq("batch_id"))))
    ()
  }

  /** The staged coarse quantizer, re-collected (K·dim doubles — the
    * bounded driver artifact, sorted by cent_id like every build). */
  def loadIvfCents(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): Seq[(Long, Seq[Double])] =
    centsOf(spark.table(ivfCentsTable(prefix)))

  /** A (cent_id, cent_vec) table as the driver-side centroid list,
    * sorted by cent_id — the one reader of every stored quantizer. */
  private[graft] def centsOf(df: DataFrame): Seq[(Long, Seq[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("cent_id", "cent_vec")
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
  }

  /** An [[IvfIndex]] view over the staged tables — probe with
    * [[ivfTopKWith]] / feed [[graft.streaming.StreamingOps.semanticProbe]]
    * unchanged (one probe definition for all tenses). Deletes surface
    * as the c_id-bucketed tombstone anti-join (zero-exchange), the
    * loadPostingsIndex stance; cross-session readers need the
    * refreshTable contract. */
  def loadIvfIndexTable(spark: org.apache.spark.sql.SparkSession,
                        prefix: String): IvfIndex = {
    val rows = spark.table(ivfAssignedTable(prefix))
      .select("c_id", "c_vec", "cent_id")
    val assigned =
      if (spark.catalog.tableExists(ivfTombTable(prefix)))
        rows.join(spark.table(ivfTombTable(prefix)).select("c_id"),
          Seq("c_id"), "left_anti")
      else rows
    IvfIndex(loadIvfCents(spark, prefix), assigned)
  }

  /** The table tense of [[appendToAnnIndex]]: encode the admitted
    * batch under the staged FROZEN quantizer (map-only) and hash it
    * into the existing layout — batch-sized shuffle, corpus rows
    * never read or rewritten. `batchId` makes the append idempotent
    * per foreachBatch id; a batch holding a pending-delete id fails
    * (the [[StagedTables]] replay and clash contract). */
  def appendToIvfIndexTable(batch: DataFrame, idCol: String,
                            vecCol: String, prefix: String,
                            buckets: Int,
                            batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    requireIntegralId(batch, idCol, "appendToIvfIndexTable")
    StagedTables.append(spark, ivfLayout(prefix), buckets, batchId,
      batch.select(col(idCol).cast("long").as("c_id")),
      "maintainIvfIndexTable") {
      val ix = loadIvfIndexTable(spark, prefix)
      ix.encode(encodeInput(ix, batch, idCol, vecCol,
        "appendToIvfIndexTable"))
    }
  }

  /** The table tense of [[deleteFromAnnIndex]] — a takedown is an
    * APPEND of c_id tombstones, never a rewrite of the cent_id-
    * partitioned corpus; serving stops at the next
    * [[loadIvfIndexTable]] and the bytes leave at the next compaction
    * ([[StagedTables.delete]]). Returns ids actually deleted. */
  def deleteFromIvfIndexTable(spark: org.apache.spark.sql.SparkSession,
                              ids: DataFrame, idCol: String,
                              prefix: String, buckets: Int,
                              batchId: Option[Long] = None): Long = {
    requireIntegralId(ids, idCol, "deleteFromIvfIndexTable")
    StagedTables.delete(spark, ivfLayout(prefix), buckets, batchId,
      ids.select(col(idCol).cast("long").as("c_id")))
  }

  /** Apply pending tombstones physically and collapse batch
    * attribution into the base partition — content thereafter equals
    * a fresh [[createIvfIndexTable]] over the survivors under the
    * same frozen quantizer. Single-writer maintenance cadence. */
  def compactIvfIndexTable(spark: org.apache.spark.sql.SparkSession,
                           prefix: String, buckets: Int): Unit =
    StagedTables.compact(spark, ivfLayout(prefix), buckets)

  /** Audit-gated tense of [[compactIvfIndexTable]]
    * ([[StagedTables.maintain]]): crash recovery and pending
    * tombstones first, then compact only past `maxBatchDirs` distinct
    * batch partitions. Returns true iff anything was rewritten. */
  def maintainIvfIndexTable(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, buckets: Int,
                            maxBatchDirs: Int = 2): Boolean =
    StagedTables.maintain(spark, ivfLayout(prefix), buckets, maxBatchDirs)

  // ------------------------------------------------------------------
  // The TABLE tense of the LSH index — the other family whose probe
  // key is a natural DIRECTORY level: a query probes exactly its own
  // `bucket`, so partitioning by (batch_id, bucket) gives the same
  // dynamic-partition-pruned probe as the IVF table's cent_id layout
  // (≤ 2^nPlanes directories per batch — bounded by the plane count).
  // PQ / IVF+PQ deliberately do NOT get a table tense: the ADC scan
  // reads every code row by design (no pruning key exists), the probe
  // side is broadcast (no co-location needed), and the exact-rerank
  // stage joins the RAW vector table (already a BucketedTables
  // layout) — so their staged persistence story is the
  // VersionedIndexStore, which already swap-publishes them.
  // Layout: <prefix>_meta (n_planes — the quantizer parameter, so a
  // build/query plane mismatch cannot be expressed), <prefix>_buckets
  // partitioned (batch_id, bucket) + bucketed by c_id,
  // <prefix>_dropped (the build census — FROZEN across appends, the
  // LshIndex encode's stance), <prefix>_tombstones c_id-bucketed.
  // ------------------------------------------------------------------

  private def lshMetaTable(prefix: String) = prefix + "_meta"
  private def lshBucketsTable(prefix: String) = prefix + "_buckets"
  private def lshDroppedTable(prefix: String) = prefix + "_dropped"
  private def lshTombTable(prefix: String) = prefix + "_tombstones"

  /** The buckets table's place in the shared staged-table lifecycle:
    * the probe's own `bucket` follows batch_id as a directory level. */
  private def lshLayout(prefix: String) = StagedTables.Layout(
    lshBucketsTable(prefix), "c_id", Seq("batch_id", "bucket"),
    Some(lshTombTable(prefix)))

  /** Every table an LSH-table prefix owns. */
  def lshIndexTableNames(prefix: String): Seq[String] =
    Seq(lshMetaTable(prefix), lshBucketsTable(prefix),
      lshDroppedTable(prefix), lshTombTable(prefix))

  /** Materialize a staged [[LshIndex]] as the tables above. */
  def createLshIndexTable(index: LshIndex, prefix: String,
                          buckets: Int): Unit = {
    // four DIFFERENT tables — independent writes, overlapped from the
    // driver (guide §2.6, the createPostingsIndexTable stance), under
    // createIvfIndexTable's concurrency contract: `dropped` and
    // `buckets` can share the (possibly uncached) index subtree, so
    // they write from ONE thread; the tombstone seed is a fresh empty
    // frame, never `buckets.limit(0)`.
    val tombSeed = Concurrent.emptyLike(
      index.buckets.select(col("c_id")))
      .withColumn("batch_id", lit(StagedTables.BasePartition))
    Concurrent.inParallel(Seq(
      () => lshMetaFrame(index).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(lshMetaTable(prefix)),
      () => {
        graft.sources.BucketedTables.writeBucketed(
          index.buckets.select("c_id", "c_vec", "bucket")
            .withColumn("batch_id", lit(StagedTables.BasePartition)),
          lshBucketsTable(prefix), buckets, Seq("c_id"),
          partitionCols = Seq("batch_id", "bucket"))
        index.dropped.write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(lshDroppedTable(prefix))
      },
      () => graft.sources.BucketedTables.writeBucketed(
        tombSeed, lshTombTable(prefix), buckets, Seq("c_id"),
        partitionCols = Seq("batch_id"))))
    ()
  }

  /** An [[LshIndex]] view over the staged tables — probe with
    * [[lshTopKWith]] unchanged; the broadcast query side's bucket
    * join dynamically prunes the (batch_id, bucket) directories like
    * the IVF table's cent_id level (ScaleSpec). Deletes surface as
    * the c_id-bucketed tombstone anti-join. */
  def loadLshIndexTable(spark: org.apache.spark.sql.SparkSession,
                        prefix: String): LshIndex = {
    import spark.implicits._
    val rows = spark.table(lshBucketsTable(prefix))
      .select("c_id", "c_vec", "bucket")
    val served =
      if (spark.catalog.tableExists(lshTombTable(prefix)))
        rows.join(spark.table(lshTombTable(prefix)).select("c_id"),
          Seq("c_id"), "left_anti")
      else rows
    val (nPlanes, planes) = lshMeta(spark.table(lshMetaTable(prefix)))
    LshIndex(nPlanes, served,
      spark.table(lshDroppedTable(prefix)), planes)
  }

  /** The LSH quantizer parameters as the one-row meta table both the
    * table tense and the versioned store write: the plane count and
    * (explicit-planes tense) the hyperplanes themselves — an empty
    * array is the seeded pseudo-random planes. */
  private[graft] def lshMetaFrame(index: LshIndex): DataFrame = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    Seq((index.nPlanes, index.planes.map(_.toSeq))).toDF("n_planes", "planes")
  }

  /** The staged quantizer parameters — ONE reader shared by every load
    * so each hashes in the space the create wrote. A meta row
    * written before the explicit-planes tense existed has no `planes`
    * column; it IS a valid pseudo-random artifact, so it reads as the
    * empty list rather than failing (which would also make the
    * compliance audit misreport such a version as unloadable). */
  private[graft] def lshMeta(meta: DataFrame): (Int, Seq[Seq[Double]]) = {
    val spark = meta.sparkSession
    import spark.implicits._
    if (meta.columns.contains("planes")) {
      val (n, planes) = meta.select("n_planes", "planes")
        .as[(Int, Seq[Seq[Double]])].head()
      (n, planes)
    } else (meta.select("n_planes").as[Int].head(), Nil)
  }

  /** The table tense of [[appendToAnnIndex]] on the LSH layout: hash
    * the admitted batch under the STAGED planes, exclude
    * census-dropped buckets (the frozen census), gated idempotent
    * append under the [[StagedTables]] contract. */
  def appendToLshIndexTable(batch: DataFrame, idCol: String,
                            vecCol: String, prefix: String,
                            buckets: Int,
                            batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    StagedTables.append(spark, lshLayout(prefix), buckets, batchId,
      batch.select(col(idCol).as("c_id")), "maintainLshIndexTable") {
      val ix = loadLshIndexTable(spark, prefix)
      ix.encode(encodeInput(ix, batch, idCol, vecCol,
        "appendToLshIndexTable")).select("c_id", "c_vec", "bucket")
    }
  }

  /** The table tense of [[deleteFromAnnIndex]] on the LSH layout —
    * tombstone append
    * resolved against the live set ([[StagedTables.delete]]). */
  def deleteFromLshIndexTable(spark: org.apache.spark.sql.SparkSession,
                              ids: DataFrame, idCol: String,
                              prefix: String, buckets: Int,
                              batchId: Option[Long] = None): Long =
    StagedTables.delete(spark, lshLayout(prefix), buckets, batchId,
      ids.select(col(idCol).as("c_id")))

  /** Audit-gated maintenance — [[maintainIvfIndexTable]]'s contract
    * on the bucket layout. */
  def maintainLshIndexTable(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, buckets: Int,
                            maxBatchDirs: Int = 2): Boolean =
    StagedTables.maintain(spark, lshLayout(prefix), buckets, maxBatchDirs)
}
