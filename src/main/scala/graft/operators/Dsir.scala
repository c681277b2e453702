package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance reweighting (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw-corpus document by how much more
  * likely its hashed n-gram features are under a TARGET (clean,
  * in-domain) distribution than under the RAW distribution —
  * log w(x) = Σ_features c_x[b] · (log p_target[b] − log p_raw[b]) —
  * then keep the target-like tail. The hashing trick is the scale
  * lever: both bag-of-n-grams models live in a FIXED m-bucket feature
  * space, so model size is corpus-independent and the scoring join is
  * against an m-row table no matter how many petabytes the raw corpus
  * is.
  *
  * Scale shape: ONE corpus pass explodes unigrams+bigrams and
  * hash-aggregates them to (doc, bucket) counts (map-side combinable);
  * both models are bucket-keyed aggregates OVER THAT TABLE (the
  * target model filters it by the target flag carried through the
  * explode — no second corpus scan); the log-ratio table λ has at
  * most m rows, so the scoring join broadcasts. Per-bucket log-probs
  * are rounded ONCE into integer 1e-4 units (the LM-score stance), so
  * per-doc sums are exact BIGINT — partitioning/combine-order
  * independent, and bit-identical in the DuckDB oracle.
  *
  * Laplace (+1) smoothing over the m buckets keeps λ defined for
  * buckets absent from the target sample; buckets absent from the
  * whole corpus never reach a document, so the λ table only carries
  * observed buckets.
  */
object Dsir {

  /** Engine-portable hashed feature bucket: the leading `hexDigits`
    * hex digits of md5(gram), i.e. m = 16^hexDigits buckets. Same
    * digit-decomposition form is expressible in DuckDB (strpos over
    * the hex alphabet), so oracle queries reproduce bucket ids
    * exactly. */
  def gramBucket(gram: Column, hexDigits: Int): Column =
    conv(substring(md5(gram.cast("binary")), 1, hexDigits), 16, 10)
      .cast("long")

  /** (doc, is_target, bucket, cnt) hashed unigram+bigram counts —
    * the one corpus-sized pass both models and the scoring aggregate
    * reuse. */
  def featureCounts(docs: DataFrame, idCol: String, toks: Column,
                    isTarget: Column, hexDigits: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"), isTarget.as("is_target"),
        explode(concat(toks, TextAnalysis.bigrams(toks))).as("g"))
      .groupBy(col("doc"), col("is_target"),
        gramBucket(col("g"), hexDigits).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** λ table (bucket, lam) and totals (tq, tp) from the feature-count
    * table — shared by [[importanceWeights]] (joins λ) and [[fitModel]]
    * (collects λ dense). λ in integer 1e-4 units, each ln rounded once
    * per MODEL term, so Spark and the oracle agree bucket-by-bucket
    * and every downstream sum is exact. */
  private def lamAndTots(feats: DataFrame, m: Long): (DataFrame, DataFrame) = {
    val rawM = feats.groupBy("bucket").agg(sum("cnt").as("cq"))
    val tgtM = feats.filter(col("is_target"))
      .groupBy("bucket").agg(sum("cnt").as("cp"))
    val tots = rawM.agg(sum("cq").cast("long").as("tq")).crossJoin(
      tgtM.agg(coalesce(sum("cp"), lit(0L)).cast("long").as("tp")))
    val lam = rawM.join(tgtM, Seq("bucket"), "left")
      .crossJoin(broadcast(tots))
      .select(col("bucket"),
        (floor(log((coalesce(col("cp"), lit(0L)) + lit(1L))
            .cast("double") / (col("tp") + lit(m)).cast("double"))
          * 1e4 + 0.5).cast("long") -
         floor(log((col("cq") + lit(1L)).cast("double")
            / (col("tq") + lit(m)).cast("double"))
          * 1e4 + 0.5).cast("long")).as("lam"))
    (lam, tots)
  }

  /** (doc, n_grams, logw_micro) — the scoring aggregate over the
    * feature table joined with λ. λ is m-bounded BY DESIGN, but it
    * comes out of a join chain with no stats, so the planner assumes
    * it is big and sort-merge-joins the corpus-sized feature table
    * (measured 4.3× on 10× rows); broadcast it explicitly whenever m
    * is broadcast-sized so the corpus side never sorts or exchanges.
    * "Broadcast-sized" is derived from the session's configured
    * spark.sql.autoBroadcastJoinThreshold at ~32 B per (bucket, lam)
    * row (16 B of longs + unsafe-row/array overhead) — not a
    * hardcoded row count, so a cluster that raises or lowers the
    * threshold moves this cutoff with it. */
  private def perDocWeights(feats: DataFrame, lam: DataFrame,
                            m: Long): DataFrame = {
    // Spark's own byte-string parser (the one behind this conf), so
    // every unit suffix Spark accepts is accepted here; a leading '-'
    // ("-1" = broadcast disabled) is handled the way Spark's
    // ConfigHelpers.byteFromString does, since byteStringAsBytes
    // itself rejects negatives
    val rawThreshold = feats.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val bcBytes =
      if (rawThreshold.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(rawThreshold)
    feats.join(if (bcBytes > 0 && m <= bcBytes / 32L) broadcast(lam)
               else lam, "bucket")
      .groupBy(col("doc"))
      .agg(sum("cnt").cast("long").as("n_grams"),
        sum(col("cnt") * col("lam")).cast("long").as("logw_micro"))
  }

  /** Per-document importance weights against a target subset of the
    * same frame. Output: (doc, n_grams, logw_micro, avg_logw, keep)
    * where `logw_micro` is the exact integer Σ cnt·λ in 1e-4 units,
    * `avg_logw` its per-gram mean, and `keep` marks docs whose
    * per-gram weight exceeds the CORPUS-MEAN per-gram weight — the
    * deterministic "target-like tail" analogue of the paper's Gumbel
    * resampling. An absolute `logw > 0` cutoff would be vacuous:
    * with the target a subset of the raw corpus, smoothing shifts
    * every weight by a corpus-dependent baseline, so selection must
    * be relative to the distribution. The comparison is the exact
    * integer cross-multiplication
    * `logw_micro · Σn > Σlogw · n_grams` (no division), so
    * membership is bit-stable across engines and partitionings
    * (corpus-total × per-doc products stay within long for
    * Σ n_grams · max|logw_micro| < 2^63 — beyond that the sums
    * move to decimal, same rule as the temperature mix).
    *
    * @param isTarget  predicate marking the clean/in-domain rows that
    *                  define the target distribution (they are scored
    *                  too — a target doc with an unusual feature mix
    *                  can still score raw-like)
    * @param hexDigits feature-space size as md5 hex digits
    *                  (m = 16^hexDigits; 3 ⇒ 4096 buckets)
    */
  def importanceWeights(docs: DataFrame, idCol: String, toks: Column,
                        isTarget: Column, hexDigits: Int = 3,
                        persistCounts: Boolean = true): DataFrame = {
    require(hexDigits >= 1 && hexDigits <= 7,
      s"hexDigits must be in [1, 7], got $hexDigits")
    val m = math.pow(16, hexDigits).toLong
    val feats0 = featureCounts(docs, idCol, toks, isTarget, hexDigits)
    // feeds the raw model, the target model, and the scoring join —
    // three aggregates over one corpus shuffle (persist opt-out for
    // one-shot calls in long-lived sessions, the lshIndex stance)
    val feats =
      if (persistCounts) feats0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else feats0
    val (lam, _) = lamAndTots(feats, m)
    val perDoc0 = perDocWeights(feats, lam, m)
    // feeds the corpus-total aggregate AND the keep join — persisted
    // under the same opt-out (narrow: 3 columns, one row per doc)
    val perDoc =
      if (persistCounts) perDoc0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else perDoc0
    val corpusTot = perDoc.agg(
      sum("logw_micro").cast("long").as("tot_logw"),
      sum("n_grams").cast("long").as("tot_n"))
    perDoc.crossJoin(broadcast(corpusTot))
      .withColumn("avg_logw",
        col("logw_micro").cast("double") / (col("n_grams") * lit(1e4)))
      .withColumn("keep",
        col("logw_micro") * col("tot_n") >
          col("tot_logw") * col("n_grams"))
      .drop("tot_logw", "tot_n")
  }

  /** Collected DSIR artifact for ROW-LOCAL scoring (the door-gate /
    * deploy form): λ as a DENSE m-length array — buckets absent from
    * the training corpus hold the smoothed default
    * `round(ln(1/(tp+m))·1e4) − round(ln(1/(tq+m))·1e4)`, so an
    * arriving document with never-seen grams still gets the exact
    * smoothed model score, not a null — plus the training-corpus
    * totals that define the keep threshold. Driver state is m longs
    * (the PQ-codebook / bloom-bit-array stance), corpus-size
    * independent. */
  case class DsirModel(hexDigits: Int, lambda: Seq[Long],
                       totLogw: Long, totN: Long) {
    require(lambda.length == math.pow(16, hexDigits).toLong,
      s"dense lambda must have 16^$hexDigits entries, got ${lambda.length}")
  }

  /** Train the [[DsirModel]]: same pipeline as [[importanceWeights]]
    * (one corpus pass to hashed feature counts, bucket-keyed models,
    * exact integer λ), collected into the dense deployable artifact.
    * Two bounded driver collects: ≤ m λ rows and the 1-row totals. */
  def fitModel(docs: DataFrame, idCol: String, toks: Column,
               isTarget: Column, hexDigits: Int = 3): DsirModel = {
    require(hexDigits >= 1 && hexDigits <= 5,
      s"dense model needs hexDigits in [1, 5] (16^5 = 1M buckets of " +
        s"driver state), got $hexDigits")
    val m = math.pow(16, hexDigits).toLong
    val feats = featureCounts(docs, idCol, toks, isTarget, hexDigits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (lam, tots) = lamAndTots(feats, m)
      val t = tots.head()
      val (tq, tp) = (t.getAs[Long]("tq"), t.getAs[Long]("tp"))
      // the Spark λ expression's exact arithmetic shape, driver-side:
      // one IEEE divide, one ln, one floor-form round per model term
      def term(c: Long, tot: Long): Long =
        math.floor(math.log((c + 1).toDouble / (tot + m).toDouble)
          * 1e4 + 0.5).toLong
      val dense = Array.fill[Long](m.toInt)(term(0, tp) - term(0, tq))
      lam.collect().foreach { r =>
        dense(r.getAs[Long]("bucket").toInt) = r.getAs[Long]("lam")
      }
      val pd = perDocWeights(feats, lam, m).agg(
        coalesce(sum("logw_micro"), lit(0L)).cast("long").as("tot_logw"),
        coalesce(sum("n_grams"), lit(0L)).cast("long").as("tot_n")).head()
      DsirModel(hexDigits, dense.toIndexedSeq,
        pd.getAs[Long]("tot_logw"), pd.getAs[Long]("tot_n"))
    } finally { feats.unpersist(); () }
  }

  /** Row-local DSIR score under a trained [[DsirModel]]: a struct of
    * `(n_grams, logw_micro, keep)` computed entirely within the row —
    * the dense λ array rides the plan once as a literal, decoded into
    * a long[] the native `graft_dsir_logw` kernel indexes while it
    * hashes each unigram and bigram once (the bucket is read off the
    * md5 digest, the value of [[gramBucket]] without its hex string).
    * No join, no aggregation, no state: usable identically in a batch
    * scan and a streaming micro-batch ([[
    * graft.streaming.StreamingOps.dsirAdmitAtDoor]]), with
    * bit-identical decisions — for corpus documents the score equals
    * [[importanceWeights]]'s exactly (observed buckets carry the same
    * λ; only never-trained buckets fall to the smoothed default).
    * Documents with zero grams have `logw = 0, n = 0` and are never
    * kept (`0 > 0` is false) — the conservative door stance. */
  def scoreWith(model: DsirModel, toks: Column): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val logw = call_function("graft_dsir_logw", toks,
      typedLit(model.lambda), lit(model.hexDigits))
    // unigrams + bigrams, the size of concat(toks, bigrams(toks))
    val n = (size(toks) + greatest(size(toks) - 1, lit(0))).cast("long")
    struct(n.as("n_grams"), logw.as("logw_micro"),
      (logw * lit(model.totN) > lit(model.totLogw) * n).as("keep"))
  }
}
