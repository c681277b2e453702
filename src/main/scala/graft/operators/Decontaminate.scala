package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BloomKernels

/** Benchmark decontamination: score every training document by the
  * fraction of its distinct word n-grams that also appear in an
  * evaluation (benchmark) set — the standard guard against test-set
  * leakage into LLM training data. Documents above the threshold get
  * flagged for removal; the ratio itself is kept so the cutoff can be
  * re-tuned without recomputing the overlap.
  *
  * Scale shape: the eval side is a benchmark suite — tiny relative to
  * a 100 TB training corpus — so its distinct shingle set is
  * broadcast and the train-side probe is a map-side broadcast hash
  * join: ONE pass over the training shingles, no shuffle of the
  * corpus-sized index, then a partial+final hash aggregate per doc.
  * Hits and totals are counted in the SAME left-join aggregate (a
  * semi-join plus a separate total count would evaluate the train
  * shingle index twice).
  */
object Decontaminate {

  /** Per-train-doc contamination against the eval docs' n-grams.
    *
    * @param docs      corpus with an id and a text column
    * @param isEval    predicate marking eval/benchmark rows
    * @param n         shingle width (words)
    * @param threshold ratio at or above which a doc is flagged
    * @return (doc_id, n_shingles, n_eval_hits, contamination,
    *         contaminated) — one row per train doc that has at least
    *         one n-gram (shorter docs have no overlap surface)
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    isEval: Column, n: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    // filter BEFORE shingling so each side's predicate reaches its
    // parquet scan (the eval side then reads only benchmark row
    // groups instead of exploding the whole corpus a second time)
    val evalG = shingleSide(docs.filter(isEval), idCol, textCol, n)
      .select(col("g")).distinct()
      .withColumn("hit", lit(1))
    shingleSide(docs.filter(!isEval), idCol, textCol, n)
      .join(broadcast(evalG), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_eval_hits"))
      .withColumn("contamination",
        graft.rnd(col("n_eval_hits").cast("double") /
          col("n_shingles").cast("double"), 4))
      .withColumn("contaminated", col("contamination") >= threshold)
  }

  /** The eval-side shingle bloom: (bit words, probe count, item count).
    * `words.length * 64` is a power of two; see BloomKernels for the
    * index derivation shared with the probe expression. */
  final case class BloomModel(words: Array[Long], k: Int, nItems: Long)

  /** OR-merge a hash column into one Bloom bit array. treeAggregate
    * keeps driver state at exactly `numBits/8` bytes per merge arm —
    * independent of row count — so the build distributes like any
    * other map-combinable aggregate. */
  def buildBloom(hashes: DataFrame, hashCol: String, numBits: Int,
                 k: Int): Array[Long] = {
    require(numBits >= 64 && java.lang.Long.bitCount(numBits.toLong) == 1,
      s"numBits must be a power of two >= 64, got $numBits")
    require(k > 0, s"k must be > 0, got $k")
    hashes.select(col(hashCol)).rdd.map(_.getLong(0))
      .treeAggregate(new Array[Long](numBits >>> 6))(
        (w, h) => { BloomKernels.set(w, h, k); w },
        (a, b) => {
          var i = 0
          while (i < a.length) { a(i) |= b(i); i += 1 }
          a
        })
  }

  /** Build the eval-side shingle bloom for [[bloomContamination]].
    * Exposed separately so a benchmark suite's filter can be built
    * once and probed by many training shards. The eval side is the
    * benchmark suite — tiny next to the corpus — so its two passes
    * (exact distinct count to size m, then the build) are persisted
    * between and both bounded by eval size, never corpus size. */
  def buildShingleBloom(docs: DataFrame, idCol: String, textCol: String,
                        isEval: Column, n: Int = 3,
                        bitsPerItem: Int = 16): BloomModel = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    val evalG = shingleSide(docs.filter(isEval), idCol, textCol, n)
      .select(col("g")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nEval = evalG.count()
      val numBits = BloomKernels.pickNumBits(nEval, bitsPerItem)
      val k = BloomKernels.pickK(bitsPerItem)
      val words = buildBloom(
        evalG.select(xxhash64(col("g")).as("h")), "h", numBits, k)
      BloomModel(words, k, nEval)
    } finally evalG.unpersist(blocking = false)
  }

  /** Bloom-filter twin of [[contamination]]: same per-doc output
    * shape, but the eval shingle SET is replaced by [[BloomModel]]'s
    * bit array, and the corpus-side probe is a pure codegen map —
    * NO join at all, only the per-doc count shuffle. At 100 TB this
    * is the difference between "broadcast a multi-GB shingle set"
    * (which the exact path cannot) and "ship ~bitsPerItem bits per
    * eval shingle to every executor once".
    *
    * Bloom filters have no false negatives, so `n_bloom_hits >=
    * n_eval_hits` per doc and the flag decision can only err toward
    * over-flagging, the safe direction for decontamination; the fp
    * rate is ~0.0004 at the default 16 bits/item ([[bloomAudit]]
    * measures it on the live corpus).
    */
  def bloomContamination(docs: DataFrame, idCol: String, textCol: String,
                         isEval: Column, model: BloomModel, n: Int = 3,
                         threshold: Double = 0.5): DataFrame =
    shingleSide(docs.filter(!isEval), idCol, textCol, n)
      .withColumn("hit",
        bloomContains(xxhash64(col("g")), model.words, model.k))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
      .withColumn("contamination",
        graft.rnd(col("n_bloom_hits").cast("double") /
          col("n_shingles").cast("double"), 4))
      .withColumn("contaminated", col("contamination") >= threshold)

  /** One-pass audit of the bloom probe against the exact broadcast
    * join: every train shingle gets BOTH verdicts in the same scan,
    * then one global aggregate. `n_false_neg` must be 0 (a bloom
    * cannot miss a present key — a nonzero value means build/probe
    * hashing drifted) and `fp_permille` is the measured false-positive
    * rate over the true negatives, in exact integer permille. */
  def bloomAudit(docs: DataFrame, idCol: String, textCol: String,
                 isEval: Column, model: BloomModel,
                 n: Int = 3): DataFrame = {
    val evalG = shingleSide(docs.filter(isEval), idCol, textCol, n)
      .select(col("g")).distinct().withColumn("exact", lit(1))
    shingleSide(docs.filter(!isEval), idCol, textCol, n)
      .join(broadcast(evalG), Seq("g"), "left")
      .withColumn("bloom",
        bloomContains(xxhash64(col("g")), model.words, model.k))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("exact")).as("n_exact_hits"),
        sum(when(col("bloom"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("exact").isNotNull && !col("bloom"), 1L)
          .otherwise(0L)).as("n_false_neg"))
      .withColumn("fp_permille",
        floor(lit(1000) * (col("n_bloom_hits") - col("n_exact_hits")) /
          greatest(col("n_shingles") - col("n_exact_hits"), lit(1)))
          .cast("long"))
  }

  private def shingleSide(side: DataFrame, idCol: String,
                          textCol: String, n: Int): DataFrame =
    side.select(col(idCol).as("doc_id"),
      explode(array_distinct(
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n)))
        .as("g"))

  /** Membership probe Column against a built filter, the same index
    * derivation as the build side (TextKernelsSpec's per-element
    * oracle for [[bloomCount]]). */
  private[graft] def bloomContains(hash: Column, model: BloomModel): Column =
    bloomContains(hash, model.words, model.k)

  /** Number of elements of a string array that pass the filter — the
    * value of `size(filter(arr, x -> bloomContains(xxhash64(x))))` in
    * one native loop (`graft_bloom_count`, same probe derivation), for
    * row-local gates such as the streaming ingest door's. */
  def bloomCount(arr: Column, model: BloomModel): Column = {
    graft.functions.GraftFunctions.register(SparkSession.active)
    call_function("graft_bloom_count", arr,
      typedLit(model.words.toSeq), lit(model.k))
  }

  private def bloomContains(hash: Column, words: Array[Long],
                            k: Int): Column = {
    graft.functions.GraftFunctions.register(SparkSession.active)
    call_function("graft_bloom_contains", hash,
      typedLit(words.toSeq), lit(k))
  }
}
