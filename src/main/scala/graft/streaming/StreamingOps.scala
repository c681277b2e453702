package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming semantics of the engine (SURVEY.md §2B, M4): watermarked
  * windowed aggregation, late-data-safe dedup, session windows, and the
  * reference's per-key counter (A4) as an explicitly-stateful operator.
  * All are plain `DataFrame => DataFrame` transforms usable on any
  * streaming frame (MemoryStream in tests, the ibmmq source in prod).
  *
  * Scale notes: every operator here keys its state by a high-cardinality
  * column, so state is hash-partitioned across executors; watermarks
  * bound state size (expired windows/keys are evicted by the state
  * store), which is what makes these safe on unbounded 100 TB streams.
  */
object StreamingOps {

  /** Tumbling-window counts/sums with a watermark that drops data later
    * than `lateness` (s_watermark_late). */
  def tumblingAgg(events: DataFrame, tsCol: String, valueCol: String,
                  windowLen: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("total"))
      .select(col("w.start").as("win_start"), col("cnt"), col("total"))

  /** Sliding-window counts with watermark. */
  def slidingAgg(events: DataFrame, tsCol: String, windowLen: String,
                 slide: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen, slide).as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("win_start"), col("cnt"))

  /** Session windows per key with a gap timeout. */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col(keyCol), col("w.start").as("session_start"), col("cnt"))

  /** Exactly-once-ification of the reference's at-least-once delivery:
    * drop redelivered records by envelope key, with state bounded by
    * the watermark (dropDuplicatesWithinWatermark — the streaming twin
    * of q_dedup_key). */
  def dedupByKey(records: DataFrame, tsCol: String, keyCol: String,
                 lateness: String): DataFrame =
    records
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Incremental-ingest content dedup — the streaming half of the
    * batch exact-dedup story: drop arriving documents whose
    * [[graft.operators.Dedup.exactDigest]] already exists in the
    * corpus digest index, then drop in-stream repeats with
    * digest-keyed state bounded by the watermark. Same digest on both
    * paths ⇒ batch and streaming agree on what "duplicate" means.
    *
    * Corpus side ([[CorpusProbes.digestHit]]): a row-local probe of a
    * packed snapshot of `corpusDigests` behind a broadcast. Each
    * micro-batch's planning reads the corpus's version token on the
    * driver (the file listing of a table such as the one
    * [[graft.operators.Dedup.createDigestIndexTable]] maintains, the
    * identity of a cached or checkpointed frame) and rebuilds the
    * snapshot only when it changed, so an append is seen by the next
    * batch and an unchanged corpus is never re-read
    * ([[CorpusSnapshots]]).
    */
  def dedupAgainstCorpus(stream: DataFrame, textCol: String,
                         tsCol: String, corpusDigests: DataFrame,
                         lateness: String): DataFrame =
    dedupWithinWatermark(digestProbe(stream, textCol, corpusDigests),
      tsCol, lateness, "graft_digest")
      .drop("graft_digest")

  /** Watermark-bounded key dedup that is stream/batch POLYMORPHIC:
    * on a stream, `withWatermark` + `dropDuplicatesWithinWatermark`
    * (bounded state); on a static frame — where Spark rejects the
    * within-watermark form outright — plain `dropDuplicates`, which IS
    * the batch meaning of "one survivor per key" (no event-time, so no
    * window to bound). This is what lets the door transforms run
    * unchanged as the batch curation pipeline (and inside
    * `foreachBatch`, whose batches are static frames) for parity
    * testing and backfills. Which row survives among same-key
    * duplicates is not order-guaranteed on either path. The two
    * tenses agree exactly within one watermark span; across spans the
    * batch form dedups GLOBALLY where streaming state has been
    * evicted — a backfill is a strictly stronger dedup than the live
    * run it replays, never a weaker one. */
  private def dedupWithinWatermark(df: DataFrame, tsCol: String,
                                   lateness: String,
                                   key: String): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, lateness)
        .dropDuplicatesWithinWatermark(key)
    else df.dropDuplicates(key)

  /** The STATELESS half of [[dedupAgainstCorpus]]: compute the
    * normalized digest and drop the rows the corpus snapshot holds.
    * Shared with [[ingestDoor]], which chains it in front of the
    * banded probe and spends its single-stateful-op budget once for
    * both. Leaves `graft_digest` on the frame for the caller to
    * consume or drop. */
  private def digestProbe(stream: DataFrame, textCol: String,
                          corpusDigests: DataFrame): DataFrame = {
    // the working column is graft_-prefixed and dropped on return: a
    // bare "digest" would silently overwrite a same-named user column
    // AND leak the internal digest into the output schema
    require(!stream.columns.contains("graft_digest"),
      "input stream already has a graft_digest column")
    stream
      .withColumn("graft_digest",
        graft.operators.Dedup.exactDigest(col(textCol)))
      .filter(!CorpusProbes.digestHit(col("graft_digest"), corpusDigests))
  }

  /** Near-dup dedup at the ingest door — the streaming twin of the
    * batch [[graft.operators.Dedup.hammingNearDupsBanded]] family
    * (text simhash AND binary phash: `sim` is any 64-bit fingerprint
    * expression, e.g. `Dedup.simhash64(toks)` or
    * `HashKernels.phash64(payload)`). Two stages:
    *
    * 1. **Corpus probe** ([[CorpusProbes.bandHit]]): arriving docs
    *    are checked against the banded index
    *    ([[graft.operators.Dedup.hammingBandIndex]]) packed per (band,
    *    bits) into a broadcast snapshot — one row-local kernel that
    *    looks up each of the four 16-bit bands and runs the hamming
    *    check inside. By the pigeonhole argument of the batch join, a
    *    doc within `maxHamming` <= 3 of ANY corpus doc shares at least
    *    one band verbatim, so the probe drops it with no join, no
    *    stream-side explode and no streaming aggregation — the query
    *    stays in append mode with a single stateful operator. The
    *    snapshot follows the corpus's version token
    *    ([[dedupAgainstCorpus]]'s contract): in production
    *    `corpusBands` is the table
    *    [[graft.operators.Dedup.createBandedIndexTable]] maintains, and
    *    an append is seen by the next micro-batch.
    * 2. **In-stream state**: survivors are deduped on the full 64-bit
    *    fingerprint with watermark-bounded state, dropping same-batch
    *    and cross-batch arrivals whose fingerprint is identical (the
    *    hamming-0 class: token-identical or reordered-identical
    *    content hashes to the same simhash).
    *
    * In-stream pairs at hamming 1..3 inside the watermark window are
    * NOT caught by stage 2 (a near-match is not an equality, and
    * banded state would need the disallowed second stateful op); they
    * are caught once accepted docs are folded into the banded index,
    * exactly like new digests in [[dedupAgainstCorpus]].
    */
  def nearDupAgainstCorpus(stream: DataFrame, sim: org.apache.spark.sql.Column,
                           tsCol: String, corpusBands: DataFrame,
                           lateness: String, maxHamming: Int = 3): DataFrame =
    dedupWithinWatermark(bandProbe(stream, sim, corpusBands, maxHamming),
      tsCol, lateness, "graft_sim")
      .drop("graft_sim")

  /** The STATELESS half of [[nearDupAgainstCorpus]]: compute the
    * 64-bit fingerprint and drop the rows the banded snapshot holds a
    * near neighbour of. Shared with [[ingestDoor]]. Leaves `graft_sim`
    * on the frame for the caller's stateful dedup. */
  private def bandProbe(stream: DataFrame, sim: Column,
                        corpusBands: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = graft.operators.Dedup.HammingBands
    require(maxHamming >= 0 && maxHamming <= nBands - 1,
      s"banded probe is only complete for hamming in [0, ${nBands - 1}] " +
        s"(got $maxHamming); $nBands x 16-bit bands pigeonhole exactly " +
        "that far, and a negative bound would silently disable the probe")
    require(!stream.columns.contains("graft_sim"),
      "input stream already has a graft_sim column")
    stream.withColumn("graft_sim", sim)
      .filter(!CorpusProbes.bandHit(col("graft_sim"), corpusBands,
        maxHamming))
  }

  /** Semantic (embedding) dedup at the ingest door — the streaming
    * tense of [[graft.operators.SemDedup.semDedup]]'s verdict for an
    * arrival against a FIXED corpus: an arriving vector is dropped
    * when the staged IVF index holds a cosine-near-identical corpus
    * vector in the arrival's own centroid list (SemDeDup's
    * within-cluster comparison, which is what keeps the check
    * sub-quadratic at any scale). Per probe rank p:
    *
    *  - the arrival's probe ranks are ONE ROW-LOCAL expression
    *    ([[graft.operators.Similarity.centroidRanks]] — rank 1 is
    *    bit-identical to the build's own assignment), so the stream
    *    side needs no join to find its lists;
    *  - ONE row-local kernel ([[CorpusProbes.semanticHit]]) then
    *    scans the arrival's lists in a snapshot of `index.assigned`
    *    packed per cent_id behind a broadcast, with
    *    [[graft.operators.Similarity.cosine]]'s arithmetic (the
    *    shared `DotProduct` code) and `cosine >= cosThreshold` inside
    *    — the [[nearDupAgainstCorpus]] probe shape with cent_id playing
    *    the band and cosine the hamming cutoff. The snapshot follows
    *    the corpus's version token ([[dedupAgainstCorpus]]'s
    *    contract): an append to the staged tables
    *    ([[graft.operators.Similarity.appendToIvfIndexTable]]) is seen
    *    by the next micro-batch.
    *
    * `nProbe` > 1 widens to the arrival's 2nd..n-th nearest lists
    * (the same kernel call, never a stream-side explode): strictly
    * MORE dropping, for corpora where near-identical pairs straddle a
    * centroid boundary. nProbe = 1 is the batch-parity tense (SemDeDup
    * compares within one cluster).
    *
    * Stateless — no watermark, no state: embeddings cannot key the
    * door's within-watermark dedup (float arrays are not a stable
    * state key), so in-stream semantic pairs inside one batch are NOT
    * caught here; they are caught once the index holds them
    * ([[graft.operators.Similarity.appendToIvfIndexTable]] /
    * [[graft.operators.IndexMaintenance.rebuildIvfIndex]]), exactly
    * the [[nearDupAgainstCorpus]] hamming-1..3 stance. NULL
    * embeddings pass untouched (no semantic evidence to drop on),
    * and so does an arrival the quantizer cannot place (dim
    * mismatch, null element: its rank array is short).
    *
    * Sizing: the probe's per-arrival cost is O(corpusSize /
    * index.cents.size) — size the index's coarse quantizer with
    * [[graft.operators.Similarity.suggestedNCentroids]] (√N; a
    * frozen count degrades this gate linearly in corpus growth —
    * measured 17× at 10×, docs/SCALE.md round 10). Transport:
    * [[graft.operators.Similarity.centroidRanks]] is ONE native
    * codegen [[graft.functions.CentroidRanks]] kernel call per
    * arrival at every K — all probe ranks in a single K-scan, the
    * quantizer behind a broadcast handle instead of inside the plan
    * — row-local, composing with the door's single stateful op
    * (StreamingOpsSpec: batch == stream verdicts). The
    * EXTREME-K cost axis has its own dial: the flat kernel scans all
    * K centroids per arrival, fine through ~10⁵ (√N of a 10-billion-
    * vector corpus); past that pass `hier` (a
    * [[graft.operators.Similarity.twoLevelQuantizer]] built OVER
    * `index.cents` — a bounded K-row driver job) and the ranks take
    * the [[graft.functions.TwoLevelRankKernel]]: √K supers routing
    * `wProbe`·√K leaves, per-arrival cost O(wProbe·√K·dim), same
    * single codegen call, same plan shape. Full `wProbe` is
    * rank-for-rank the flat kernel (door parity spec'd); narrow
    * `wProbe` trades boundary recall for the √K scan — an arrival
    * whose true nearest list sits under an unprobed super is NOT
    * dropped here and is caught at the next index refresh, the same
    * stance as in-batch semantic pairs.
    */
  def semanticProbe(stream: DataFrame, vecCol: String,
                    index: graft.operators.Similarity.IvfIndex,
                    cosThreshold: Double = 0.95,
                    nProbe: Int = 1,
                    hier: Option[
                      graft.operators.Similarity.TwoLevelQuantizer]
                      = None,
                    wProbe: Int = 2): DataFrame = {
    import graft.operators.Similarity
    require(nProbe >= 1 && nProbe <= index.cents.size,
      s"nProbe $nProbe out of range [1, ${index.cents.size}]")
    // count alone cannot catch the REALISTIC stale case (a rebuild
    // keeps K and reuses ids 0..K-1) — the shared guard compares the
    // leaf VECTORS (Similarity.requireHierOver, one definition with
    // the batch probe's)
    hier.foreach(tlq => Similarity.requireHierOver(tlq, index.cents))
    val v = Similarity.toDouble(col(vecCol))
    // ALL probe ranks in ONE native kernel call scoring the K
    // centroids once (a short array = an unplaceable vector: fewer or
    // no lists to probe, the row passes)
    val ranks = hier.fold(
      Similarity.centroidRanks(v, index.cents, nProbe))(tlq =>
      Similarity.centroidRanksTwoLevel(v, tlq, nProbe, wProbe))
    stream.filter(
      !CorpusProbes.semanticHit(v, ranks, index.assigned, cosThreshold))
  }

  /** BM25 retrieval at the streaming boundary — score arriving
    * queries against the staged postings TABLES
    * ([[graft.operators.Retrieval.createPostingsIndexTable]]) and
    * return each query's top-k documents.
    *
    * Tense: call from inside `foreachBatch` on the arriving query
    * micro-batch (the [[batchDrift]] stance). This is EXACT, not a
    * compromise: a BM25 score is a function of one query and the
    * corpus index alone — the aggregation runs over the query's own
    * matched postings, never across queries or batches — so scoring a
    * micro-batch is bit-identical to scoring the same queries in any
    * other grouping (one probe definition,
    * [[graft.operators.Retrieval.bm25TopKWith]], for all tenses;
    * spec-pinned). Keeping the aggregation inside foreachBatch also
    * keeps the streaming plan itself stateless: the door's single
    * stateful-op budget stays with the dedup gate.
    *
    * Plan shape ([[graft.operators.Retrieval]]'s): the query side is
    * search-sized and broadcasts; the corpus side reads the
    * term-bucketed postings table exchange-free, the [[semanticProbe]]
    * corpus-side stance — no stream-side explode beyond the arriving
    * queries' own terms. Freshness: the ingest loop appending admits
    * via [[graft.operators.Retrieval.appendToPostingsIndexTable]]
    * makes a doc admitted in batch N retrievable here in batch N+1
    * with zero corpus re-reads (this method re-resolves the tables
    * per call; same-session appends are visible immediately, another
    * session's appender needs the refreshTable contract).
    *
    * `allowedDocs`: optional serving-set restriction
    * ([[graft.operators.Retrieval.restrictToDocs]] — filtered
    * retrieval with the filter INSIDE the ranking); the frame must
    * carry the allowed ids in a column named `doc`. */
  def retrievalProbe(queries: DataFrame, qidCol: String, qToks: Column,
                     tablePrefix: String, k: Int, k1: Double = 1.2,
                     b: Double = 0.75,
                     maxDfPermille: Int = 1000,
                     allowedDocs: Option[DataFrame] = None): DataFrame = {
    require(!queries.isStreaming,
      "retrievalProbe is the foreachBatch tense: pass the micro-batch " +
        "frame (scoring aggregates over matched postings, which a " +
        "stateless streaming plan cannot express; per-batch scoring " +
        "is exact — see scaladoc)")
    val ix0 = graft.operators.Retrieval.loadPostingsIndex(
      queries.sparkSession, tablePrefix)
    val ix = allowedDocs.map(a =>
      graft.operators.Retrieval.restrictToDocs(ix0, a, "doc"))
      .getOrElse(ix0)
    graft.operators.Retrieval.bm25TopKWith(
      ix, queries, qidCol, qToks, k, k1, b, maxDfPermille)
  }

  /** The full retrieve-then-rerank funnel at the streaming boundary:
    * [[retrievalProbe]] pulls each arriving query's BM25 top-
    * `kRetrieve` candidates from the staged postings tables, then
    * [[graft.operators.Retrieval.rerankByCosine]] reorders them by
    * exact cosine between the query's OWN embedding (a column on the
    * arriving micro-batch — streams carry their vectors with them)
    * and each candidate's embedding from the id-bucketed `embTable`
    * ([[graft.sources.BucketedTables]]), truncating to the final `k`.
    *
    * Same tense contract as [[retrievalProbe]] (foreachBatch on the
    * query micro-batch) and the same exactness argument: both stages
    * are per-query functions of the query and the staged state alone,
    * so per-batch == one-shot, batch for batch (spec-pinned). Plan
    * shape: stage 1's corpus side is the term-bucketed postings scan;
    * stage 2's corpus side is the id-bucketed embeddings scan joined
    * DOWN to the candidate set — dense arithmetic over
    * ≤ |batch|·kRetrieve rows, never the corpus (the ScaleSpec funnel
    * contract). Freshness rides the ingest loop: a doc whose postings
    * AND embedding landed in batch N is retrievable and rerankable
    * here in batch N+1 with zero corpus re-reads. Output:
    * (query, rank, doc, cos), rank 1-based by (cos desc, doc asc). */
  def rerankProbe(queries: DataFrame, qidCol: String, qToks: Column,
                  qVecCol: String, tablePrefix: String,
                  embTable: String, embIdCol: String, embVecCol: String,
                  kRetrieve: Int, k: Int, k1: Double = 1.2,
                  b: Double = 0.75,
                  maxDfPermille: Int = 1000,
                  allowedDocs: Option[DataFrame] = None): DataFrame = {
    require(kRetrieve >= k,
      s"stage 1 must overfetch: kRetrieve=$kRetrieve < k=$k")
    // the allowlist constrains stage 1, and stage 2 reranks only
    // stage-1 candidates — so the funnel is filtered end to end
    val cands = retrievalProbe(queries, qidCol, qToks, tablePrefix,
      kRetrieve, k1, b, maxDfPermille, allowedDocs)
    graft.operators.Retrieval.rerankByCosine(cands,
      queries, qidCol, qVecCol,
      queries.sparkSession.table(embTable), embIdCol, embVecCol, k)
  }

  /** Hybrid retrieval at the streaming boundary: the lexical BM25
    * top-`kRetrieve` list from the staged postings tables
    * ([[retrievalProbe]]) fused with the dense ANN top-`kRetrieve`
    * list from a staged index of ANY family —
    * [[graft.operators.Similarity.AnnIndex]]: IVF (the semantic
    * door's own index, auto-dispatching to the XL broadcast kernel
    * past the literal boundary), LSH, PQ or IVF+PQ, probed through
    * [[graft.operators.Similarity.annTopKWith]] — by reciprocal-rank
    * fusion ([[graft.operators.Retrieval.rrfFuse]] — rank-only,
    * integer micro-units, no score calibration between the two
    * spaces, which is WHY RRF and not a score blend).
    *
    * Same foreachBatch tense and exactness argument as the other
    * probes: both stage-1 lists are per-query functions of the query
    * and the staged state, and fusion is a per-(query, doc) sum —
    * per-batch == one-shot, batch for batch (spec-pinned). Queries
    * with a NULL vector contribute only their lexical list (the ANN
    * probe drops them); queries whose tokens match nothing contribute
    * only their dense list — fusion over whatever lists exist is the
    * operator's semantics, not an edge case. Output: (query, rank,
    * doc, rrf_q6).
    *
    * `semRerankVecs`: the raw-vector frame the PQ families' exact
    * rerank reads (REQUIRED when `semIndex` is PQ/IVFPQ — in
    * production the id-bucketed embeddings table, columns named
    * `qidCol`/`qVecCol`; ignored for IVF/LSH). It does NOT need its
    * own allowlist restriction: the rerank joins raw vectors down to
    * shortlist ids that the restricted encoded table already
    * confined. */
  def hybridProbe(queries: DataFrame, qidCol: String, qToks: Column,
                  qVecCol: String, tablePrefix: String,
                  semIndex: graft.operators.Similarity.AnnIndex,
                  kRetrieve: Int, k: Int, rrfK: Int = 60,
                  nProbe: Int = 2, k1: Double = 1.2, b: Double = 0.75,
                  maxDfPermille: Int = 1000,
                  allowedDocs: Option[DataFrame] = None,
                  semRerankVecs: Option[DataFrame] = None): DataFrame = {
    require(kRetrieve >= k,
      s"stage 1 must overfetch: kRetrieve=$kRetrieve < k=$k")
    // an allowlist must constrain BOTH spaces: filtering only the
    // lexical list would leak disallowed docs through the dense list
    // (RRF fuses whatever its lists contain), and filtering a
    // truncated dense list post-hoc loses allowed vectors below the
    // cut — so the restriction goes INSIDE each ranking
    // (restrictToDocs on the postings view, restrictAnnToIds on the
    // family's own id-keyed table)
    val bm = retrievalProbe(queries, qidCol, qToks, tablePrefix,
        kRetrieve, k1, b, maxDfPermille, allowedDocs)
      .select(col("query"), col("rank"), col("doc"))
    val sem = allowedDocs.map(a =>
      graft.operators.Similarity.restrictAnnToIds(semIndex, a, "doc"))
      .getOrElse(semIndex)
    val dense = graft.operators.Similarity.annTopKWith(sem,
        queries, qidCol, qVecCol, kRetrieve, nProbe,
        rerankVecs = semRerankVecs, rerankDepth = kRetrieve)
      .select(col("q_id").as("query"),
        col("rank").cast("long").as("rank"), col("c_id").as("doc"))
    graft.operators.Retrieval.rrfFuse(Seq(bm, dense), k, rrfK)
  }

  /** Idempotent micro-batch landing write — the write-once half of
    * the [[BatchIdGate]] replay contract: batch N lands in the
    * `batch_id=N` partition directory, so replaying a batch after a
    * crash can never duplicate rows in the corpus. Readers take the
    * corpus root; `batch_id` surfaces as a partition column.
    *
    * A COMPLETED partition (its `_SUCCESS` marker present) is never
    * rewritten — deliberately, and not just as a fast path. A replay
    * can reach this write AFTER a crashed attempt already appended
    * the batch's rows to the ingest door's index tables; the door
    * then re-probes indexes that contain this batch's own digests/
    * fingerprints and re-derives a SMALLER (possibly empty) admit
    * set — its own arrivals look like corpus duplicates of
    * themselves. Overwriting the completed partition with that
    * re-derived set would silently DELETE admitted documents; keeping
    * the completed partition makes the first successful landing the
    * immutable truth, and the gated index appends must read the
    * LANDED partition back rather than trust a replayed in-flight
    * frame (the capstone models exactly this crash window). A partial
    * directory from a crash mid-write (no `_SUCCESS`) is overwritten
    * as before. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
                           dir: String): Unit = {
    val part = new org.apache.hadoop.fs.Path(s"$dir/batch_id=$batchId")
    val fs = part.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(part, "_SUCCESS"))) {
      // skipping the write must NOT skip executing the frame: the
      // stream's stateful operators (the door's watermarked dedup)
      // commit their state stores only when every partition of the
      // micro-batch is processed, and Spark validates exactly that
      // for foreachBatch — a short-circuit return would fail the
      // batch with STATE_STORE_COMMIT_VALIDATION_FAILED
      batch.foreach(_ => ())
      return
    }
    batch.write.mode("overwrite").parquet(part.toString)
  }

  private val PurgeSuffix = "__purging"
  private val TrashSuffix = "__purged"

  // Hadoop FileSystem reports most rename/delete failures (dest
  // exists, permissions, object-store rename quirks) by returning
  // FALSE, not throwing — and a compliance path must never report
  // rows purged when a swap silently failed, so every rename/delete
  // in the purge protocol is checked and a false SURFACES
  private def mustRename(fs: org.apache.hadoop.fs.FileSystem,
                         src: org.apache.hadoop.fs.Path,
                         dst: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(src, dst), s"purge rename failed: $src -> $dst")

  private def mustDelete(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Unit =
    require(fs.delete(p, true), s"purge delete failed: $p")

  /** Crash recovery for the purge swap protocol under `root` — run on
    * every entry BEFORE anything reads the root. Trash first: its
    * existence proves the atomic live→aside rename committed, so the
    * purged staging copy is authoritative (or, if the staging rename
    * also committed, the trash is just un-deleted garbage). A staging
    * dir with live present and no trash means the swap never started
    * — the staging may be incomplete, the live dir is authoritative. */
  private def recoverPurgeLeftovers(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    def path(name: String) = new org.apache.hadoop.fs.Path(root, name)
    fs.listStatus(root).filter(_.getPath.getName.endsWith(TrashSuffix))
      .foreach { st =>
        val base = st.getPath.getName.stripSuffix(TrashSuffix)
        val (live, staging) = (path(base), path(base + PurgeSuffix))
        if (!fs.exists(live)) {
          if (fs.exists(staging)) mustRename(fs, staging, live)
          else
            // trash present with BOTH live and staging missing is an
            // invariant violation (the protocol always writes staging
            // before the live→trash rename). The one wrong default
            // here would be restoring the trash — it is the PRE-purge
            // copy, victim rows included, and silently resurrecting a
            // takedown must fail loudly instead.
            throw new IllegalStateException(
              s"purge recovery invariant violated at ${st.getPath}: " +
                "trash present but live and staging both missing — " +
                "refusing to restore the un-purged copy; intervene " +
                "manually (the trash still holds the pre-purge rows)")
        }
        if (fs.exists(st.getPath)) mustDelete(fs, st.getPath)
      }
    fs.listStatus(root).filter(_.getPath.getName.endsWith(PurgeSuffix))
      .foreach { st =>
        val live = path(st.getPath.getName.stripSuffix(PurgeSuffix))
        if (!fs.exists(live)) mustRename(fs, st.getPath, live)
        else mustDelete(fs, st.getPath)
      }
  }

  /** Rewrite `root/batch_id=b` through the atomic-rename swap,
    * keeping only rows that survive `keep`. Returns rows removed.
    * Shared by the landing purge and the lookup hygiene pass — ONE
    * protocol definition, so the two directories cannot drift in
    * crash semantics. */
  private def swapPurgePartition(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, b: Long,
      keep: DataFrame => DataFrame): Long = {
    def path(name: String) = new org.apache.hadoop.fs.Path(root, name)
    val live = path(s"batch_id=$b")
    if (!fs.exists(live)) return 0L
    val staging = path(s"batch_id=$b$PurgeSuffix")
    val trash = path(s"batch_id=$b$TrashSuffix")
    // one scan of the live partition: count, anti-join and write all
    // read the cached rows
    val rows = spark.read.parquet(live.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val removed = try {
      val kept = keep(rows)
      val n = rows.count() - kept.count()
      kept.write.mode("overwrite").parquet(staging.toString)
      n
    } finally rows.unpersist()
    // atomic renames only — live data is never recursively deleted;
    // each step checked, so a silent false can never report rows
    // purged while the live directory still holds the victims
    mustRename(fs, live, trash)
    mustRename(fs, staging, live)
    mustDelete(fs, trash)
    removed
  }

  /** Maintain the (id → batch_id) landing LOOKUP at admit time — the
    * narrow append that lets a takedown discover its affected landing
    * partitions WITHOUT the column-pruned full scan
    * [[purgeFromLanding]] otherwise pays: call right after
    * [[writeBatchIdempotent]] with the same batch and batch id, and
    * the lookup's `batch_id=N` directory holds the batch's distinct
    * ids (one tiny column per batch; same `_SUCCESS`-gated idempotent
    * replay contract, so a replayed batch can never duplicate lookup
    * rows). Pass the lookup root as `purgeFromLanding`'s `lookupDir`
    * and the purge's discovery reads victims' own lookup rows instead
    * of scanning the landing. */
  def writeLandingLookup(batch: DataFrame, idCol: String,
                         batchId: Long, lookupDir: String): Unit =
    writeBatchIdempotent(batch.select(col(idCol)).distinct(), batchId,
      lookupDir)

  /** Purge taken-down documents from the LANDED corpus itself — the
    * final leg of the takedown: the retrieval indexes stop SERVING a
    * victim ([[graft.operators.Retrieval.deleteFromPostingsIndexTable]],
    * the ANN deletes), but a privacy/licensing removal also requires
    * the bytes to leave storage. Because [[writeBatchIdempotent]]
    * lands every micro-batch in its own `batch_id=N` directory, a
    * victim's rows live in exactly the partitions of the batches that
    * admitted it — so the REWRITE touches only those directories
    * (bounded by the victims' own batch sizes; the batch_id=N
    * partition column is directory-derived, so untouched batches
    * keep their files byte-identical). DISCOVERING the affected
    * partitions: with `lookupDir` (the [[writeLandingLookup]] table
    * the ingest loop maintains at admit time) the discovery reads
    * ONLY the victims' own lookup rows — no landing scan at all, the
    * high-cadence deployment's tool (spec-pinned equal to scan
    * discovery); without it, one column-pruned scan of the landing's
    * id column — the simpler correct tool at takedown cadence.
    *
    * Per affected partition the swap uses only ATOMIC directory
    * renames around the non-atomic operations: the filtered rows land
    * in `batch_id=N__purging`, the live directory is renamed aside to
    * `batch_id=N__purged` (atomic), the staging renamed into place
    * (atomic), and only then is the trash directory deleted. A
    * recursive delete of LIVE data never happens — the naive
    * delete-then-rename protocol has a lost-survivors window (a crash
    * mid-delete leaves live present-but-truncated, and recovery would
    * discard the only complete staging copy). Every entry recovers
    * leftovers FIRST: a trash dir means the live→aside rename
    * committed, so the staging (or, conservatively, the trash) is
    * authoritative; a staging dir with live present and no trash
    * means the swap never started — the staging is discarded and
    * re-derived. Re-purging the same ids is a no-op (their partitions
    * no longer match), so the call is idempotent. Returns the number
    * of rows removed.
    *
    * NOTE the deliberate asymmetry with the door's indexes: the
    * digest/banded tables retain the victims' SIGNATURES (hashes, not
    * content) so the taken-down bytes stay refused if they arrive
    * again — purging the landing is compatible with that, because
    * signatures are not the document. Single-writer: run from the
    * maintenance owner, never concurrently with the ingest loop's
    * landing writes. */
  def purgeFromLanding(spark: org.apache.spark.sql.SparkSession,
                       dir: String, ids: DataFrame,
                       idCol: String,
                       lookupDir: Option[String] = None): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    recoverPurgeLeftovers(fs, root)
    val lookupRoot = lookupDir.map(new org.apache.hadoop.fs.Path(_))
      .filter(fs.exists)
    lookupRoot.foreach(recoverPurgeLeftovers(fs, _))
    if (fs.listStatus(root).isEmpty) return 0L
    // victims materialize BEFORE any rewrite: the id frame may itself
    // derive from the corpus being rewritten
    val victims = ids.select(col(idCol).as("__pid")).distinct()
      .localCheckpoint(true)
    def discover(frame: DataFrame): Array[Long] = frame
      .join(victims, frame(idCol) === victims("__pid"))
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0))
    // lookup discovery reads the victims' own (id, batch_id) rows —
    // bounded by the victims, never a landing pass; scan discovery is
    // the no-lookup fallback. The lookup can only OVER-approximate
    // (hygiene-crash staleness, see below): extra partitions re-swap
    // to identical content — idempotent, never wrong.
    val affected = lookupRoot match {
      case Some(lr) => discover(spark.read.parquet(lr.toString))
      case None     => discover(spark.read.parquet(dir))
    }
    var purged = 0L
    affected.foreach { b =>
      purged += swapPurgePartition(spark, fs, root, b,
        rows => rows.join(victims,
          rows(idCol) === victims("__pid"), "left_anti"))
    }
    // lookup HYGIENE, after the landing swaps commit: drop the
    // victims' rows from the touched lookup partitions so a later
    // purge of new ids never re-discovers (and re-swaps) partitions
    // on their account, and re-purging the same ids stays a no-op
    // like the scan path. Same swap protocol, same recovery; a crash
    // between the landing swap and this pass leaves stale lookup
    // rows whose only cost is an idempotent no-op re-swap later —
    // the landing (the compliance surface) is already clean.
    lookupRoot.foreach { lr =>
      affected.foreach { b =>
        swapPurgePartition(spark, fs, lr, b,
          rows => rows.join(victims,
            rows(idCol) === victims("__pid"), "left_anti"))
      }
    }
    purged
  }

  /** Per-doc door scores for [[admitAtDoor]], exposed for parity
    * testing: quality (any BIGINT Q8 score expression, typically
    * [[graft.operators.TextAnalysis.linearModelQ8]]) plus shingle
    * count and bloom-decontamination hits. Everything is computed
    * ROW-LOCAL — the bloom bit array rides into codegen as a
    * reference object and the shingle probe is one native loop
    * (`Decontaminate.bloomCount`) over the doc's own shingle array —
    * so the gate needs no join, no aggregation, and no state: it
    * composes with any downstream stateful op and costs the same per
    * row at 100 TB/day as in a unit test. */
  def doorScores(stream: DataFrame, textCol: String, scoreQ8: Column,
                 bloom: graft.operators.Decontaminate.BloomModel,
                 shingleN: Int = 3): DataFrame = {
    Seq("graft_quality_q8", "graft_n_shingles", "graft_bloom_hits")
      .foreach(c => require(!stream.columns.contains(c),
        s"input stream already has a $c column"))
    val sh = array_distinct(graft.operators.TextAnalysis.shingles(
      graft.operators.TextAnalysis.tokens(col(textCol)), shingleN))
    stream
      .withColumn("graft_quality_q8", scoreQ8)
      .withColumn("graft_n_shingles", size(sh).cast("long"))
      .withColumn("graft_bloom_hits",
        graft.operators.Decontaminate.bloomCount(sh, bloom))
  }

  /** Quality + decontamination gate at the ingest door — the
    * streaming twin of the batch pair (q_text_quality_model,
    * bloomContamination): arriving docs are dropped when the trained
    * linear quality score falls below `minScoreQ8` OR their
    * benchmark-shingle contamination reaches `maxContamPermille`.
    * Both decisions are exact-integer (Q8 score threshold; 1000·hits
    * >= permille·shingles), so batch and stream agree bit-for-bit on
    * every admit/drop. Docs with no shingle surface (< shingleN
    * tokens) have contamination 0 and pass on quality alone, the
    * batch convention. Stateless — see [[doorScores]]. */
  def admitAtDoor(stream: DataFrame, textCol: String, scoreQ8: Column,
                  minScoreQ8: Long,
                  bloom: graft.operators.Decontaminate.BloomModel,
                  shingleN: Int = 3,
                  maxContamPermille: Long = 500L): DataFrame =
    doorScores(stream, textCol, scoreQ8, bloom, shingleN)
      .filter(col("graft_quality_q8") >= minScoreQ8 &&
        lit(1000L) * col("graft_bloom_hits") <
          lit(maxContamPermille) *
            greatest(col("graft_n_shingles"), lit(1L)))
      .drop("graft_quality_q8", "graft_n_shingles", "graft_bloom_hits")

  /** DSIR target-likeness gate at the ingest door — the fourth door
    * filter (after exact dedup, near-dup dedup, and quality /
    * decontamination): arriving docs are dropped unless their hashed
    * n-gram importance weight under the trained
    * [[graft.operators.Dsir.DsirModel]] clears the training corpus's
    * mean per-gram weight (the same exact integer
    * cross-multiplication as the batch `keep`). Entirely ROW-LOCAL —
    * the dense λ array rides into codegen as one literal, scoring is
    * a fold over the doc's own grams — so like [[admitAtDoor]] it
    * needs no join, no aggregation, and no state, and batch and
    * stream agree bit-for-bit on every admit/drop. Grams never seen
    * in training score the model's smoothed default rather than
    * diverging from the batch convention. */
  def dsirAdmitAtDoor(stream: DataFrame, textCol: String,
                      model: graft.operators.Dsir.DsirModel): DataFrame = {
    require(!stream.columns.contains("graft_dsir"),
      "input stream already has a graft_dsir column")
    stream
      .withColumn("graft_dsir", graft.operators.Dsir.scoreWith(model,
        graft.operators.TextAnalysis.tokens(col(textCol))))
      .filter(col("graft_dsir.keep"))
      .drop("graft_dsir")
  }

  /** THE ingest door: every admission gate composed into one streaming
    * transform — DSIR target-likeness, quality + bloom decontamination,
    * exact dedup against the corpus digest table, and banded near-dup
    * against the corpus fingerprint index — in cheapest-first order
    * (the text gates shed volume before the corpus probes run).
    *
    * The composition contract the per-gate operators were built to:
    *
    *  - **Column ownership**: every gate works in `graft_`-prefixed
    *    columns it requires absent on entry and drops on exit, so the
    *    output schema is exactly the input's — asserted end-to-end.
    *  - **Single-stateful-op budget**: the chain spends its one
    *    stateful operator on a fingerprint-keyed
    *    `dropDuplicatesWithinWatermark` at the END. The digest gate's
    *    own in-stream dedup is SUBSUMED by it BECAUSE the door owns
    *    the fingerprint definition ([[doorFingerprint]], over the
    *    trim-normalized text): digest equality is
    *    `lower(trim(text))` equality, which implies token equality,
    *    which implies fingerprint equality — so digest-identical
    *    arrivals (including trailing-whitespace variants) die in the
    *    same state lookup. An arbitrary caller-supplied fingerprint
    *    cannot make that guarantee, which is why there is no `sim`
    *    parameter: `corpusBands` MUST be built with
    *    [[doorFingerprint]] over the corpus text.
    *  - **Corpus sides**: the digest, band and semantic gates are
    *    row-local [[CorpusProbes]] kernels over broadcast snapshots,
    *    so the plan holds no join. Each micro-batch's planning reads
    *    the corpus version token on the driver and rebuilds a snapshot
    *    only when its corpus changed ([[CorpusSnapshots]]): an index
    *    append ([[graft.operators.Dedup.appendToBandedIndexTable]] /
    *    `appendToDigestIndexTable` / `appendToIvfIndexTable`) takes
    *    effect on the next batch, and an unchanged corpus costs no
    *    scan.
    *  - **Batch parity**: on a static frame the watermark elides and
    *    the state dedup degrades to `dropDuplicates`, so the SAME call
    *    is the batch curation pipeline's door — admit sets are equal
    *    row-for-row within any one watermark span (spec-asserted
    *    end-to-end). Across spans the two tenses differ BY DESIGN:
    *    streaming state is evicted once the watermark passes (a
    *    repeat arriving a day later is admitted again and caught by
    *    the next index refresh), while a batch backfill dedups
    *    globally — strictly stronger, which is the right direction
    *    for a backfill (it can only drop more duplicates, never admit
    *    more).
    */
  /* Known constant, deliberately kept: the gates tokenize the text
   * independently (DSIR grams and quality shingles over
   * `tokens(text)`, the fingerprint over `tokens(trim(text))`, the
   * digest over `lower(trim(text))`). Each gate is its own
   * expression with no shared token column, so the split runs
   * at least once per gate that needs tokens (the DSIR and shingle
   * kernels each read the token array once), plus whatever the
   * caller's quality model evaluates. Sharing one
   * working token column would require unifying the gates' token
   * BASES (trimmed vs raw), which changes each gate's bit-exact
   * parity with its batch twin — the contract the whole door is
   * specified against. Revisit only together with the batch
   * operators. */
  /* The optional FIFTH gate: pass `semIndex` (the staged IVF index
   * over the corpus embeddings) and the door chains [[semanticProbe]]
   * on `semVecCol` after the fingerprint probe — semantically
   * near-identical arrivals (paraphrases the text gates cannot see)
   * are dropped against the corpus, still with zero additional
   * stateful ops. Docs with a NULL embedding pass the semantic gate
   * untouched. At EXTREME K pass `semHier`/`semWProbe` to route the
   * gate's rank kernel through the two-level hierarchy
   * ([[semanticProbe]]'s `hier`). */
  def ingestDoor(stream: DataFrame, textCol: String, tsCol: String,
                 scoreQ8: Column, minScoreQ8: Long,
                 bloom: graft.operators.Decontaminate.BloomModel,
                 dsir: graft.operators.Dsir.DsirModel,
                 corpusDigests: DataFrame, corpusBands: DataFrame,
                 lateness: String,
                 maxHamming: Int = 3, shingleN: Int = 3,
                 maxContamPermille: Long = 500L,
                 semIndex: Option[graft.operators.Similarity.IvfIndex]
                   = None,
                 semVecCol: String = "embedding",
                 semCosThreshold: Double = 0.95,
                 semNProbe: Int = 1,
                 semHier: Option[
                   graft.operators.Similarity.TwoLevelQuantizer]
                   = None,
                 semWProbe: Int = 2): DataFrame = {
    val gated = admitAtDoor(
      dsirAdmitAtDoor(stream, textCol, dsir),
      textCol, scoreQ8, minScoreQ8, bloom, shingleN, maxContamPermille)
    val digested = digestProbe(gated, textCol, corpusDigests)
      .drop("graft_digest")
    val probed = bandProbe(digested,
      doorFingerprint(col(textCol)), corpusBands, maxHamming)
    val sem = semIndex.fold(probed)(ix =>
      semanticProbe(probed, semVecCol, ix, semCosThreshold, semNProbe,
        semHier, semWProbe))
    dedupWithinWatermark(sem, tsCol, lateness, "graft_sim")
      .drop("graft_sim")
  }

  /** THE door's 64-bit text fingerprint — simhash over the tokens of
    * the TRIM-normalized text. The normalization is load-bearing:
    * [[graft.operators.Dedup.exactDigest]] is `md5(lower(trim(text)))`,
    * so two digest-identical texts can differ only in case or
    * leading/trailing whitespace — both erased here too, making
    * digest equality IMPLY fingerprint equality. That implication is
    * what lets [[ingestDoor]] spend a single stateful dedup (keyed on
    * this fingerprint) for both the exact and near-dup in-stream
    * stories. Build the corpus index with THIS expression
    * (`Dedup.hammingBandIndex` over `doorFingerprint(col("text"))`),
    * or the door probes a different fingerprint space than it dedups
    * in. */
  def doorFingerprint(text: Column): Column =
    graft.operators.Dedup.simhash64(
      graft.operators.TextAnalysis.tokens(trim(text)))

  /** Per-micro-batch distribution drift vs a static corpus baseline —
    * the ingest door's OBSERVABILITY twin of
    * [[graft.operators.Curation.histDrift]]: where the four door
    * gates act on single documents, this watches the batch as a
    * distribution. Use inside `foreachBatch`: compare the arriving
    * batch's bucket histogram (e.g. token-count div 32) to the tiny
    * precomputed baseline ([[graft.operators.Curation.histogram]] over
    * the corpus) and emit ONE exact TV-permille row per batch to a
    * monitoring sink. Alerting on drift is how a pipeline notices a
    * source went bad BEFORE the bad data passes the per-doc gates
    * (per-doc quality can stay high while the mix shifts).
    *
    * Scale: the batch side is one map-combined aggregation to ≤
    * buckets rows; the baseline is buckets rows broadcast; the TV
    * arithmetic is the exact DECIMAL cross-multiplication of the
    * batch kernel, so batch and stream report identical permille for
    * identical data (spec-asserted parity). Returns
    * `(t_a, t_b, tv_permille)` with t_a = batch docs, t_b = baseline
    * docs; tv_permille is NULL for an empty batch. */
  def batchDrift(batch: DataFrame, bucket: org.apache.spark.sql.Column,
                 baselineHist: DataFrame): DataFrame =
    graft.operators.Curation.tvPermille(
      graft.operators.Curation.histogram(batch, bucket), baselineHist)

  /** Sliding-window drift monitor — the missing TENSE of
    * [[batchDrift]]: where batchDrift reports one TV row per
    * micro-batch (whatever arbitrary slice the trigger cut), this
    * reports one row per EVENT-TIME window, so the monitoring signal
    * is defined by the data's own clock and overlapping windows catch
    * a shift no matter where it lands relative to batch boundaries.
    *
    * Shape: ONE watermarked sliding-window aggregation whose state per
    * window is a fixed vector of `nBuckets + 1` cell counts (one
    * conditional sum per histogram cell, plus a null cell) — bounded
    * by design constants like the batch histogram, never by window
    * row count. The baseline rides in as a driver-side literal (≤
    * nBuckets + 1 cells, the bounded-artifact stance of the DSIR λ and
    * k-means centroids), so the TV arithmetic is a stateless
    * projection: the same exact DECIMAL cross-multiplication as
    * [[graft.operators.Curation.tvPermille]]
    * (`(500·Σ|n_a·t_b − n_b·t_a|) div (t_a·t_b)`), spec-asserted equal
    * per window.
    *
    * Cell mapping: `bucket` must be a NUMERIC discretization (the
    * histDrift convention, e.g. token-count div 32). It is cast to
    * long and CLAMPED into `[0, nBuckets)` (out-of-range mass lands
    * in the edge cells — a monitoring signal must never drop rows for
    * being out of range); NULLs and non-castable values share a
    * dedicated overflow cell, matching tvPermille's null-safe bucket
    * join for the null case. A categorical (string) bucket should be
    * dictionary-encoded to integers first — fed raw, its values
    * cannot be distinguished in the fixed cell vector. The baseline
    * histogram passes through the SAME mapping, so both sides always
    * bucket identically.
    *
    * Emits `(win_start, t_a, t_b, tv_permille)` per closed window
    * (append mode — rows finalize when the watermark passes);
    * tv_permille is NULL when either side is empty, the tvPermille
    * convention. */
  def slidingDrift(stream: DataFrame, tsCol: String, bucket: Column,
                   windowLen: String, slide: String, lateness: String,
                   baselineHist: DataFrame, nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 1 && nBuckets <= 1024,
      s"nBuckets=$nBuckets out of [1, 1024] — the cell vector is " +
        "streaming state per window and a wide vector stops being a " +
        "bounded design constant")
    def cell(b: Column): Column = {
      // test the CAST result, not the raw value: a non-castable
      // (non-numeric) bucket casts to null, and greatest() skips
      // nulls — testing only b.isNull would silently collapse every
      // such value into cell 0. Nulls AND cast failures pool in the
      // dedicated overflow cell on both sides instead.
      val v = b.cast("long")
      when(v.isNull, lit(nBuckets.toLong))
        .otherwise(least(greatest(v, lit(0L)),
          lit((nBuckets - 1).toLong)))
    }
    // bounded baseline artifact: ≤ nBuckets + 1 cells collected once
    // at plan time, never per batch
    val baseCells: Map[Int, Long] = baselineHist
      .groupBy(cell(col("b")).cast("int").as("c"))
      .agg(sum(col("n")).cast("long").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tB = baseCells.values.sum
    val cells = 0 to nBuckets
    val sums = cells.map(k =>
      sum(when(cell(bucket) === k.toLong, 1L).otherwise(0L))
        .cast("long").as(s"graft_c$k"))
    val agg = stream
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen, slide).as("graft_w"))
      .agg(sums.head, sums.tail: _*)
    val tA = cells.map(k => col(s"graft_c$k")).reduce(_ + _)
    val num = cells.map { k =>
      abs(col(s"graft_c$k").cast("decimal(38,0)") * lit(tB) -
        lit(baseCells.getOrElse(k, 0L)).cast("decimal(38,0)") *
          col("t_a"))
    }.reduce(_ + _)
    agg
      .withColumn("t_a", tA.cast("long"))
      .withColumn("t_b", lit(tB))
      .withColumn("graft_num", num)
      .withColumn("tv_permille",
        when(col("t_a") > 0 && col("t_b") > 0,
          expr("(graft_num * 500) div " +
            "(CAST(t_a AS DECIMAL(38,0)) * t_b)").cast("long")))
      .select(col("graft_w.start").as("win_start"),
        col("t_a"), col("t_b"), col("tv_permille"))
  }

  /** Stream-static enrichment: join the live stream against a slowly
    * changing dimension (broadcast — no stream state, re-read per
    * micro-batch). The MQ payload enriched with reference data is the
    * reference deployment's most common consumer shape. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       streamKey: String, dimKey: String): DataFrame =
    // dataframe-qualified keys: the natural call has the SAME key
    // name on both sides, where a bare col() is AMBIGUOUS_REFERENCE
    stream.join(broadcast(dim),
      stream(streamKey) === dim(dimKey), "left")

  /** Stream-stream inner join within a time bound: both sides
    * watermarked, join condition constrains event-time distance so
    * state is evictable. The canonical "purchase joined to the click
    * that preceded it" shape. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String,
                   key: String, rightKey: String,
                   maxGap: String, lateness: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    // qualified references for the same reason as enrichWithStatic:
    // key == rightKey (or shared ts names) is the common call shape
    l.join(r,
      l(key) === r(rightKey) &&
        r(rightTs) <= l(leftTs) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $maxGap"))
  }

  /** The reference's per-millisecond counter (A4,
    * IBMMQReceiver.java:251-254, 266-267) as explicit streaming state:
    * for each arriving (ms, payload) record, assign seq = running count
    * within that millisecond. Input must be a stream of
    * (putMillis: Long, payload: String); output adds the synthesized
    * key. State = one counter per active millisecond, keyed by ms so it
    * spreads across executors; timeout evicts idle keys.
    */
  def statefulKeyCounter(records: Dataset[(Long, String)])
  : Dataset[(Long, Int, String)] = {
    import records.sparkSession.implicits._
    records
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (ms: Long, rows: Iterator[(Long, String)],
         state: GroupState[Int]) => {
          // No timeout-based eviction here: a production deployment
          // keys this by event-time millisecond, so an event-time
          // watermark (EventTimeTimeout) bounds state; using NoTimeout
          // keeps the micro-batch loop quiescent when the stream idles.
          var seq = state.getOption.getOrElse(0)
          val out = rows.map { case (_, payload) =>
            seq += 1
            (ms, seq, payload)
          }.toVector
          state.update(seq)
          out.iterator
        })
  }
}
