package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document-deduplication operators for a training-data pipeline:
  * exact (normalized-hash groupBy), n-gram Jaccard (token-inverted-index
  * join), MinHash+LSH (shingle -> signature -> band -> bucket join),
  * SimHash (hamming-close fingerprints), and embedding-cosine near-dup.
  *
  * Scale notes:
  *  - exact dedup is one hash-partition shuffle on the digest.
  *  - jaccard via the inverted index (doc,token) join is the classic
  *    scalable formulation: |pairs| is bounded by co-occurrence, not
  *    |docs|^2. Hot tokens are the skew risk — cap document frequency
  *    (drop tokens appearing in > dfCap docs, which carry no signal).
  *  - minhash-LSH band-bucket join replaces the cross product entirely;
  *    bucket caps bound the worst case.
  *
  * Cache ownership: the multi-consumer operators persist narrow
  * intermediate indexes at MEMORY_AND_DISK. The session owns their
  * lifecycle — call `spark.catalog.clearCache()` (as Verify/Bench do
  * between queries) or unpersist via the catalog in long-lived
  * sessions; in production these correspond to materialized index
  * tables, not caches.
  */
object Dedup {

  /** Normalized exact-dup digest. */
  def exactDigest(text: Column): Column = md5(lower(trim(text)))

  /** Exact dedup: one surviving doc id per digest plus group size. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(exactDigest(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Distinct (doc, token) inverted index. */
  def tokenIndex(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    docs.select(col(idCol).as("doc"), explode(array_distinct(toks)).as("token"))

  /** Cross-source duplicate matrix: for every source pair
    * (src_a <= src_b), the number of duplicate DOC PAIRS spanning them
    * (within-source pairs = C(n,2), cross-source = n_a·n_b per shared
    * digest) and the number of shared digests. The provenance view of
    * dedup — "which sources copy from each other" drives source
    * weighting and crawl dedup order in a curation pipeline. `digest`
    * chooses the identity notion: [[exactDigest]] for byte-identical
    * dups, [[TextAnalysis.contentFingerprint]] for token-set
    * permutation dups, a simhash band for near-dups.
    *
    * Shape: one corpus shuffle to (digest, source) counts, then a
    * self-join of that sublinear table keyed on digest — each side has
    * at most |sources| rows per digest, so the join fan-out is bounded
    * by |sources|² per digest regardless of how large a dup group is
    * (the count arithmetic, not row explosion, carries group size).
    * Pair counts stay in exact long arithmetic (`div 2`, never a
    * double division).
    */
  def crossSourceMatrix(docs: DataFrame, idCol: String, digest: Column,
                        srcCol: String,
                        persistCounts: Boolean = true): DataFrame = {
    val g0 = docs.groupBy(digest.as("digest"),
        col(srcCol).as("source"))
      .agg(count(lit(1)).as("cnt"))
    // persistCounts = false for one-shot calls in long-lived sessions
    // (no caller-held handle to unpersist — same opt-out as the
    // staged ANN indexes); default true shares the sublinear count
    // table between the join's two sides
    val g =
      if (persistCounts) g0.persist(StorageLevel.MEMORY_AND_DISK)
      else g0
    val a = g.select(col("digest"), col("source").as("src_a"),
      col("cnt").as("cnt_a"))
    val b = g.select(col("digest"), col("source").as("src_b"),
      col("cnt").as("cnt_b"))
    // NULL source is a first-class stratum (the Mixing.mixTemperature
    // stance): it sorts FIRST in the pair ordering and matches itself
    // null-safely, so null-source dup provenance shows up as a
    // (null, src) row instead of silently vanishing from the matrix
    a.join(b, Seq("digest"))
      .filter(col("src_a").isNull || col("src_a") <= col("src_b"))
      .withColumn("pairs", expr(
        "CASE WHEN src_a <=> src_b THEN cnt_a * (cnt_a - 1) div 2 " +
          "ELSE cnt_a * cnt_b END"))
      .groupBy("src_a", "src_b")
      .agg(sum("pairs").cast("long").as("dup_pairs"),
        sum(when(col("pairs") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_digests"))
      .filter(col("dup_pairs") > 0)
  }

  /** Banded self-join on an id-gap predicate: pairs (a, b) with
    * a.id < b.id and b.id - a.id <= gap, computed as an EQUI-join on
    * block = id / gap (b-side emitted into its own and the previous
    * block) instead of a theta join. At scale this is the difference
    * between a hash join on well-spread keys and a nested-loop /
    * low-cardinality-key explosion: with gap-banding the intermediate
    * is O(pairs-within-gap), never O(n^2).
    *
    * `a` and `b` must already carry an `id` column plus any payload;
    * extra equi keys (e.g. the token of an inverted index) are appended
    * to the join key.
    */
  private[operators] def bandedPairs(a: DataFrame, b: DataFrame,
                                     gap: Long,
                                     extraKeys: Seq[String]): DataFrame = {
    val aBlk = a.withColumn("__blk", floor(col("id_a") / gap))
    val bBlk = b.withColumn("__blk",
        explode(array(floor(col("id_b") / gap), floor(col("id_b") / gap) - 1)))
    aBlk.join(bBlk, Seq("__blk") ++ extraKeys)
      .filter(col("id_a") < col("id_b") && col("id_b") - col("id_a") <= gap)
      .drop("__blk")
  }

  /** Pairwise Jaccard similarity >= `threshold` via inverted-index join.
    * `maxIdGap` optionally restricts candidates to nearby ids (used by
    * the oracle-checked query to keep the result set deterministic and
    * bounded); pass None for the full pairing.
    * `dfCap`: ignore tokens present in more than this many docs (hot
    * keys — no discriminative value, pure skew at scale).
    * `dfCapPct`: same guard, but as a PERCENT of corpus size — the
    * scale-invariant form (an absolute cap tuned at sf0.01 silently
    * drops the whole vocabulary at sf100). Compared in pure integer
    * arithmetic (df*100 > pct*nDocs) so an external oracle reproduces
    * the cut exactly.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, toks: Column,
                   threshold: Double, maxIdGap: Option[Long],
                   dfCap: Option[Long] = None,
                   dfCapPct: Option[Int] = None): DataFrame = {
    // Materialize the (doc, token) index ONCE. It feeds four consumers
    // (both join sides, the per-doc sizes, and the hot-token census) —
    // without the persist each one re-scans the corpus and re-runs
    // split+explode. The index is two narrow columns (a fraction of
    // corpus bytes) and spills to disk if it outgrows executor memory.
    val raw = tokenIndex(docs, idCol, toks)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Tokens above the document-frequency cap carry no discriminative
    // signal and are pure join skew: drop them via a broadcast
    // anti-join (the hot-token list is tiny by construction).
    val hotFilter: Option[DataFrame] = (dfCap, dfCapPct) match {
      case (Some(cap), _) =>
        Some(raw.groupBy("token").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("token"))
      case (None, Some(pct)) =>
        val nDocs = raw.select(countDistinct(col("doc")).as("__nd"))
        Some(raw.groupBy("token").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") * lit(100L) > col("__nd") * lit(pct.toLong))
          .select("token"))
      case _ => None
    }
    // When a cap applies, persist the CAPPED index too: its three
    // consumers (both join sides + sizes) would otherwise each re-run
    // the hot-token census (a countDistinct + broadcast per consumer,
    // visible as 4 repeated aggregate subtrees in the r2 plan).
    val idx = hotFilter match {
      case Some(hot) => raw.join(broadcast(hot), Seq("token"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      case None => raw
    }
    val sizes = idx.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val a = idx.select(col("doc").as("id_a"), col("token"))
    val b = idx.select(col("doc").as("id_b"), col("token"))
    val joined = maxIdGap match {
      // gap-bounded: band the id range so the join is equi on
      // (block, token) — O(pairs-within-gap) intermediate, no
      // low-cardinality-token explosion.
      case Some(g) => bandedPairs(a, b, g, Seq("token"))
      case None => a.join(b, Seq("token"))
        .filter(col("id_a") < col("id_b"))
    }
    val inter = joined
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n", "n_b"), "doc_b")
      .withColumn("jaccard", graft.rnd(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact substring-level dedup (duplicated-passage detection, the
    * Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" family): maximal runs of >= `minTokens` consecutive
    * tokens shared VERBATIM between any two documents — as few as two,
    * unlike [[stripRepeatedSpans]], whose corpus-frequency threshold
    * targets boilerplate. The suffix-array formulation is inherently
    * sequential; this is the bounded relational form:
    *
    *  1. every `k`-token shingle, with position, hashed to md5 — one
    *     map-only pass; the 128-bit key keeps cross-doc collisions
    *     negligible at any corpus size and is reproducible by an
    *     external oracle (vs xxhash64). The scheme is also robust to
    *     isolated collisions by construction: a spurious ISLAND needs
    *     `minTokens - k + 1` consecutive aligned collisions, so the
    *     key could be narrowed to 64 bits for shuffle width without
    *     changing results in practice
    *  2. shingles in more than `maxDocFreqPermille` permille of docs
    *     are dropped by census + broadcast anti-join before pairing —
    *     boilerplate belongs to the span strip, and an uncapped hot
    *     shingle is quadratic join skew (the same integer-exact
    *     percent-form guard as [[jaccardPairs]]). The SAME census also
    *     drops shingles with more than `maxShingleOccurrences` total
    *     occurrences: doc frequency alone cannot bound the join (a
    *     token repeated 10^4 times in each of TWO docs has df=2 but
    *     would emit 10^8 match rows), so the occurrence cap bounds
    *     per-shingle pair volume at occ² — the [[hammingNearDupsBanded]]
    *     bucketCap stance, riding the census aggregate at no extra
    *     shuffle
    *  3. matched positions chain into maximal runs per (pair,
    *     diagonal): two matches at (pa, pb) and (pa+1, pb+1) share the
    *     diagonal pa-pb, so gaps-and-islands (pa - row_number) over
    *     each diagonal finds every maximal shared interval in one
    *     window pass — partitioned by (doc_a, doc_b, diag), whose
    *     volume the df cap bounds
    *
    * Output: (doc_a, doc_b, a_start, b_start, len_tokens), 0-based
    * token offsets, one row per maximal shared run >= `minTokens`.
    */
  def sharedPassages(docs: DataFrame, idCol: String, toks: Column,
                     k: Int = 8, minTokens: Int = 20,
                     maxDocFreqPermille: Int = 50,
                     maxShingleOccurrences: Int = 10000,
                     persistIndex: Boolean = true): DataFrame = {
    require(k >= 2, s"shingle width k=$k must be >= 2")
    require(minTokens >= k,
      s"minTokens=$minTokens below k=$k would emit sub-shingle runs")
    // permille 0 would mark EVERY shingle hot and silently return an
    // empty result — fail fast like stripRepeatedSpans
    require(maxDocFreqPermille > 0,
      s"maxDocFreqPermille must be positive, got $maxDocFreqPermille")
    require(maxShingleOccurrences > 0,
      s"maxShingleOccurrences must be positive, got $maxShingleOccurrences")
    import org.apache.spark.sql.expressions.Window
    // (doc, pos, shingle-md5): docs shorter than k yield no shingles —
    // the size guard matters because sequence(0, size-k) counts DOWN
    // when size < k. The id column keeps its input type (the sibling
    // operators' stance — string/UUID ids must not be cast away).
    val raw = docs
      .select(col(idCol).as("doc"), toks.as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc"),
        posexplode(transform(sequence(lit(0), size(col("t")) - lit(k)),
          i => md5(concat_ws(" ", slice(col("t"), i + lit(1), lit(k))))))
          .as(Seq("pos", "sh")))
    // three consumers (census + both join sides); one-shot callers opt
    // out and trade a recompute for zero cache residue
    val sh =
      if (persistIndex) raw.persist(StorageLevel.MEMORY_AND_DISK) else raw
    val nDocs = sh.select(countDistinct(col("doc")).as("__nd"))
    val hot = sh.groupBy(col("sh"))
      .agg(countDistinct(col("doc")).as("df"), count(lit(1)).as("occ"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(1000L) >
          col("__nd") * lit(maxDocFreqPermille.toLong) ||
        col("occ") > lit(maxShingleOccurrences.toLong))
      .select("sh")
    // persist the CAPPED index too (the jaccardPairs stance): both
    // join sides consume it, and without this each side re-runs the
    // census + anti-join — two repeated aggregate subtrees in the plan
    val capped0 = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val capped =
      if (persistIndex) capped0.persist(StorageLevel.MEMORY_AND_DISK)
      else capped0
    val a = capped.select(col("sh"), col("doc").as("doc_a"),
      col("pos").as("pa"))
    val b = capped.select(col("sh"), col("doc").as("doc_b"),
      col("pos").as("pb"))
    val m = a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    // pa is unique within a diagonal (pb is determined by pa - diag),
    // so pa - row_number is constant exactly along each maximal run
    val runs = m.withColumn("grp", col("pa") - row_number().over(w))
    runs.groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"),
        (max(col("pa")) - min(col("pa")) + lit(k)).as("len_tokens"))
      .filter(col("len_tokens") >= minTokens)
      .select(col("doc_a"), col("doc_b"),
        col("a_start").cast("long").as("a_start"),
        (col("a_start") - col("diag")).cast("long").as("b_start"),
        col("len_tokens").cast("long").as("len_tokens"))
  }

  /** The APPLY half of substring dedup (Lee et al. remove the
    * duplicated text, not just find it): every [[sharedPassages]]
    * interval is cut from the HIGHER-id document of its pair — the
    * lower id keeps the only surviving copy, the deterministic
    * survivor rule the exact-dedup family uses. A document that is
    * `doc_b` in several pairs loses the UNION of its intervals
    * (overlaps collapse via a distinct position set).
    *
    * Scale shape: intervals explode to (doc, tpos) rows — bounded by
    * total duplicated TOKENS, not corpus size; the cut is a doc-keyed
    * anti-join of the token stream against that set, and reassembly
    * is the one (doc)-keyed ordered rebuild every strip operator here
    * uses. Tokenization is `split(text, " ")` with positions, matching
    * [[sharedPassages]]' lower-cased matching stream positionally
    * (lower() never moves a space).
    *
    * Output: (doc_id, clean_text, n_tokens_dropped) — one row per
    * input document, clean_text in original casing.
    */
  def stripSharedPassages(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minTokens: Int = 20,
                          maxDocFreqPermille: Int = 50,
                          maxShingleOccurrences: Int = 10000): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val islands = sharedPassages(docs, idCol, toks, k, minTokens,
      maxDocFreqPermille, maxShingleOccurrences)
    // union of duplicated positions per victim doc (distinct collapses
    // overlapping intervals from different partners)
    val cut = islands.select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("len_tokens") - lit(1))).as("tpos"))
      .distinct()
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("tpos", "otok")))
    val kept = tok.join(cut, Seq("doc_id", "tpos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("otok")))),
          _.getField("otok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    // per-doc token counts map-only on the driver row — a groupBy over
    // the exploded token stream would shuffle every token just to
    // count them (size(NULL) is -1, hence the null guard)
    docs.select(col(idCol).as("doc_id"),
        when(col(textCol).isNotNull,
          size(split(col(textCol), " ")).cast("long"))
          .otherwise(lit(0L)).as("__n_tok"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n_tok") -
          coalesce(col("n_kept"), lit(0L))).as("n_tokens_dropped"))
  }

  /** MinHash signature of a string-array column: `nHashes` independent
    * min-hashes from a one-pass JVM kernel (each element hashed once,
    * position variants derived by mixing — see HashKernels). Native
    * codegen expression, not a ScalaUDF — the projection stays inside
    * whole-stage codegen. */
  def minhashSignature(elems: Column, nHashes: Int): Column =
    kernel("graft_minhash_sig", elems, lit(nHashes))

  /** The banded-signature kernel behind [[minhashNearDups]], public
    * so an independent verification path (q_minhash_neardup's
    * agreement row) can share the ONE thing it must — the hash seeds
    * that define the signature space — while recomputing every
    * downstream stage on its own. */
  def minhashBands(elems: Column, bands: Int, rows: Int): Column =
    kernel("graft_minhash_bands", elems, lit(bands), lit(rows))

  /** Native codegen call into the one-pass kernel (no ScalaUDF
    * boundary — the projection stays inside whole-stage codegen). */
  private def kernel(name: String, args: Column*): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function(name, args: _*)
  }

  /** MinHash + LSH near-dup candidate pairs, verified with exact Jaccard
    * on the shingle sets.
    *
    * signature -> `bands` bands of `rows` hashes; docs sharing any
    * (band, band-hash) bucket are candidates; buckets above `bucketCap`
    * are dropped (skew guard). Candidates are then verified exactly.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, shingles: Column,
                      threshold: Double, bands: Int = 8, rows: Int = 4,
                      bucketCap: Int = 200): DataFrame = {
    // Materialized once: three consumers (the band explosion and both
    // survivor-verification sides) would otherwise each re-scan the
    // corpus, re-shingle, and re-run the minhash kernel — the
    // dominant cost of the whole operator.
    val sigd = docs
      .select(col(idCol).as("doc"), array_distinct(shingles).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("bands",
        kernel("graft_minhash_bands", col("sh"), lit(bands), lit(rows)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Shingle sets are heavy (KBs per doc); only (doc, band, bh)
    // tuples flow through the bucket machinery — shingles are joined
    // back just for the (few) surviving candidate pairs. Band hashes
    // come from the kernel as ONE array feeding ONE generator, so the
    // signature is computed exactly once per doc.
    val shd = sigd.select(col("doc"), col("sh"))
    val banded = sigd.select(col("doc"),
        posexplode(col("bands")).as(Seq("band", "bh")))
    // Skew guard as a census + broadcast ANTI-join, not a count()
    // window: the window form sort-shuffles every (doc,band,bh) tuple;
    // the census is a map-side-combining aggregate and the hot-bucket
    // list is tiny by construction (only buckets above the cap).
    val hotBuckets = banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > bucketCap).select("band", "bh")
    val capped = banded
      .join(broadcast(hotBuckets), Seq("band", "bh"), "left_anti")
    val l = capped.select(col("band"), col("bh"), col("doc").as("doc_a"))
    val r = capped.select(col("band"), col("bh"), col("doc").as("doc_b"))
    val cands = l.join(r, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .join(shd.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shd.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", graft.rnd(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash of a token-array column: per bit, sum +/-1 over
    * token hashes and take the sign. Token multiplicity is honoured;
    * empty tokens are ignored. One-pass JVM kernel behind a native
    * codegen expression (functions.SimHash64) — the pure-expression
    * form re-hashed every token 64 times, and the ScalaUDF form it
    * replaced fenced off whole-stage codegen.
    */
  def simhash64(toks: Column): Column =
    kernel("graft_simhash64", toks)

  /** SimHash near-dup pairs within a doc-id gap window: hamming
    * distance (bit_count of xor) <= maxHamming. The id-gap bound keeps
    * the pairing linear; the full-scale variant would band the 64 bits
    * into 4 x 16-bit keys and bucket-join (any band equal => candidate).
    */
  def simhashNearDups(docs: DataFrame, idCol: String, toks: Column,
                      maxHamming: Int, maxIdGap: Long): DataFrame = {
    val h = docs.select(col(idCol).as("doc"), simhash64(toks).as("sim"))
    val a = h.select(col("doc").as("id_a"), col("sim").as("sim_a"))
    val b = h.select(col("doc").as("id_b"), col("sim").as("sim_b"))
    bandedPairs(a, b, maxIdGap, Seq.empty)
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming"))
  }

  /** SimHash near-dup pairs WITHOUT an id-gap bound — the full-scale
    * formulation: the 64-bit fingerprint is split into 4 x 16-bit
    * bands; by pigeonhole, any pair with hamming distance <= 3 shares
    * at least one intact band, so a bucket equi-join on (band, bits)
    * finds ALL such pairs — exact for maxHamming <= 3 PROVIDED no
    * bucket exceeds `bucketCap` (a candidate-generation heuristic
    * beyond hamming 3). Buckets above `bucketCap` are dropped — a
    * degenerate band value (e.g. all-zero from short docs) is skew,
    * not signal — and a pair whose only intact shared band lands in a
    * dropped bucket is missed, so the cap trades recall for skew
    * safety. Audit that loss with [[simhashDroppedBuckets]] (same
    * inputs): empty result => the exactness guarantee holds intact.
    */
  /** The single source of truth for the 64-bit banding scheme: any
    * (doc, sim) fingerprint table split into 4 x 16-bit (band, bits)
    * rows per doc. [[simhashNearDupsBanded]], [[simhashDroppedBuckets]]
    * AND the multimodal [[hammingNearDupsBanded]] path all derive from
    * this helper, so an audit can never census a different banding
    * than the join it audits.
    */
  /** Number of 16-bit bands in the 64-bit fingerprint layout; the
    * pigeonhole completeness bound is `HammingBands - 1`. Shared with
    * the streaming probe so producer and consumer can never band
    * differently. */
  private[graft] val HammingBands = 4

  /** Band `b`'s 16 bits of a 64-bit fingerprint column — THE banding
    * expression; [[bandedIndex64]] (batch index) and
    * [[graft.streaming.StreamingOps.nearDupAgainstCorpus]] (stream
    * probe) both call it. */
  private[graft] def bandBits(sim: Column, b: Int): Column =
    shiftrightunsigned(sim, b * 16).bitwiseAND(lit(0xFFFFL))

  /** [[bandBits]] on the JVM, for the door's packed band probe. */
  private[graft] def bandBitsOf(sim: Long, b: Int): Int =
    ((sim >>> (b * 16)) & 0xFFFFL).toInt

  private def bandedIndex64(hashed: DataFrame): DataFrame =
    hashed.select(col("doc"), col("sim"),
      posexplode(array((0 until HammingBands).map(b =>
        bandBits(col("sim"), b)): _*)).as(Seq("band", "bits")))

  private def simhashBandedIndex(docs: DataFrame, idCol: String,
                                 toks: Column): DataFrame =
    bandedIndex64(docs.select(col(idCol).as("doc"), simhash64(toks).as("sim")))

  /** The banded index over ANY precomputed 64-bit fingerprint table as
    * a public artifact: (doc, sim, band, bits) — the SAME banding
    * [[hammingNearDupsBanded]] joins on (both call the one private
    * helper, so batch and consumers can never band differently). This
    * is the static corpus side of
    * [[graft.streaming.StreamingOps.nearDupAgainstCorpus]]; in
    * production it materializes as the band-partitioned,
    * bits-bucketed table [[createBandedIndexTable]] writes, and the
    * ingest loop appends accepted docs to it between micro-batches
    * ([[appendToBandedIndexTable]]). */
  def hammingBandIndex(hashed: DataFrame, idCol: String,
                       hashCol: String): DataFrame =
    bandedIndex64(hashed.select(col(idCol).as("doc"),
      col(hashCol).as("sim")))

  /** Incremental refresh of a [[hammingBandIndex]]: fold a batch of
    * newly admitted (id, fingerprint) docs into the static banded
    * index WITHOUT rebuilding it from the corpus — the operator behind
    * the "next corpus-index refresh" that
    * [[graft.streaming.StreamingOps.nearDupAgainstCorpus]] documents
    * closing its in-stream hamming-1..3 window with. Banding is a pure
    * per-row expression (the one private helper batch and stream share),
    * so the append is `index ∪ band(batch)` — a NARROW union: no
    * corpus scan, no shuffle, cost O(|batch|) regardless of index
    * size. This is the in-memory tense; the production tense is
    * [[appendToBandedIndexTable]], which hashes the banded batch into
    * the index table's bucket layout.
    *
    * Exactness: for a batch whose doc ids are disjoint from the
    * index's (the ingest contract — door-admitted arrivals carry
    * fresh ids, and exactly-once delivery comes from the streaming
    * checkpoint's batch id, not from this operator re-checking),
    * the result is row-identical to
    * `hammingBandIndex(corpus ∪ batch)` — spec-asserted. A replayed
    * batch would only duplicate index rows, which the door's corpus
    * probes are set-semantically immune to (a dup row can only
    * re-drop the same arrival), so correctness degrades to wasted
    * space, never to wrong admits.
    */
  def appendToBandedIndex(index: DataFrame, hashed: DataFrame,
                          idCol: String, hashCol: String): DataFrame =
    index.unionByName(hammingBandIndex(hashed, idCol, hashCol))

  // ------------------------------------------------------------------
  // The TABLE tense of the banded/digest indexes — the production form
  // the scaladocs above point at. The DataFrame appends are unions:
  // correct, but a union of N appended batches loses any bucketing the
  // base had and grows a plan the door re-reads per snapshot. These
  // operators keep the index in a managed bucketed table instead: the
  // corpus pays its layout shuffle once at create/append time, an
  // append is batch-sized, and the door's snapshot of the table is
  // rebuilt when its files change (ScaleSpec asserts the verdicts
  // after appends and compaction). Single-writer: the ingest loop's foreachBatch
  // is the only appender (gated by BatchIdGate for replay), the same
  // contract as the in-memory appends.
  // ------------------------------------------------------------------

  /** Layout of the banded-index table: PARTITIONED by `band` (a
    * one-band join prunes 3/4 of the files before any IO) and
    * BUCKETED+sorted by `bits`, that join's equi-key. Bucketing by
    * (band, bits) would NOT serve it: with `band` pinned by the
    * filter, the join key is `bits` alone, and a hash(band, bits)
    * distribution does not satisfy a bits-keyed join requirement.
    * The ingest door reads the table whole into its snapshot. */
  private val BandedTableKeys = Seq("bits")
  private val BandedTablePartitions = Seq("band")

  /** Materialize a [[hammingBandIndex]] as the bucketed table the
    * door probes against. `buckets` is per band; size it like a
    * shuffle partition count at full corpus scale. */
  def createBandedIndexTable(hashed: DataFrame, idCol: String,
                             hashCol: String, table: String,
                             buckets: Int): Unit =
    graft.sources.BucketedTables.writeBucketed(
      hammingBandIndex(hashed, idCol, hashCol), table, buckets,
      BandedTableKeys, partitionCols = BandedTablePartitions)

  /** The table tense of [[appendToBandedIndex]]: band the batch (a
    * map-only projection) and hash it into the table's existing
    * bucket layout — a batch-sized shuffle; the corpus rows already
    * in the table are neither read nor rewritten, and the bucketing
    * contract survives (Spark validates the spec). Content equals
    * `hammingBandIndex(corpus ∪ batches)` row-for-row
    * (spec-asserted). */
  def appendToBandedIndexTable(hashed: DataFrame, idCol: String,
                               hashCol: String, table: String,
                               buckets: Int): Unit =
    graft.sources.BucketedTables.appendBucketed(
      hammingBandIndex(hashed, idCol, hashCol), table, buckets,
      BandedTableKeys, partitionCols = BandedTablePartitions)

  /** Restore single-file buckets after a run of appends (content
    * unchanged; merge joins stop re-sorting multi-file buckets). Run
    * from the maintenance owner, not the ingest loop.
    *
    * Straddling-reader story (the postings compaction's multi-table
    * ordering argument, trivially satisfied here): this index is ONE
    * table and the rewrite is content-IDENTITY, so there is no
    * intermediate state for a reader to mix — a re-resolving reader
    * sees the same rows before, between and after; the only gap is
    * rewriteBucketed's own drop-rename window, whose crash recovery
    * and reader-visible semantics are that protocol's documented
    * contract (BucketingSpec). */
  def compactBandedIndexTable(spark: org.apache.spark.sql.SparkSession,
                              table: String, buckets: Int): Unit =
    graft.sources.BucketedTables.compactBucketed(spark, table, buckets,
      BandedTableKeys, BandedTablePartitions)

  /** Audit-gated tense of [[compactBandedIndexTable]] — the banded
    * table's analogue of [[graft.operators.IndexMaintenance]]'s
    * `maintain*Index`: measures files-per-bucket amplification and
    * compacts only above `maxFilesPerBucket`, so the maintenance
    * owner makes ONE idempotent call per cadence and under-threshold
    * calls cost a file listing, not a rewrite. Returns true iff it
    * compacted. */
  def maintainBandedIndexTable(spark: org.apache.spark.sql.SparkSession,
                               table: String, buckets: Int,
                               maxFilesPerBucket: Double = 2.0): Boolean =
    graft.sources.BucketedTables.maintainBucketed(spark, table, buckets,
      BandedTableKeys, BandedTablePartitions, maxFilesPerBucket)

  /** Materialize a [[digestIndex]] as a table bucketed by `digest`,
    * the corpus side of
    * [[graft.streaming.StreamingOps.dedupAgainstCorpus]]. */
  def createDigestIndexTable(docs: DataFrame, textCol: String,
                             table: String, buckets: Int): Unit =
    graft.sources.BucketedTables.writeBucketed(
      digestIndex(docs, textCol), table, buckets, Seq("digest"))

  /** The table tense of [[appendToDigestIndex]]: dedup the batch's
    * digests within itself (batch-sized shuffle) and hash them into
    * the table's bucket layout. Disjointness from the corpus is the
    * same ingest contract as the DataFrame form; a replayed batch
    * only duplicates rows the LEFT ANTI probe is immune to. */
  def appendToDigestIndexTable(docs: DataFrame, textCol: String,
                               table: String, buckets: Int): Unit =
    graft.sources.BucketedTables.appendBucketed(
      digestIndex(docs, textCol), table, buckets, Seq("digest"))

  /** [[compactBandedIndexTable]]'s digest twin. */
  def compactDigestIndexTable(spark: org.apache.spark.sql.SparkSession,
                              table: String, buckets: Int): Unit =
    graft.sources.BucketedTables.compactBucketed(spark, table, buckets,
      Seq("digest"))

  /** [[maintainBandedIndexTable]]'s digest twin. */
  def maintainDigestIndexTable(spark: org.apache.spark.sql.SparkSession,
                               table: String, buckets: Int,
                               maxFilesPerBucket: Double = 2.0): Boolean =
    graft.sources.BucketedTables.maintainBucketed(spark, table, buckets,
      Seq("digest"), Nil, maxFilesPerBucket)

  /** The static digest table
    * [[graft.streaming.StreamingOps.dedupAgainstCorpus]] probes: one
    * row per distinct normalized digest in the corpus. One
    * hash-partition shuffle, the exact-dedup shape. */
  def digestIndex(docs: DataFrame, textCol: String): DataFrame =
    docs.select(exactDigest(col(textCol)).as("digest"))
      .dropDuplicates("digest")

  /** Incremental refresh of a [[digestIndex]] — the exact-dedup twin
    * of [[appendToBandedIndex]]: fold admitted docs' digests into the
    * static digest table without a corpus rebuild. The batch side is
    * deduplicated within itself (batch-sized shuffle only); disjointness
    * from the index is the ingest contract — admitted docs passed the
    * index's own probe at the door, so their digests are new by
    * construction and the append is row-identical to
    * `digestIndex(corpus ∪ batch)` (spec-asserted). Same replay
    * stance as [[appendToBandedIndex]]: a duplicated digest row
    * cannot change any probe verdict.
    */
  def appendToDigestIndex(index: DataFrame, docs: DataFrame,
                          textCol: String): DataFrame =
    index.unionByName(digestIndex(docs, textCol))

  /** The (band, bits, size) buckets [[simhashNearDupsBanded]] drops at
    * the same `bucketCap` — run it when recall loss must be visible
    * (each dropped bucket of size s forfeits up to s*(s-1)/2 pairs).
    * Callers auditing a tuned join MUST pass the same cap they tuned.
    */
  def simhashDroppedBuckets(docs: DataFrame, idCol: String, toks: Column,
                            bucketCap: Int = 10000): DataFrame =
    simhashBandedIndex(docs, idCol, toks)
      .groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > bucketCap)

  def simhashNearDupsBanded(docs: DataFrame, idCol: String, toks: Column,
                            maxHamming: Int,
                            bucketCap: Int = 10000): DataFrame =
    hammingNearDupsBanded(
      docs.select(col(idCol).as("doc"), simhash64(toks).as("sim")),
      "doc", "sim", maxHamming, bucketCap)

  /** Banded hamming near-dup over ANY precomputed 64-bit fingerprint
    * table — the engine shared by text simhash and the multimodal
    * perceptual hash ([[Multimodal.payloadNearDups]]). Same exactness
    * contract as [[simhashNearDupsBanded]]: complete for
    * hamming <= 3 by pigeonhole over the 4 x 16-bit bands, candidate
    * generation beyond that, buckets above `bucketCap` dropped as
    * skew. Input: `hashed` with an id column and a LongType
    * fingerprint column. Output: (doc_a, doc_b, hamming).
    *
    * Factored through DISTINCT fingerprints (r9): real corpora carry
    * large identical-fingerprint groups (token permutations collapse
    * to one simhash; shared boilerplate prefixes to one phash — the
    * derived-sf1 corpus holds 50k docs over 4.8k distinct phashes),
    * and the doc-level band self-join enumerated every such group
    * C(n,2) times PER BAND before deduping. Instead:
    *  1. hamming-0 pairs expand identical-fingerprint groups by one
    *     equi-join on the full 64-bit hash — enumeration IS the
    *     output, nothing speculative;
    *  2. the banded join runs over distinct fingerprints only
    *     (hamming 1..maxHamming by construction, so it cannot
    *     re-find the identical pairs), then two equi-joins expand
    *     each fingerprint pair to its doc pairs — again
    *     output-bound.
    * Same result rows, but band-bucket work scales with distinct
    * fingerprints, not docs (measured at derived sf1: 114 s → the
    * banded join's quadratic term collapses ~100×). The census stays
    * at DOC granularity (a fingerprint's docs band identically, so
    * dropping a (band, bits) bucket of docs and dropping its member
    * fingerprints from that band are the same set), and an
    * identical-fingerprint pair is emitted iff at least one of its
    * fingerprint's four buckets survives — exactly the old "pair
    * found via any surviving band" semantics.
    */
  def hammingNearDupsBanded(hashed: DataFrame, idCol: String,
                            hashCol: String, maxHamming: Int,
                            bucketCap: Int = 10000,
                            persistIndex: Boolean = true): DataFrame = {
    // Materialized BEFORE everything: the (doc, sim) projection is
    // consumed by the census, the identical-group expansion (both
    // sides) and the distinct-pair expansion (both sides), and the
    // fingerprint expression is the dominant per-row cost.
    // `persistIndex = false` for one-shot callers (payloadNearDups)
    // that would otherwise leak MEMORY_AND_DISK blocks with no handle
    // to unpersist — same stance as Similarity.lshIndex.
    val h0 = hashed.select(col(idCol).as("doc"), col(hashCol).as("sim"))
    val h = if (persistIndex) h0.persist(StorageLevel.MEMORY_AND_DISK)
            else h0
    // Skew census at DOC granularity (unchanged semantics), applied
    // to the distinct-fingerprint banding via broadcast anti-join.
    val hotBuckets = bandedIndex64(h)
      .groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > bucketCap).select("band", "bits")
    val cappedSims = bandedIndex64(
        h.select(col("sim")).distinct().select(col("sim").as("doc"),
          col("sim")))
      .select(col("band"), col("bits"), col("sim"))
      .join(broadcast(hotBuckets), Seq("band", "bits"), "left_anti")
    // 1) identical-fingerprint pairs (hamming 0): fingerprints with
    // >= 1 surviving bucket expand to their within-group doc pairs
    // through one equi-join on the full hash
    val liveSims = cappedSims.select("sim").distinct()
    val hLive = h.join(liveSims, Seq("sim"))
    val identical = hLive.select(col("sim"), col("doc").as("doc_a"))
      .join(hLive.select(col("sim"), col("doc").as("doc_b")), Seq("sim"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    // 2) distinct-fingerprint pairs through the banded join, then
    // expanded to doc pairs (a doc pair maps to exactly ONE
    // fingerprint pair, so no cross-part duplicates are possible)
    val simPairs = cappedSims
      .select(col("band"), col("bits"), col("sim").as("sim_a"))
      .join(cappedSims.select(col("band"), col("bits"),
        col("sim").as("sim_b")), Seq("band", "bits"))
      .filter(col("sim_a") < col("sim_b"))
      .select(col("sim_a"), col("sim_b"))
      .dropDuplicates("sim_a", "sim_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val near = simPairs
      .join(h.select(col("sim").as("sim_a"), col("doc").as("da")), "sim_a")
      .join(h.select(col("sim").as("sim_b"), col("doc").as("db")), "sim_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    identical.unionByName(near)
  }

  /** Connected components over a near-dup pair list: pairs only say
    * "a duplicates b"; the KEEP decision needs the transitive cluster
    * (a~b, b~c ⇒ one survivor among {a,b,c}). Returns (node, root)
    * where root = the cluster's minimum id — the canonical survivor.
    *
    * Min-label propagation PLUS pointer jumping (label ← label's
    * label), so convergence is O(log n) rounds even for long chains —
    * plain neighbor propagation needs O(diameter) rounds and dies on
    * a 10^6-long chain. Each round is two distributed joins + a
    * map-combining min aggregate; the driver only counts changed
    * labels (an O(1) scalar per round), the classic shape of iterative
    * graph algorithms on Spark.
    *
    * Each round's labels are `localCheckpoint`ed, NOT persisted: the
    * pointer-jump self-join doubles the LOGICAL plan per round, so
    * without lineage truncation the plan tree is 2^rounds nodes and
    * the driver OOMs just printing it. Checkpointing resets the plan
    * to a leaf each round (what GraphX does internally); old rounds'
    * blocks are dropped by the ContextCleaner as references die.
    * localCheckpoint blocks live on executors — on a real cluster
    * with executor churn, swap in reliable `checkpoint()` against the
    * checkpoint dir (same shape, survives loss).
    *
    * Small graphs take a different path entirely: when the pair list
    * fits the same per-partition row budget the loop sizes its
    * shuffles to (`localEdgeBudget`, default 4M rows ≈ one healthy
    * shuffle partition), the component structure is computed by a
    * single-task union-find inside `mapPartitions` — one job, no
    * rounds. A near-dup pair graph is the SURVIVORS of banding, so
    * even at 100 TB corpus scale it is often orders of magnitude
    * smaller than the corpus; paying O(log n) scheduled rounds of
    * distributed joins to label a few thousand edges is pure
    * overhead. The cutoff is exact (edge count, not a guess), the
    * result is identical (root = component min id), and graphs over
    * the budget still take the iterative distributed path.
    */
  /** One healthy shuffle partition's worth of edge rows — the loop
    * sizes its per-round shuffles to this, and it is the default
    * cutoff below which the single-task union-find path engages. */
  val EdgeRowBudget: Long = 4000000L

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          localEdgeBudget: Long = EdgeRowBudget): DataFrame = {
    val spark = pairs.sparkSession
    // fail fast on non-integral ids: under ANSI the cast below would
    // die mid-job with an opaque CAST_INVALID_INPUT, and with ANSI
    // off every id would go null and the whole graph would silently
    // collapse to singletons (canonicalPerCluster would then keep
    // every duplicate). String/UUID-keyed pair producers
    // (sharedPassages, jaccardPairs) must map ids through a
    // dictionary (id, dense long) join before clustering.
    Guards.requireIntegral(pairs.schema(aCol).dataType,
      "connectedComponents", s"node id ('$aCol')",
      "labels propagate as long min-ids")
    Guards.requireIntegral(pairs.schema(bCol).dataType,
      "connectedComponents", s"node id ('$bCol')",
      "labels propagate as long min-ids")
    val raw = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = raw.count()
    if (nPairs <= localEdgeBudget) {
      // eager localCheckpoint materializes the result (one job — the
      // same job a caller's first action would run anyway), so the
      // cached edge set can be released HERE instead of leaking one
      // pinned DataFrame per call until a session-wide clearCache
      val out = localUnionFind(raw).localCheckpoint()
      raw.unpersist()
      return out
    }
    val edges0 = raw
      .union(raw.select(col("v").as("u"), col("u").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The per-round state is one (node, label) row per node and the
    // join moves |edges| rows — size the LOOP's shuffles to the graph
    // (~4M rows/partition), not to the session default: an iterative
    // algorithm over a few thousand survivors pays 32-partition
    // scheduling overhead ~4 stages x rounds times otherwise, while a
    // 100 TB pair graph still fans out to the full session setting.
    val sessP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1L, math.min(sessP.toLong,
      2L * nPairs / EdgeRowBudget + 1)).toInt
    // Pre-partition the cached edge set by the join key once: every
    // round's edges-to-labels join then reuses the cached layout
    // instead of re-shuffling the (at scale, dominant) edge set.
    val edges = edges0.repartition(p, col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prevP = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p)
    var labels: DataFrame = null
    var changed = 1L
    var i = 0
    try {
      // seed label = min(node, min neighbour): one aggregate over the
      // (bidirectional) edges replaces distinct-then-propagate and
      // starts the loop a full round ahead.
      labels = edges.groupBy(col("u").as("node"))
        .agg(min(col("v")).as("nbr"))
        .select(col("node"), least(col("node"), col("nbr")).as("label"))
        .localCheckpoint()
      // One distributed JOB per round: the checkpoint is lazy, so the
      // convergence count below is the action that materializes it —
      // an eager checkpoint would pay a second job per round just to
      // count `chg` over blocks the first job already wrote. Each
      // round also applies the pointer jump TWICE (label <- label^2,
      // then again), quartering the pointer distance per materialized
      // round — rounds ~halve vs a single jump, and the extra join is
      // far cheaper than an extra scheduled round at any scale.
      def jump(df: DataFrame): DataFrame = df
        .join(df.select(col("node").as("pn"), col("label").as("pl")),
          df("label") === col("pn"), "left")
        .select(df("node"), df("old"),
          coalesce(col("pl"), df("label")).as("label"))
      while (changed > 0 && i < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("node").as("v"), col("label")), "v")
          .groupBy(col("u").as("node")).agg(min(col("label")).as("nbr"))
        // carry the pre-round label through the round so convergence is
        // a filter on the checkpointed result, not an extra join job
        val stepped = labels.withColumnRenamed("label", "old")
          .join(nbrMin, Seq("node"), "left")
          .select(col("node"), col("old"),
            least(col("old"), coalesce(col("nbr"), col("old")))
              .as("label"))
        val jumped = jump(jump(stepped))
          .select(col("node"), col("label"),
            (col("label") =!= col("old")).as("chg"))
          .localCheckpoint(eager = false)
        changed = jumped.filter(col("chg")).count()
        labels = jumped.select(col("node"), col("label"))
        i += 1
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevP)
    }
    edges.unpersist()
    edges0.unpersist()
    raw.unpersist()
    // Unconverged labels are WRONG roots (partial clusters) and the
    // keep/drop decisions downstream would silently split clusters —
    // fail loudly instead. Pointer jumping converges in O(log n)
    // rounds, so the default 25 covers ~2^25-node chains; hitting the
    // cap means maxIter was set far too low for the graph.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); raise maxIter")
    labels.select(col("node"), col("label").as("root"))
  }

  /** Exact union-find over a bounded edge list in ONE executor task.
    * The caller has already counted the edges and proven they fit a
    * single shuffle partition's row budget, so `repartition(1)` here
    * is a bounded fan-in, not a scalability hole — the same
    * size-to-the-data move AQE makes when it coalesces a small
    * shuffle. Path-compressed, union-by-min-id, so the returned root
    * is the component's minimum node id — byte-identical to what the
    * iterative min-label loop converges to.
    */
  private def localUnionFind(rawEdges: DataFrame): DataFrame = {
    val spark = rawEdges.sparkSession
    import spark.implicits._
    rawEdges.repartition(1).as[(Long, Long)].mapPartitions { it =>
      // Primitive-long open-addressing parent map: a budget-sized
      // graph (4M edges, up to 8M nodes) in a boxed java HashMap is
      // ~1 GB of Long objects and entry nodes; flat long arrays at
      // 0.75 load are ~270 MB worst-case and GC-invisible.
      var cap = 1 << 16
      var mask = cap - 1
      var keys = new Array[Long](cap)
      var vals = new Array[Long](cap)
      var used = new Array[Boolean](cap)
      var size = 0
      def idx(k: Long): Int = {
        var h = k * -7046029254386353131L // splitmix64 odd constant
        h ^= (h >>> 32)
        var i = (h & mask).toInt
        while (used(i) && keys(i) != k) i = (i + 1) & mask
        i
      }
      def grow(): Unit = {
        val ok = keys; val ov = vals; val ou = used
        cap <<= 1; mask = cap - 1
        keys = new Array[Long](cap)
        vals = new Array[Long](cap)
        used = new Array[Boolean](cap)
        var i = 0
        while (i < ok.length) {
          if (ou(i)) {
            val j = idx(ok(i)); keys(j) = ok(i); vals(j) = ov(i)
            used(j) = true
          }
          i += 1
        }
      }
      def get(k: Long): Long = vals(idx(k)) // present keys only
      // grows ONLY when inserting a new key — puts to existing keys
      // (path compression) never rehash, so emission below can walk
      // a stable table while compressing
      def put(k: Long, v: Long): Unit = {
        var i = idx(k)
        if (!used(i)) {
          if ((size + 1) * 4 > cap * 3) { grow(); i = idx(k) }
          used(i) = true; keys(i) = k; size += 1
        }
        vals(i) = v
      }
      def root(x0: Long): Long = {
        var r = x0
        while (get(r) != r) r = get(r)
        var c = x0
        while (c != r) { val nx = get(c); put(c, r); c = nx }
        r
      }
      it.foreach { case (u, v) =>
        if (!used(idx(u))) put(u, u)
        if (!used(idx(v))) put(v, v)
        val ru = root(u); val rv = root(v)
        if (ru != rv) {
          if (ru < rv) put(rv, ru) else put(ru, rv)
        }
      }
      val all = new Array[Long](size)
      var i = 0
      var o = 0
      while (i < cap) {
        if (used(i)) { all(o) = keys(i); o += 1 }
        i += 1
      }
      all.iterator.map(k => (k, root(k)))
    }.toDF("node", "root")
  }

  /** Embedding-cosine near-dup pairs within an id-gap candidate window
    * (oracle-checkable bounded form; the unbounded form goes through
    * Similarity.lshIndex buckets instead of the id window).
    */
  def embeddingNearDups(vecs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, maxIdGap: Long): DataFrame = {
    // NULL embeddings carry no similarity signal — excluded like
    // every vector operator
    val v = Similarity.nonNullVecs(vecs, vecCol)
      .select(col(idCol).as("id"),
        Similarity.toDouble(col(vecCol)).as("v"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    bandedPairs(a, b, maxIdGap, Seq.empty)
      .withColumn("cos", graft.rnd(Similarity.cosine(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SPAN-level corpus dedup (boilerplate strip): remove from every
    * document the token spans that occur in more than
    * `maxDocFreqPermille`‰ of all documents, and reassemble the
    * survivors in order — the C4/RefinedWeb move that kills nav bars,
    * cookie banners and license headers which document-LEVEL dedup
    * (exact or near) can never see, because the hosting documents
    * differ.
    *
    * Span boundaries are CONTENT-DEFINED, not positional: a token
    * ends its span when (a) it ends with a sentence delimiter
    * (`. ! ?` — the C4 line/sentence anchor), or (b) the last hex
    * digit of its md5, read as 0..15, is ≡ 0 (mod `spanTokens`) — a
    * content-defined-chunking breakpoint with expected span length
    * ≈ `spanTokens`. Both rules depend only on the token itself, so
    * the SAME boilerplate sequence chunks into the SAME spans at any
    * token offset in any document — phase-shifted nav bars land in
    * identical census keys, which fixed-offset tiling (anchored at
    * token 0) structurally misses. `maxSpanTokens` caps the
    * pathological no-breakpoint run by sub-tiling overlong spans at
    * offsets relative to the span START (still content-anchored,
    * still alignment-free).
    *
    * Matching is case-insensitive (census keys are lowercased spans)
    * but reassembly preserves the ORIGINAL casing: each span carries
    * both its lowered census key and its original-case text, and
    * `clean_text` is rebuilt from the latter — a curation pipeline
    * must emit the original text minus boilerplate, not a lowercased
    * shadow of it. Lowercasing never adds or removes spaces, so the
    * two token streams align positionally by construction.
    *
    * The threshold is a fraction of the corpus (integer-exact:
    * df·1000 > n_docs·permille, the [[jaccardPairs]] dfCapPct rule) so
    * the cut is scale-invariant — an absolute document count tuned at
    * sf0.01 would strip the whole corpus at sf100.
    *
    * Scale shape: tokenization is a map-only generator over one
    * corpus scan; the breakpoint prefix-sum and span-start windows
    * both partition by doc_id (one shuffle — millions of small
    * per-document windows, never a single-partition window); span
    * assembly groups by (doc_id, span_id, sub), which the doc_id
    * partitioning already satisfies (no exchange). The span table is
    * persisted once for its three consumers (census + strip + span
    * counts; `persistSpans = false` opts out for one-shot callers
    * that would otherwise leak cache in a long session —
    * unpersist-after-action is not possible here because the
    * function returns a lazy plan and never runs an action itself). The census
    * is one (span)-keyed aggregate whose distinct-count partials
    * combine map-side; the hot-span set is bounded above by
    * total_spans/(n_docs·permille/1000) — the planner broadcasts it
    * when small and falls back to a shuffle join when a low threshold
    * makes it big. Reassembly is one (doc)-keyed aggregate. Two
    * inherent shuffles (doc_id window + census) plus the final
    * doc-keyed rebuild.
    *
    * Output: (doc_id, clean_text, n_kept, n_dropped) — one row per
    * input document, span counts, `clean_text` empty when every span
    * was boilerplate.
    */
  def stripRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         spanTokens: Int = 2,
                         maxDocFreqPermille: Int = 10,
                         maxSpanTokens: Int = -1,
                         persistSpans: Boolean = true): DataFrame = {
    require(spanTokens >= 2 && spanTokens <= 16,
      s"spanTokens must be in [2, 16] (hex-digit CDC modulus), got $spanTokens")
    require(maxDocFreqPermille > 0,
      s"maxDocFreqPermille must be positive, got $maxDocFreqPermille")
    // -1 is the only documented "use the default cap" sentinel; any
    // other non-positive (or sub-spanTokens) value is a caller bug,
    // not a request for the default.
    require(maxSpanTokens == -1 || maxSpanTokens >= spanTokens,
      s"maxSpanTokens must be -1 (default cap) or >= spanTokens " +
        s"($spanTokens), got $maxSpanTokens")
    val cap = if (maxSpanTokens == -1) 4 * spanTokens else maxSpanTokens
    import org.apache.spark.sql.expressions.Window
    // one tokenize pass; the lowered census token derives per-token
    // (lower() never changes spaces, so positions align with the
    // original-case stream by construction)
    val tok = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("tpos", "otok")))
      .withColumn("ltok", lower(col("otok")))
    // content-defined breakpoint: sentence delimiter, or last md5 hex
    // digit ≡ 0 (mod spanTokens). conv() parses the hex digit; the
    // DuckDB oracle mirrors it with instr('0123456789abcdef', ·)-1.
    val hexv = conv(substring(md5(col("ltok")), 32, 1), 16, 10).cast("int")
    val brk = when(col("ltok").rlike("[.!?]$") ||
      pmod(hexv, lit(spanTokens)) === 0, 1L).otherwise(0L)
    val wDoc = Window.partitionBy("doc_id").orderBy("tpos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a break token ENDS its span: span_id = #breaks strictly before
    val withSpan = tok.withColumn("__brk", brk)
      .withColumn("span_id", sum(col("__brk")).over(wDoc) - col("__brk"))
    val wSpan = Window.partitionBy("doc_id", "span_id")
    val withSub = withSpan.withColumn("sub",
      floor((col("tpos") - min(col("tpos")).over(wSpan)) / lit(cap)))
    // assemble spans; collect_list order is partition-dependent, so
    // array_sort on the (tpos, …) structs restores token order. The
    // lowered span is the census key; the original-case span is what
    // reassembly emits.
    val spans0 = withSub
      .groupBy(col("doc_id"), col("span_id"), col("sub"))
      .agg(min(col("tpos")).as("pos"),
        array_sort(collect_list(
          struct(col("tpos"), col("ltok"), col("otok")))).as("__ts"))
      .select(col("doc_id"), col("pos"),
        array_join(transform(col("__ts"), _.getField("ltok")), " ")
          .as("span"),
        array_join(transform(col("__ts"), _.getField("otok")), " ")
          .as("span_orig"))
    val spans =
      if (persistSpans) spans0.persist(StorageLevel.MEMORY_AND_DISK)
      else spans0
    val nDocs = docs.select(count(lit(1)).as("__nd"))
    val hot = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(1000L) >
        col("__nd") * lit(maxDocFreqPermille.toLong))
      .select("span")
    val kept = spans.join(hot, Seq("span"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("span_orig")))),
          _.getField("span_orig")), " ").as("clean_text"))
    // pre-strip span counts come from the shared span table, not a
    // second tokenize pass over the corpus text; the id-only corpus
    // scan on the left is column-pruned. A null-text/span-less doc
    // coalesces to all-zero counts, consistent with clean_text = ''
    val nSpansPerDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_spans"))
    docs.select(col(idCol).as("doc_id"))
      .join(nSpansPerDoc, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("__n_spans"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
