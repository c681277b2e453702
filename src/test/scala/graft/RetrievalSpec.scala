package graft

import graft.operators.{Retrieval, TextAnalysis => TA}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval: hand-computed micro-unit scores on a fixed
  * corpus, the df skew cap, distinct-query-term semantics, and the
  * no-all-pairs plan shape. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // N=3, lengths 3/2/4, tot=9, avg=3
  private lazy val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry dog")).toDF("doc_id", "text")

  private def run(qText: String, k: Int = 10,
                  maxDfPermille: Int = 1000) =
    Retrieval.bm25TopK(
        corpus, "doc_id", TA.tokens(col("text")),
        Seq((100L, qText)).toDF("query_id", "text"),
        "query_id", TA.tokens(col("text")),
        k = k, maxDfPermille = maxDfPermille)
      .select("query", "rank", "doc", "score_q6")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)

  // the operator's exact arithmetic, in the same JVM ops
  private def microOf(tf: Long, df: Long, len: Long,
                      n: Long = 3L, avg: Double = 3.0d): Long = {
    val idf = math.log(1.0d + (n.toDouble - df + 0.5d) / (df + 0.5d))
    val tfn = tf * (1.2d + 1.0d) /
      (tf + 1.2d * ((1.0d - 0.75d) + 0.75d * len / avg))
    math.floor(idf * tfn * 1e6 + 0.5d).toLong
  }

  test("hand-computed micro-unit scores, rank by (score desc, doc asc)") {
    val got = run("apple cherry")
    // apple: df 1, only doc 1 (tf 2, len 3); cherry: df 2, docs 2
    // (tf 1, len 2) and 3 (tf 3, len 4); no doc matches both terms
    val want = Map(
      1L -> microOf(tf = 2, df = 1, len = 3),
      2L -> microOf(tf = 1, df = 2, len = 2),
      3L -> microOf(tf = 3, df = 2, len = 4))
    assert(got.map(r => (r._3, r._4)).toMap === want)
    // rarest term dominates: doc 1 first, then cherry by tf-norm
    val byRank = got.sortBy(_._2).map(_._3)
    val wantOrder = want.toSeq.sortBy { case (doc, s) => (-s, doc) }
      .map(_._1)
    assert(byRank === wantOrder)
    assert(got.map(_._2) === Seq(1L, 2L, 3L))
  }

  test("a doc sharing both query terms sums its contributions exactly") {
    val got = run("banana dog")
    // banana: df 2 → docs 1 (tf 1, len 3), 2 (tf 1, len 2);
    // dog: df 1 → doc 3 (tf 1, len 4)
    val want = Map(
      1L -> microOf(1, 2, 3),
      2L -> microOf(1, 2, 2),
      3L -> microOf(1, 1, 4))
    assert(got.map(r => (r._3, r._4)).toMap === want)
    // and a query term repeated does NOT double-count (distinct terms)
    assert(run("dog dog dog") === run("dog"))
  }

  test("df cap drops stopword-grade postings from scoring") {
    // banana/cherry have df 2 of N=3 (667‰) — a 500‰ cap removes
    // them; apple (333‰) survives. Doc 2 (banana cherry only)
    // disappears from the result entirely.
    val got = run("apple banana cherry", maxDfPermille = 500)
    assert(got.map(_._3).toSet === Set(1L))
    assert(got.head._4 === microOf(2, 1, 3))
  }

  test("postings append == rebuild, table for table; probing the " +
    "appended index == one-shot BM25 over the unioned corpus") {
    import graft.operators.Retrieval.{appendToPostingsIndex, postingsIndex}
    val batch = Seq(
      (4L, "dog cherry dog"),
      (5L, "elk")).toDF("doc_id", "text")
    val full = postingsIndex(corpus.unionByName(batch), "doc_id",
      TA.tokens(col("text")))
    val appended = appendToPostingsIndex(
      postingsIndex(corpus, "doc_id", TA.tokens(col("text"))),
      batch, "doc_id", TA.tokens(col("text")))
    def tfSet(ix: graft.operators.Retrieval.PostingsIndex) =
      ix.postings.as[(Long, String, Long)].collect().toSet
    def lenSet(ix: graft.operators.Retrieval.PostingsIndex) =
      ix.doclen.as[(Long, Long)].collect().toSet
    def dfSet(ix: graft.operators.Retrieval.PostingsIndex) =
      ix.dfreq.as[(String, Long)].collect().toSet
    def statsRow(ix: graft.operators.Retrieval.PostingsIndex) =
      ix.stats.as[(Long, Long)].collect().toSeq
    assert(tfSet(appended) === tfSet(full))
    assert(lenSet(appended) === lenSet(full))
    assert(dfSet(appended) === dfSet(full))
    assert(statsRow(appended) === statsRow(full))
    assert(statsRow(full) === Seq((5L, 13L))) // 3+2+4+3+1 tokens
    // probe through the APPENDED index — every BM25 input (df, N,
    // avg length) reflects the new docs, so the verdicts are exactly
    // the one-shot op's over the unioned corpus
    val qs = Seq((100L, "dog cherry")).toDF("query_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query", "rank", "doc", "score_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
    val viaAppend = key(graft.operators.Retrieval.bm25TopKWith(
      appended, qs, "query_id", TA.tokens(col("text")), k = 10))
    val oneShot = key(graft.operators.Retrieval.bm25TopK(
      corpus.unionByName(batch), "doc_id", TA.tokens(col("text")),
      qs, "query_id", TA.tokens(col("text")), k = 10))
    assert(viaAppend === oneShot)
    // the new doc 4 ("dog cherry dog") must now be retrievable and
    // outrank every old doc on this query (it matches both terms)
    assert(viaAppend.nonEmpty)
    assert(viaAppend.minBy(_._2)._3 === 4L)
  }

  test("signature dedup: queries sharing a term set each get the full " +
    "ranked list; token order and multiplicity do not split signatures") {
    // 3 queries, ONE distinct signature {apple, cherry} — the probe
    // scores it once, the fan-out returns identical lists to each
    val qs = Seq((100L, "apple cherry"), (101L, "cherry apple"),
      (102L, "cherry apple cherry")).toDF("query_id", "text")
    val got = graft.operators.Retrieval.bm25TopK(
        corpus, "doc_id", TA.tokens(col("text")),
        qs, "query_id", TA.tokens(col("text")), k = 10)
      .select("query", "rank", "doc", "score_q6")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val byQuery = got.groupBy(_._1)
      .map { case (q, rs) => (q, rs.map(r => (r._2, r._3, r._4)).sorted) }
    assert(byQuery.keySet === Set(100L, 101L, 102L))
    assert(byQuery(100L) === byQuery(101L))
    assert(byQuery(100L) === byQuery(102L))
    // and the shared list is the single-query result
    val single = run("apple cherry").map(r => (r._2, r._3, r._4)).sorted
    assert(byQuery(100L) === single)
  }

  private def asKey(df: org.apache.spark.sql.DataFrame) =
    df.select("query", "rank", "doc", "score_q6")
      .as[(Long, Long, Long, Long)].collect().toSet

  test("pruned BM25 == exhaustive on the dense fixture (nothing to " +
    "prune) and across score ties at the k boundary") {
    import graft.operators.Retrieval
    val qs = Seq((100L, "apple cherry"), (101L, "banana dog"),
      (102L, "cherry"), (103L, "apple banana cherry dog"))
      .toDF("query_id", "text")
    for (k <- Seq(1, 2, 10)) {
      val ix = Retrieval.postingsIndex(corpus, "doc_id",
        TA.tokens(col("text")))
      val ex = asKey(Retrieval.bm25TopKWith(ix, qs, "query_id",
        TA.tokens(col("text")), k = k))
      val pr = asKey(Retrieval.bm25TopKPrunedWith(ix, qs, "query_id",
        TA.tokens(col("text")), k = k))
      assert(pr === ex, s"pruned/exhaustive diverged at k=$k")
      ix.unpersist()
    }
    // ties: four docs, three with IDENTICAL scores for the query —
    // the k=2 cut falls inside the tie group, resolved doc-asc; the
    // pruned θ equals the tied score exactly (integer micro-units),
    // and θ-tied docs must remain candidates
    val ties = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x z"))
      .toDF("doc_id", "text")
    val tq = Seq((9L, "x")).toDF("query_id", "text")
    val ix = graft.operators.Retrieval.postingsIndex(ties, "doc_id",
      TA.tokens(col("text")))
    for (k <- Seq(1, 2, 3, 4)) {
      val ex = asKey(graft.operators.Retrieval.bm25TopKWith(ix, tq,
        "query_id", TA.tokens(col("text")), k = k))
      val pr = asKey(graft.operators.Retrieval.bm25TopKPrunedWith(ix,
        tq, "query_id", TA.tokens(col("text")), k = k))
      assert(pr === ex, s"tie handling diverged at k=$k")
    }
    ix.unpersist()
  }

  test("pruned BM25 == exhaustive on a Zipfian corpus; stopword-grade " +
    "terms demote to non-essential and the candidate set shrinks") {
    import graft.operators.Retrieval
    // Zipf-ish: 'the' in every doc, 'common' in 1/3, 'mid' in 1/12,
    // 'rare' in 1/40, plus a unique token and varied padding lengths
    val zipf = (0 until 120).map { i =>
      val parts = Seq("the") ++
        (if (i % 3 == 0) Seq("common") else Nil) ++
        (if (i % 12 == 0) Seq("mid") else Nil) ++
        (if (i % 40 == 0) Seq("rare") else Nil) ++
        Seq(s"u$i") ++ Seq.fill(i % 5)("pad")
      (i.toLong, parts.mkString(" "))
    }.toDF("doc_id", "text")
    val qs = Seq((1L, "rare the"), (2L, "the common rare"),
      (3L, "mid the"), (4L, "the"), (5L, "absent"), (6L, "the rare"))
      .toDF("query_id", "text")
    val ix = Retrieval.postingsIndex(zipf, "doc_id",
      TA.tokens(col("text")))
    // k=3 == rare's df → θ exists for rare-seeded sigs; k=10 > every
    // seed list → θ absent → prune degrades to exhaustive; k=1 is the
    // tightest θ
    for (k <- Seq(1, 3, 10)) {
      val ex = asKey(Retrieval.bm25TopKWith(ix, qs, "query_id",
        TA.tokens(col("text")), k = k))
      val pr = asKey(Retrieval.bm25TopKPrunedWith(ix, qs, "query_id",
        TA.tokens(col("text")), k = k))
      assert(pr === ex, s"pruned/exhaustive diverged at k=$k")
    }
    // the decision table at k=3: for the {rare, the} signature the
    // stopword demotes (its ub-prefix sum sits below rare's 3rd-best
    // contribution), rare stays essential
    val qsig = qs.select(col("query_id").as("query"),
      array_sort(array_distinct(TA.tokens(col("text")))).as("__sig"))
    val split = Retrieval.essentialSplit(ix, qsig, k = 3, k1 = 1.2,
      b = 0.75, maxDfPermille = 1000, bounds = None)
      .filter(col("__sig") === array(lit("rare"), lit("the")))
      .select("term", "__ess").as[(String, Boolean)].collect().toMap
    assert(split === Map("rare" -> true, "the" -> false),
      s"expected the stopword demoted: $split")
    // and the prune is real work saved: docs matching ONLY the
    // demoted stopword (the bulk of the corpus) never reach scoring
    val skipped = zipf.count() -
      zipf.filter(col("text").contains("rare")).count()
    assert(skipped > 100,
      s"fixture must have a large stopword-only population ($skipped)")
    ix.unpersist()
  }

  test("loose θ on a Zipfian fixture with a mid-frequency spike in " +
    "the seed docs: pruned == exhaustive, and the mid term stays " +
    "essential") {
    import graft.operators.Retrieval
    // the inequality chain (hand-computed: N=240, avg len 880/240):
    // 'rare' in the 4 seed docs only (idf 3.98), 'mid' in 24 docs with
    // its tf_max=4 spike INSIDE the seed docs (idf 2.29, ub =
    // idf·2.2·4/4.3 ≈ 4.68), 'the' everywhere (ub ≈ 0). Loose θ = the
    // seed docs' single-term rare contribution ≈ 2.90 < ub_mid → mid
    // stays essential.
    val zipf = (0 until 240).map { i =>
      val isSeed = i % 60 == 0
      val parts = Seq("the") ++
        (if (isSeed) Seq.fill(4)("mid")
         else if (i % 10 == 0) Seq("mid") else Nil) ++
        (if (isSeed) Seq("rare") else Nil) ++
        Seq(s"u$i") ++ Seq.fill(i % 4)("pad")
      (i.toLong, parts.mkString(" "))
    }.toDF("doc_id", "text")
    val qs = Seq((1L, "rare mid the"), (2L, "rare the"),
      (3L, "mid the"), (4L, "absent rare")).toDF("query_id", "text")
    val ix = Retrieval.postingsIndex(zipf, "doc_id",
      TA.tokens(col("text")))
    for (k <- Seq(1, 2, 4, 10)) {
      val ex = asKey(Retrieval.bm25TopKWith(ix, qs, "query_id",
        TA.tokens(col("text")), k = k))
      val loose = asKey(Retrieval.bm25TopKPrunedWith(ix, qs,
        "query_id", TA.tokens(col("text")), k = k))
      assert(loose === ex, s"loose diverged at k=$k")
    }
    // the decision table at k=2 for {mid, rare, the}: mid stays
    // essential (its ub, inflated by tf_max=4, tops rare's
    // single-term contribution) and 'the' demotes. docs/SCALE.md's
    // removed full-seed notch existed to demote mid here; this pin
    // keeps the fixture that shape for any later θ notch.
    val qsig = qs.select(col("query_id").as("query"),
      array_sort(array_distinct(TA.tokens(col("text")))).as("__sig"))
    val ess = Retrieval.essentialSplit(ix, qsig, k = 2, k1 = 1.2,
        b = 0.75, maxDfPermille = 1000, bounds = None)
      .filter(col("__sig") === array(lit("mid"), lit("rare"), lit("the")))
      .select("term", "__ess").as[(String, Boolean)].collect().toMap
    assert(ess === Map("rare" -> true, "mid" -> true, "the" -> false),
      "fixture drift: loose θ no longer keeps mid essential")
    ix.unpersist()
  }

  test("postings TABLE tense: create + 2 appends == DataFrame index == " +
    "from-scratch rebuild, probe for probe; compaction + maintenance " +
    "preserve content") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val b1 = Seq((4L, "dog cherry dog"), (5L, "elk")).toDF("doc_id", "text")
    val b2 = Seq((6L, "apple elk fox"), (7L, "banana")).toDF("doc_id", "text")
    val prefix = "graft_bm25_ix"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(b1, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(b2, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      val unioned = corpus.unionByName(b1).unionByName(b2)
      val fresh = Retrieval.postingsIndex(unioned, "doc_id",
        toks(col("text")))
      val staged = Retrieval.loadPostingsIndex(spark, prefix)
      def tfSet(ix: Retrieval.PostingsIndex) =
        ix.postings.select("doc", "term", "tf")
          .as[(Long, String, Long)].collect().toSet
      def lenSet(ix: Retrieval.PostingsIndex) =
        ix.doclen.select("doc", "len").as[(Long, Long)].collect().toSet
      def dfSet(ix: Retrieval.PostingsIndex) =
        ix.dfreq.select("term", "df").as[(String, Long)].collect().toSet
      def statsRow(ix: Retrieval.PostingsIndex) =
        ix.stats.as[(Long, Long)].collect().toSeq
      assert(tfSet(staged) === tfSet(fresh))
      assert(lenSet(staged) === lenSet(fresh))
      assert(dfSet(staged) === dfSet(fresh))
      assert(statsRow(staged) === statsRow(fresh))
      // probe THROUGH the staged tables — one probe definition for
      // all tenses, so verdicts must be row-identical
      val qs = Seq((100L, "apple dog"), (101L, "elk cherry"))
        .toDF("query_id", "text")
      def probe(ix: Retrieval.PostingsIndex) =
        Retrieval.bm25TopKWith(ix, qs, "query_id", toks(col("text")),
            k = 10)
          .select("query", "rank", "doc", "score_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      val want = probe(fresh)
      assert(probe(staged) === want)
      assert(want.nonEmpty)
      // staged pruning bounds == a from-scratch pruneBounds, and the
      // PRUNED probe over the staged tables + staged bounds is still
      // the same result
      def boundsSet(df: org.apache.spark.sql.DataFrame) =
        df.select("term", "tf_max").as[(String, Long)].collect().toSet
      assert(boundsSet(Retrieval.loadPruneBounds(spark, prefix))
        === boundsSet(Retrieval.pruneBounds(fresh)))
      assert(Retrieval.bm25TopKPrunedWith(staged, qs, "query_id",
          toks(col("text")), k = 10,
          bounds = Some(Retrieval.loadPruneBounds(spark, prefix)))
        .select("query", "rank", "doc", "score_q6")
        .as[(Long, Long, Long, Long)].collect().toSet === want)
      // compaction merges the dfreq partials (3 batches of them) back
      // to vocabulary size and changes no probe verdict
      val partialRows = spark.table(prefix + "_dfreq").count()
      val vocab = dfSet(fresh).size.toLong
      assert(partialRows > vocab,
        s"fixture must have unmerged partials ($partialRows vs $vocab)")
      Retrieval.compactPostingsIndexTable(spark, prefix, buckets = 2)
      assert(spark.table(prefix + "_dfreq").count() === vocab)
      assert(probe(Retrieval.loadPostingsIndex(spark, prefix)) === want)
      // audit-gated maintenance: a just-compacted index is healthy
      // (no-op), and the call is idempotent
      assert(!Retrieval.maintainPostingsIndexTable(spark, prefix, 2))
      assert(probe(Retrieval.loadPostingsIndex(spark, prefix)) === want)
      fresh.unpersist()
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("straddling reader: a probe re-resolving between ANY two " +
    "table rewrites of a tombstone-applying compaction is exact — " +
    "never a mixed state") {
    // the multi-table compaction rewrites six tables one at a time;
    // this pins the cross-table ordering argument (postings/doclen
    // cleaned first, derived states recomputed, tombstones cleared
    // LAST) by probing the full load path after EVERY step — the
    // reader a production deployment actually has during maintenance
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val b1 = Seq((4L, "dog cherry dog"), (5L, "elk apple"))
      .toDF("doc_id", "text")
    val prefix = "graft_bm25_straddle"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    val qs = Seq((100L, "apple dog"), (101L, "elk cherry"))
      .toDF("query_id", "text")
    def probeSet(ix: Retrieval.PostingsIndex) =
      Retrieval.bm25TopKWith(ix, qs, "query_id", toks(col("text")),
          k = 10)
        .select("query", "rank", "doc", "score_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(b1, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(0L))
      // takedown touching a base doc AND an appended doc
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(2L, 4L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
        batchId = Some(1L)) === 2L)
      val survivors = corpus.unionByName(b1)
        .filter(!col("doc_id").isin(2L, 4L))
      val fresh = Retrieval.postingsIndex(survivors, "doc_id",
        toks(col("text")))
      val want = probeSet(fresh)
      assert(want.nonEmpty)
      assert(probeSet(Retrieval.loadPostingsIndex(spark, prefix))
        === want, "pre-compaction serving must already be exact")
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      Retrieval.compactPostingsIndexTableStepped(spark, prefix,
        buckets = 2, { step =>
          seen += step
          assert(probeSet(Retrieval.loadPostingsIndex(spark, prefix))
            === want,
            s"straddling reader saw a mixed state after the '$step' " +
              "rewrite")
        })
      // the hook saw every table of the tombstone-applying path, in
      // the documented order — adding a table to the layout without
      // extending the ordering proof fails here
      assert(seen.toSeq === Seq("postings", "doclen", "dfreq",
        "tfmax", "stats", "tombstones"))
      assert(probeSet(Retrieval.loadPostingsIndex(spark, prefix))
        === want)
      // and the compaction fully applied: no tombstones, no dead rows
      assert(spark.table(prefix + "_tombstones").isEmpty)
      assert(spark.table(prefix + "_postings")
        .filter(col("doc").isin(2L, 4L)).isEmpty)
      fresh.unpersist()
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("appendToPostingsIndexTable rejects a batch holding a " +
    "pending-tombstone id — the compaction would silently destroy " +
    "the re-appended rows") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val prefix = "graft_bm25_tombguard"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(2L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
        batchId = Some(0L)) === 1L)
      // re-appending the tombstoned id must fail LOUDLY (its rows
      // plus positive df/stats partials would be destroyed by the
      // next compaction's anti-join)
      intercept[IllegalArgumentException] {
        Retrieval.appendToPostingsIndexTable(
          Seq((2L, "banana cherry")).toDF("doc_id", "text"), "doc_id",
          toks(col("text")), prefix, buckets = 2, batchId = Some(1L))
      }
      // a disjoint batch appends fine while the tombstone is pending
      Retrieval.appendToPostingsIndexTable(
        Seq((9L, "fig")).toDF("doc_id", "text"), "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(2L))
      // once compaction physically applies the tombstone, the guard
      // clears (id reuse is still pipeline-hostile, but no longer a
      // silent-destruction hazard)
      Retrieval.compactPostingsIndexTable(spark, prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(
        Seq((2L, "banana cherry")).toDF("doc_id", "text"), "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(3L))
      val served = Retrieval.loadPostingsIndex(spark, prefix).doclen
        .select("doc").as[Long].collect().toSet
      assert(served === Set(1L, 2L, 3L, 9L))
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("gated append runs the tombstone-clash guard BEFORE its " +
    "replay partition drop: a landed-then-tombstoned batch's replay " +
    "fails with the landed partitions intact") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val prefix = "graft_bm25_clashorder"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    val batch = Seq((20L, "kiwi lime"), (21L, "mango"))
      .toDF("doc_id", "text")
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(batch, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(4L))
      // the batch landed but the caller's gate commit crashed; a
      // takedown then tombstones one of its ids before the replay
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(20L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
        batchId = Some(0L)) === 1L)
      // the replay must fail BEFORE dropping its own landed partition
      // — a drop-first ordering would destroy doc 21's rows on every
      // retry while the throw makes replay unrecoverable
      intercept[IllegalArgumentException] {
        Retrieval.appendToPostingsIndexTable(batch, "doc_id",
          toks(col("text")), prefix, buckets = 2, batchId = Some(4L))
      }
      assert(spark.table(prefix + "_doclen")
        .filter(col("doc") === 21L).count() === 1L,
        "the landed partition must survive the refused replay")
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("gated table append is idempotent per batch id: full and " +
    "PARTIAL replays both land content identical to one delivery") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val b1 = Seq((4L, "dog cherry dog"), (5L, "elk")).toDF("doc_id", "text")
    val b2 = Seq((6L, "apple elk fox")).toDF("doc_id", "text")
    val prefix = "graft_bm25_replay"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _)
    def counts() = all.map(t => t -> spark.table(t).count()).toMap
    def probeSet() = {
      val qs = Seq((1L, "dog elk apple")).toDF("query_id", "text")
      Retrieval.bm25TopKWith(Retrieval.loadPostingsIndex(spark, prefix),
          qs, "query_id", toks(col("text")), k = 10)
        .select("query", "rank", "doc", "score_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(b1, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(7L))
      val once = counts()
      val onceProbe = probeSet()
      // FULL replay of batch 7 — a set compare would hide duplicate
      // rows, so pin exact per-table row COUNTS and the probe
      Retrieval.appendToPostingsIndexTable(b1, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(7L))
      assert(counts() === once, "full replay must not double-count")
      assert(probeSet() === onceProbe)
      // PARTIAL first attempt of batch 8: only the postings table got
      // its rows before the "crash" (the worst-shaped leftover —
      // inconsistent across the five tables); the replay must erase
      // it and land batch 8 exactly once everywhere
      graft.sources.BucketedTables.appendBucketed(
        Retrieval.postingsIndex(b2, "doc_id", toks(col("text")))
          .postings.withColumn("batch_id", lit(8L)),
        prefix + "_postings", 2, Seq("term"),
        partitionCols = Seq("batch_id"))
      Retrieval.appendToPostingsIndexTable(b2, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(8L))
      val fresh = Retrieval.postingsIndex(
        corpus.unionByName(b1).unionByName(b2), "doc_id",
        toks(col("text")))
      val staged = Retrieval.loadPostingsIndex(spark, prefix)
      assert(staged.postings.count() === fresh.postings.count(),
        "partial-attempt leftovers must be erased by the replay")
      assert(staged.postings.select("doc", "term", "tf")
          .as[(Long, String, Long)].collect().toSet ===
        fresh.postings.as[(Long, String, Long)].collect().toSet)
      assert(staged.dfreq.select("term", "df")
          .as[(String, Long)].collect().toSet ===
        fresh.dfreq.as[(String, Long)].collect().toSet)
      assert(staged.stats.as[(Long, Long)].collect() ===
        fresh.stats.as[(Long, Long)].collect())
      // negative ids are reserved for the base partition
      intercept[IllegalArgumentException] {
        Retrieval.appendToPostingsIndexTable(b2, "doc_id",
          toks(col("text")), prefix, buckets = 2, batchId = Some(-1L))
      }
      fresh.unpersist()
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("targeted delete: probe == from-scratch rebuild over the " +
    "surviving corpus — exhaustive AND pruned with the stale-high " +
    "bounds; absent/already-deleted ids are no-ops; a deleted doc " +
    "may still ask, never answer") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    // fox exists ONLY in victim doc 4 — its df must net to zero and
    // the term must vanish from the merged dfreq view (rebuild has no
    // such row)
    val b1 = Seq((4L, "elk fox"), (5L, "elk cherry")).toDF("doc_id", "text")
    val prefix = "graft_bm25_del"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.appendToPostingsIndexTable(b1, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(0L))
      // victims span the base corpus (doc 2) and the appended batch
      // (doc 4); id 99 is absent and must not decrement anything
      val n = Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(2L, 4L, 99L).toDF("doc_id"), "doc_id", prefix,
        buckets = 2, batchId = Some(0L))
      assert(n === 2L)
      val survivors = corpus.unionByName(b1)
        .filter(!col("doc_id").isin(2L, 4L))
      val fresh = Retrieval.postingsIndex(survivors, "doc_id",
        toks(col("text")))
      val staged = Retrieval.loadPostingsIndex(spark, prefix)
      // the three probe-visible states are EXACT over the survivors
      assert(staged.doclen.select("doc", "len")
          .as[(Long, Long)].collect().toSet ===
        fresh.doclen.as[(Long, Long)].collect().toSet)
      assert(staged.dfreq.select("term", "df")
          .as[(String, Long)].collect().toSet ===
        fresh.dfreq.as[(String, Long)].collect().toSet,
        "net-zero terms must vanish from the merged df view")
      assert(staged.stats.as[(Long, Long)].collect().toSeq ===
        fresh.stats.as[(Long, Long)].collect().toSeq)
      // probes: exhaustive parity, and pruned parity under the
      // DELIBERATELY stale (full-corpus) tfmax bounds — stale-high is
      // a valid upper bound, so pruning stays exact
      val qs = Seq((100L, "cherry elk"), (2L, "banana cherry"))
        .toDF("query_id", "text")
      def probeSet(df: org.apache.spark.sql.DataFrame) =
        df.select("query", "rank", "doc", "score_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      val want = probeSet(Retrieval.bm25TopKWith(fresh, qs,
        "query_id", toks(col("text")), k = 10))
      assert(want.nonEmpty)
      assert(probeSet(Retrieval.bm25TopKWith(staged, qs, "query_id",
        toks(col("text")), k = 10)) === want)
      assert(probeSet(Retrieval.bm25TopKPrunedWith(staged, qs,
        "query_id", toks(col("text")), k = 10,
        bounds = Some(Retrieval.loadPruneBounds(spark, prefix))))
        === want)
      // deleted doc 2 queries with its own text and gets results —
      // none of which are a deleted doc
      val asked = want.filter(_._1 == 2L)
      assert(asked.nonEmpty, "a deleted doc may still ask")
      assert(!want.exists(r => r._3 == 2L || r._3 == 4L),
        "a deleted doc must never be retrieved")
      // re-deleting the same ids is a no-op (no double-decrement)
      val statsBefore = staged.stats.as[(Long, Long)].collect().toSeq
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(2L, 4L).toDF("doc_id"), "doc_id", prefix,
        buckets = 2, batchId = Some(1L)) === 0L)
      assert(Retrieval.loadPostingsIndex(spark, prefix).stats
        .as[(Long, Long)].collect().toSeq === statsBefore)
      fresh.unpersist()
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("gated delete is replay-idempotent (full and PARTIAL first " +
    "attempts) and its partition namespace never collides with an " +
    "append using the same batch id") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val b1 = Seq((4L, "dog cherry"), (5L, "elk")).toDF("doc_id", "text")
    val prefix = "graft_bm25_del_replay"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    def counts() = all.map(t => t -> spark.table(t).count()).toMap
    def probeSet() = {
      val qs = Seq((1L, "dog elk cherry")).toDF("query_id", "text")
      Retrieval.bm25TopKWith(Retrieval.loadPostingsIndex(spark, prefix),
          qs, "query_id", toks(col("text")), k = 10)
        .select("query", "rank", "doc", "score_q6")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      // append batch 0 and delete batch 0 SHARE the id — the delete's
      // -(id+2) partition namespace must leave the append's partition
      // (batch_id=0 on dfreq/stats) untouched
      Retrieval.appendToPostingsIndexTable(b1, "doc_id",
        toks(col("text")), prefix, buckets = 2, batchId = Some(0L))
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(3L, 4L).toDF("doc_id"), "doc_id", prefix,
        buckets = 2, batchId = Some(0L)) === 2L)
      val once = counts()
      val onceProbe = probeSet()
      assert(spark.table(prefix + "_dfreq")
        .filter(col("batch_id") === 0L).count() > 0,
        "the append's own partition must survive the delete gate")
      // FULL replay of delete batch 0
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(3L, 4L).toDF("doc_id"), "doc_id", prefix,
        buckets = 2, batchId = Some(0L)) === 2L)
      assert(counts() === once, "full replay must not double-count")
      assert(probeSet() === onceProbe)
      // PARTIAL first attempt of delete batch 1: only a bogus dfreq
      // partial landed under the delete's partition before the
      // "crash"; the replay must erase it and land exactly once
      graft.sources.BucketedTables.appendBucketed(
        Seq(("cherry", -999L)).toDF("term", "df")
          .withColumn("batch_id", lit(-3L)),
        prefix + "_dfreq", 2, Seq("term"),
        partitionCols = Seq("batch_id"))
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(5L).toDF("doc_id"), "doc_id", prefix,
        buckets = 2, batchId = Some(1L)) === 1L)
      val survivors = corpus.unionByName(b1)
        .filter(!col("doc_id").isin(3L, 4L, 5L))
      val fresh = Retrieval.postingsIndex(survivors, "doc_id",
        toks(col("text")))
      val staged = Retrieval.loadPostingsIndex(spark, prefix)
      assert(staged.dfreq.select("term", "df")
          .as[(String, Long)].collect().toSet ===
        fresh.dfreq.as[(String, Long)].collect().toSet,
        "partial-attempt leftovers must be erased by the replay")
      assert(staged.stats.as[(Long, Long)].collect().toSeq ===
        fresh.stats.as[(Long, Long)].collect().toSeq)
      fresh.unpersist()
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintenance treats pending tombstones as a trigger: victims " +
    "leave postings/doclen physically, tfmax is recomputed exactly, " +
    "tombstones clear, and the probe verdict is unchanged") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val prefix = "graft_bm25_del_compact"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      // doc 3 holds the corpus-max cherry tf (3) — deleting it must
      // LOWER the recomputed bound, proving recompute-not-merge
      assert(Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(3L).toDF("doc_id"), "doc_id", prefix,
        buckets = 2, batchId = Some(0L)) === 1L)
      val qs = Seq((100L, "cherry banana")).toDF("query_id", "text")
      def probeSet() =
        Retrieval.bm25TopKWith(
            Retrieval.loadPostingsIndex(spark, prefix),
            qs, "query_id", toks(col("text")), k = 10)
          .select("query", "rank", "doc", "score_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      val want = probeSet()
      assert(want.nonEmpty)
      // pre-compaction: the dead rows are still in postings, the
      // tombstone is pending, and the stale bound still shows tf 3
      assert(spark.table(prefix + "_postings")
        .filter(col("doc") === 3L).count() > 0)
      assert(spark.table(prefix + "_tombstones").count() === 1L)
      assert(Retrieval.loadPruneBounds(spark, prefix)
        .filter(col("term") === "cherry")
        .select("tf_max").as[Long].head() === 3L)
      // the pending tombstone IS the maintenance trigger
      assert(Retrieval.maintainPostingsIndexTable(spark, prefix, 2))
      assert(spark.table(prefix + "_postings")
        .filter(col("doc") === 3L).count() === 0L,
        "compaction must remove the victim's postings rows")
      assert(spark.table(prefix + "_doclen")
        .filter(col("doc") === 3L).count() === 0L)
      assert(spark.table(prefix + "_tombstones").count() === 0L,
        "applied tombstones must clear")
      assert(Retrieval.loadPruneBounds(spark, prefix)
        .filter(col("term") === "cherry")
        .select("tf_max").as[Long].head() === 1L,
        "tfmax must be recomputed from the surviving postings")
      assert(probeSet() === want, "compaction changes no verdict")
      // healthy after: no-op, and the whole cycle was idempotent
      assert(!Retrieval.maintainPostingsIndexTable(spark, prefix, 2))
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("restrictToDocs: the filter ranks INSIDE (a below-the-cut " +
    "allowed doc enters the filtered top-k), scores stay " +
    "corpus-level, the pruned probe stays exact, and it composes " +
    "with deletes") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val ix = Retrieval.postingsIndex(corpus, "doc_id",
      toks(col("text")))
    val qs = Seq((100L, "cherry banana")).toDF("query_id", "text")
    def probe(ixx: Retrieval.PostingsIndex, k: Int,
              pruned: Boolean = false) =
      (if (pruned)
        Retrieval.bm25TopKPrunedWith(ixx, qs, "query_id",
          toks(col("text")), k = k)
      else Retrieval.bm25TopKWith(ixx, qs, "query_id",
        toks(col("text")), k = k))
        .select("rank", "doc", "score_q6")
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // unfiltered: cherry matches docs 2, 3; banana docs 1, 2
    val full = probe(ix, k = 2)
    val fullAll = probe(ix, k = 10)
    assert(fullAll.map(_._2).toSet === Set(1L, 2L, 3L))
    val cut = full.map(_._2).toSet
    // restrict to the docs NOT in the unfiltered top-2: the allowed
    // doc below the cut must now rank — a post-truncation filter of
    // `full` would return nothing for it
    val below = Set(1L, 2L, 3L) -- cut
    val restricted = Retrieval.restrictToDocs(ix,
      below.toSeq.toDF("doc_id"), "doc_id")
    val filtered = probe(restricted, k = 2)
    assert(filtered.map(_._2).toSet === below,
      s"below-the-cut allowed docs must rank: $filtered")
    // corpus-level stats: the allowed doc's score is identical to its
    // score in the unfiltered probe (the filter narrows WHO ranks,
    // not what anything is worth)
    val fullScores = fullAll.map(r => r._2 -> r._3).toMap
    filtered.foreach { case (_, doc, s) =>
      assert(s === fullScores(doc),
        s"doc $doc must score identically under the filter")
    }
    // the pruned probe is result-identical under any restriction
    // (bounds stay corpus-level, θ from filtered seeds only drops)
    assert(probe(restricted, k = 2, pruned = true) === filtered)
    // composes with the table-tense delete: a tombstoned doc stays
    // excluded even when the allowlist names it
    val prefix = "graft_bm25_restrict_del"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(3L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
        batchId = Some(0L))
      val staged = Retrieval.restrictToDocs(
        Retrieval.loadPostingsIndex(spark, prefix),
        Seq(2L, 3L).toDF("doc_id"), "doc_id")
      val got = Retrieval.bm25TopKWith(staged, qs, "query_id",
          toks(col("text")), k = 10)
        .select("doc").as[Long].collect().toSet
      assert(got === Set(2L),
        "restrict(delete(ix)) must exclude the tombstoned doc")
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    ix.unpersist()
  }

  test("half-applied ungated delete (tombstone landed, negative " +
    "partials lost) self-heals at the tombstone-triggered " +
    "compaction: df/stats recomputed from the cleaned base tables") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val prefix = "graft_bm25_halfdel"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      // simulate the ungated crash window: the tombstone for doc 2
      // lands, the negative df/stats partials never do
      graft.sources.BucketedTables.appendBucketed(
        Seq(2L).toDF("doc").withColumn("batch_id", lit(-1L)),
        prefix + "_tombstones", 2, Seq("doc"),
        partitionCols = Seq("batch_id"))
      val survivors = corpus.filter(col("doc_id") =!= 2L)
      val fresh = Retrieval.postingsIndex(survivors, "doc_id",
        toks(col("text")))
      val qs = Seq((100L, "banana cherry")).toDF("query_id", "text")
      def probeSet(ix: Retrieval.PostingsIndex) =
        Retrieval.bm25TopKWith(ix, qs, "query_id",
            toks(col("text")), k = 10)
          .select("query", "rank", "doc", "score_q6")
          .as[(Long, Long, Long, Long)].collect().toSet
      // BEFORE compaction: serving is correct in WHICH docs appear
      // (tombstoned docs cannot score) but df/N are overstated — the
      // documented transient window
      val staged0 = Retrieval.loadPostingsIndex(spark, prefix)
      assert(!probeSet(staged0).exists(_._3 == 2L))
      assert(staged0.stats.as[(Long, Long)].head()._1 === 3L,
        "the half-applied window overstates n_docs (docs it: 3 not 2)")
      // the pending tombstone triggers the healing compaction
      assert(Retrieval.maintainPostingsIndexTable(spark, prefix, 2))
      val staged1 = Retrieval.loadPostingsIndex(spark, prefix)
      assert(staged1.stats.as[(Long, Long)].collect().toSeq ===
        fresh.stats.as[(Long, Long)].collect().toSeq,
        "stats must be rebuild-exact after the healing compaction")
      assert(staged1.dfreq.select("term", "df")
          .as[(String, Long)].collect().toSet ===
        fresh.dfreq.as[(String, Long)].collect().toSet,
        "df must be rebuild-exact after the healing compaction")
      assert(probeSet(staged1) === probeSet(fresh),
        "probe == rebuild over the survivors after healing")
      fresh.unpersist()
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("takedownAudit reports each surface through the erasure " +
    "lifecycle: live → silenced-but-physical → erased; unknown ids " +
    "read all-zero") {
    import graft.operators.Retrieval
    val toks = (c: org.apache.spark.sql.Column) => TA.tokens(c)
    val prefix = "graft_bm25_audit_spec"
    val all = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats",
      "_tombstones").map(prefix + _)
    def audit() = Retrieval.takedownAudit(spark,
        Seq(1L, 3L, 99L).toDF("doc_id"), "doc_id", prefix)
      .select("doc", "serving_rows", "physical_rows", "tombstoned")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    try {
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        toks(col("text")), prefix, buckets = 2)
      // doc 1: {apple, banana} → 2 postings + 1 doclen = 3 physical;
      // doc 3: {cherry, dog} → 3 physical
      assert(audit() === Set(
        (1L, 1L, 3L, false), (3L, 1L, 3L, false), (99L, 0L, 0L, false)))
      Retrieval.deleteFromPostingsIndexTable(spark,
        Seq(3L).toDF("doc_id"), "doc_id", prefix, buckets = 2,
        batchId = Some(0L))
      // silenced instantly (serving 0), bytes still on storage,
      // tombstone distinguishes "deleted" from "never present"
      assert(audit() === Set(
        (1L, 1L, 3L, false), (3L, 0L, 3L, true), (99L, 0L, 0L, false)))
      assert(Retrieval.maintainPostingsIndexTable(spark, prefix, 2))
      // erased: compaction removed the bytes and cleared the tombstone
      assert(audit() === Set(
        (1L, 1L, 3L, false), (3L, 0L, 0L, false), (99L, 0L, 0L, false)))
    } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("PostingsIndex lifecycle: build and appends pin their tf+len " +
    "frames; checkpointed() releases them and preserves every table") {
    import graft.operators.Retrieval
    val base = Retrieval.postingsIndex(corpus, "doc_id",
      TA.tokens(col("text")))
    val b1 = Seq((4L, "dog cherry dog")).toDF("doc_id", "text")
    val appended = Retrieval.appendToPostingsIndex(base, b1, "doc_id",
      TA.tokens(col("text")))
    assert(appended.pinned.size === 4,
      "base tf+doclen + a tf+len pair per append")
    val before = appended.postings.as[(Long, String, Long)]
      .collect().toSet
    val flat = appended.checkpointed()
    assert(flat.pinned.isEmpty)
    // the superseded frames were released
    assert(appended.pinned.forall(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    assert(flat.postings.as[(Long, String, Long)].collect().toSet
      === before)
    // and the checkpointed plan is flat — no union tree
    assert(!flat.postings.queryExecution.executedPlan.toString
      .contains("Union"))
  }

  // ---- stage-2: rerankByCosine ----

  // embeddings fixture: unit axes plus a mixed, a zero-norm, and a
  // NULL vector. cos(q=100, ...) is hand-computable: doc 1 → 1.0,
  // doc 2 → 0.6, doc 3 → 0.0, doc 4 (zero-norm) → 0 by contract,
  // doc 5 (NULL) → dropped.
  private lazy val vecs = Seq(
    (100L, Some(Seq(1.0f, 0.0f))),
    (1L, Some(Seq(1.0f, 0.0f))),
    (2L, Some(Seq(0.6f, 0.8f))),
    (3L, Some(Seq(0.0f, 1.0f))),
    (4L, Some(Seq(0.0f, 0.0f))),
    (5L, None: Option[Seq[Float]]),
    (200L, None: Option[Seq[Float]]),
    (201L, Some(Seq(0.0f, 0.0f)))).toDF("vec_id", "embedding")

  // cos rounded at 4dp (the registered-query stance): the fixture's
  // 0.6f widens to 0.60000000953... in float64
  private def rerank(cands: Seq[(Long, Long, Long)], k: Int) =
    graft.operators.Retrieval.rerankByCosine(
        cands.toDF("query", "rank", "doc"),
        vecs, "vec_id", "embedding", vecs, "vec_id", "embedding", k)
      .select(col("query"), col("rank"), col("doc"),
        graft.rnd(col("cos"), 4).as("cos"))
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted

  test("rerankByCosine: hand-computed cosines decide the order; " +
    "NULL vectors drop, zero-norm scores 0, ties break doc-asc") {
    val cands = (1L to 5L).zipWithIndex.map { case (d, i) =>
      (100L, (i + 1).toLong, d) }
    val got = rerank(cands, k = 10)
    // doc 5's NULL vector is unscorable → dropped; docs 3 and 4 tie
    // at cos 0 → doc asc
    assert(got === Seq(
      (100L, 1L, 1L, 1.0d), (100L, 2L, 2L, 0.6d),
      (100L, 3L, 3L, 0.0d), (100L, 4L, 4L, 0.0d)))
    // stage-1 rank order is intentionally ignored: feeding the same
    // candidates with REVERSED incoming ranks changes nothing
    val rev = (1L to 5L).zipWithIndex.map { case (d, i) =>
      (100L, (5 - i).toLong, d) }
    assert(rerank(rev, k = 10) === got)
  }

  test("rerankByCosine: k truncates, duplicate candidates collapse, " +
    "NULL/zero-norm QUERY vectors behave by contract") {
    // duplicate (query, doc) rows (doc 2 twice) must not occupy two
    // ranks and displace a distinct doc at the k boundary
    val dup = Seq((100L, 1L, 1L), (100L, 2L, 2L), (100L, 3L, 2L),
      (100L, 4L, 3L))
    assert(rerank(dup, k = 3) === Seq(
      (100L, 1L, 1L, 1.0d), (100L, 2L, 2L, 0.6d),
      (100L, 3L, 3L, 0.0d)))
    // k=1 truncates per query
    assert(rerank(dup, k = 1) === Seq((100L, 1L, 1L, 1.0d)))
    // a query with a NULL vector is unscorable → absent entirely;
    // a zero-norm query scores every candidate 0 → doc-asc order
    val qEdge = Seq((200L, 1L, 1L), (200L, 2L, 2L),
      (201L, 1L, 2L), (201L, 2L, 1L))
    assert(rerank(qEdge, k = 10) === Seq(
      (201L, 1L, 1L, 0.0d), (201L, 2L, 2L, 0.0d)))
  }

  test("rerankByCosine: dense math runs over candidates only — no " +
    "cartesian in the plan") {
    val plan = graft.operators.Retrieval.rerankByCosine(
        Seq((100L, 1L, 1L), (100L, 2L, 2L)).toDF("query", "rank", "doc"),
        vecs, "vec_id", "embedding", vecs, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "rerank must stay an equi-join funnel stage")
  }

  // ---- stage-2: rrfFuse ----

  // the operator's exact contribution arithmetic, in the same JVM ops
  private def rrfQ6(rank: Long, rrfK: Int = 60): Long =
    math.floor(1000000.0d / (rrfK + rank.toDouble)).toLong

  private def fuse(lists: Seq[Seq[(Long, Long, Long)]], k: Int,
                   rrfK: Int = 60) =
    graft.operators.Retrieval.rrfFuse(
        lists.map(_.toDF("query", "rank", "doc")), k, rrfK)
      .select("query", "rank", "doc", "rrf_q6")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("rrfFuse: hand-computed micro-unit sums; consensus docs " +
    "outrank single-list docs; 3-list fusion sums all three") {
    // list A: doc 1 @1, doc 2 @2; list B: doc 2 @1, doc 3 @2;
    // list C: doc 2 @3, doc 1 @1.
    val a = Seq((9L, 1L, 1L), (9L, 2L, 2L))
    val b = Seq((9L, 1L, 2L), (9L, 2L, 3L))
    val c = Seq((9L, 3L, 2L), (9L, 1L, 1L))
    val got = fuse(Seq(a, b, c), k = 10)
    val want = Map(
      1L -> (rrfQ6(1) + rrfQ6(1)),
      2L -> (rrfQ6(2) + rrfQ6(1) + rrfQ6(3)),
      3L -> rrfQ6(2))
    assert(got.map(r => (r._3, r._4)).toMap === want)
    // doc 2 (in all three lists) must outrank doc 1 (two firsts)
    val order = got.sortBy(_._2).map(_._3)
    assert(order === want.toSeq.sortBy { case (d, s) => (-s, d) }
      .map(_._1))
    assert(order.head === 2L)
    // two-list fusion is the same arithmetic over fewer terms
    assert(fuse(Seq(a, b), k = 10).map(r => (r._3, r._4)).toMap ===
      Map(1L -> rrfQ6(1), 2L -> (rrfQ6(2) + rrfQ6(1)),
        3L -> rrfQ6(2)))
  }

  test("rrfFuse: k truncates with ties broken doc-asc; queries fuse " +
    "independently; rrfK shifts every contribution") {
    // docs 1 and 2 tie exactly (same ranks across two lists, swapped)
    val a = Seq((9L, 1L, 1L), (9L, 2L, 2L), (8L, 1L, 7L))
    val b = Seq((9L, 1L, 2L), (9L, 2L, 1L))
    val got = fuse(Seq(a, b), k = 1)
    // query 9: both docs sum rrfQ6(1)+rrfQ6(2) → tie → doc 1 wins;
    // query 8 fuses its single list independently
    assert(got === Seq((8L, 1L, 7L, rrfQ6(1)),
      (9L, 1L, 1L, rrfQ6(1) + rrfQ6(2))))
    // rrfK=0: contribution is 1e6/rank exactly
    assert(fuse(Seq(a), k = 10, rrfK = 0)
      .filter(_._1 === 9L).map(r => (r._3, r._4)).toMap ===
      Map(1L -> 1000000L, 2L -> 500000L))
  }

  test("rrfFuse is invariant to list order and to row order within " +
    "lists; rerank drops candidates absent from the vector table") {
    val a = Seq((9L, 1L, 1L), (9L, 2L, 2L), (8L, 1L, 7L))
    val b = Seq((9L, 1L, 2L), (9L, 2L, 3L))
    val c = Seq((9L, 3L, 2L), (9L, 1L, 1L))
    // fusion is a sum over (query, doc) — neither the order the lists
    // are passed in nor the row order inside a list may matter
    val want = fuse(Seq(a, b, c), k = 10)
    assert(fuse(Seq(c, a, b), k = 10) === want)
    assert(fuse(Seq(b, c, a), k = 10) === want)
    assert(fuse(Seq(a.reverse, b.reverse, c.reverse), k = 10) === want)
    // an id with NO row in the vector table (distinct from a NULL
    // vector) is equally unscorable — dropped by the equi-join
    val got = rerank(Seq((100L, 1L, 1L), (100L, 2L, 999L)), k = 10)
    assert(got === Seq((100L, 1L, 1L, 1.0d)))
  }

  test("rrfFuse: no cartesian; single-list fusion preserves order " +
    "and requires at least one list") {
    val a = Seq((9L, 1L, 3L), (9L, 2L, 1L), (9L, 3L, 2L))
    assert(fuse(Seq(a), k = 10).sortBy(_._2).map(_._3) ===
      Seq(3L, 1L, 2L))
    intercept[IllegalArgumentException] {
      graft.operators.Retrieval.rrfFuse(Nil, k = 5)
    }
    val plan = graft.operators.Retrieval.rrfFuse(
        Seq(a.toDF("query", "rank", "doc")), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("k truncates per query; plan has no non-broadcast cartesian") {
    val got = run("apple cherry", k = 1)
    assert(got.size === 1 && got.head._2 === 1L)
    val plan = Retrieval.bm25TopK(
        corpus, "doc_id", TA.tokens(col("text")),
        Seq((100L, "apple")).toDF("query_id", "text"),
        "query_id", TA.tokens(col("text")), k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "BM25 probe must stay an inverted-index equi-join")
  }
}
