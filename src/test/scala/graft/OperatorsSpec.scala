package graft

import graft.operators.{AsOfJoin, Dedup, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("bigrams and shingles handle short docs") {
    val df = Seq("a b c d", "solo", "x y").toDF("text")
    val bg = df.select(TA.bigrams(TA.tokens(col("text"))).as("bg"))
      .as[Seq[String]].collect().toSeq
    assert(bg.contains(Seq("a b", "b c", "c d")))
    assert(bg.contains(Seq.empty))
    assert(bg.contains(Seq("x y")))
    val sh = df.select(TA.shingles(TA.tokens(col("text")), 3).as("sh"))
      .as[Seq[String]].collect().toSeq
    assert(sh.contains(Seq("a b c", "b c d")))
    assert(sh.contains(Seq.empty))
  }

  test("linear quality model: hand-computed Q8 scores, exact keep cut") {
    // doc 0: "the the the the" — stop 1.0 (Q4 10000), rep 1-1/3
    // (Q4 6667), lenSat 0.04 (Q4 400), short (Q4 10000):
    // 8000·10000 - 12000·6667 + 6000·400 - 5000·10000 + 2e7
    //   = -27_604_000  → score -0.27604, keep = false
    // doc 1: 20 distinct fillers + 5 stopwords — stop 0.2 (2000),
    // rep 0, lenSat 0.25 (2500), short 0:
    // 8000·2000 + 6000·2500 + 2e7 = 51_000_000 → 0.51, keep = true
    val d = Seq(
      (0L, "the the the the"),
      (1L, ((0 until 20).map(i => s"w$i") ++
        Seq("the", "a", "of", "and", "to")).mkString(" ")))
      .toDF("doc_id", "text")
    val stopwords = Seq("the", "a", "of", "and", "to")
    val toks = TA.tokens(col("text"))
    def q4(c: org.apache.spark.sql.Column) =
      floor(c * 10000.0d + 0.5d).cast("long")
    val g2 = TA.shingles(toks, 2)
    val scoreQ8 = TA.linearModelQ8(Seq(
        (q4(TA.stopwordRatio(toks, stopwords)), 8000L),
        (q4(when(size(g2) === 0, lit(0.0d)).otherwise(lit(1.0d) -
          size(array_distinct(g2)).cast("double") /
            size(g2).cast("double"))), -12000L),
        (q4(least(size(toks), lit(100)).cast("double") / 100.0d), 6000L),
        (when(size(toks) < 20, lit(10000L)).otherwise(lit(0L)), -5000L)),
      biasQ8 = 20000000L)
    val m = d.select(col("doc_id"), scoreQ8, (scoreQ8 >= lit(45000000L)))
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(0L) == ((-27604000L, false)), s"doc0: ${m(0L)}")
    assert(m(1L) == ((51000000L, true)), s"doc1: ${m(1L)}")
  }

  test("rolling hash is deterministic and order-sensitive") {
    val df = Seq("abc", "abc", "acb").toDF("text")
      .select(TA.rollingHash(col("text")).as("h")).as[Long].collect()
    assert(df(0) == df(1))
    assert(df(0) != df(2))
    // long inputs must not overflow the fold's acc*131 product under
    // ANSI mode (the 2^60-modulus regression crashed past ~9 chars)
    val long = Seq("the quick brown fox jumps over the lazy dog " * 40)
      .toDF("text")
      .select(TA.rollingHash(col("text")).as("h")).as[Long].head()
    assert(long >= 0L && long < 9007199254740881L)
  }

  test("quality score and stopword ratio") {
    val df = Seq("the a of and to", "xxx yyy zzz").toDF("text")
    val r = df.select(
      rnd(TA.stopwordRatio(TA.tokens(col("text")),
        Seq("the", "a", "of", "and", "to")), 4).as("sr"))
      .as[Double].collect().toSeq
    assert(r == Seq(1.0, 0.0))
  }

  test("unigram LM score: hand-computed micro-unit log-probs") {
    // corpus: a:2 b:2 c:1, T=5
    //   lp(a) = lp(b) = floor(ln(2/5)*1e4 + 0.5) = -9163
    //   lp(c) =         floor(ln(1/5)*1e4 + 0.5) = -16094
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = graft.operators.LanguageModel
      .unigramScore(docs, "doc_id", TA.tokens(col("text")))
      .select("doc", "n_tok", "lp_micro", "avg_logp")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(math.floor(math.log(0.4) * 1e4 + 0.5).toLong == -9163L)
    assert(math.floor(math.log(0.2) * 1e4 + 0.5).toLong == -16094L)
    assert(r == Seq(
      (1L, 3L, -27489L, -27489.0 / 30000.0),
      (2L, 2L, -25257L, -25257.0 / 20000.0)))
    // typicality ordering: the doc made of common tokens scores higher
    assert(r(0)._4 > r(1)._4)
  }

  test("bigram LM score: hand-computed conditional log-probs") {
    // bigrams: doc1 "a b a b" → ab, ba, ab;  doc2 "a a b" → aa, ab
    // c2: ab=3 ba=1 aa=1; contexts: a→4, b→1
    //   lp(ab) = floor(ln(3/4)·1e4 + 0.5) = -2877
    //   lp(ba) = floor(ln(1/1)·1e4 + 0.5) =  0
    //   lp(aa) = floor(ln(1/4)·1e4 + 0.5) = -13863
    val docs = Seq((1L, "a b a b"), (2L, "a a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val r = graft.operators.LanguageModel
      .bigramScore(docs, "doc_id", TA.tokens(col("text")))
      .select("doc", "n_big", "lp_micro", "avg_logp")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      (1L, 3L, -5754L, -5754.0 / 30000.0),
      (2L, 2L, -16740L, -16740.0 / 20000.0)))
    // doc3 has no transitions → absent, not scored as zero
    assert(!r.exists(_._1 == 3L))
    // order sensitivity: "a a b" uses the rare a→a transition and
    // scores below the common-transition doc
    assert(r(0)._4 > r(1)._4)
  }

  test("cross-corpus LM scoring: OOV units hit coverage, not likelihood") {
    // model from "a b a b b c": c2 ab=2 ba=1 bb=1 bc=1; ctx a→2, b→3
    //   lp(ab) = 0, lp(ba) = lp(bb) = lp(bc) = floor(ln(1/3)·1e4+.5)
    //          = -10986
    val train = Seq((0L, "a b a b b c")).toDF("doc_id", "text")
    val lm = graft.operators.LanguageModel
      .bigramLm(train, TA.tokens(col("text")))
    assert(lm.as[(String, Long)].collect().toMap ==
      Map("a b" -> 0L, "b a" -> -10986L, "b b" -> -10986L,
        "b c" -> -10986L))
    val score = Seq((1L, "a b a"), (2L, "c a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    val r = graft.operators.LanguageModel
      .scoreWithLm(score, "doc_id", TA.bigrams(TA.tokens(col("text"))),
        lm, "bg")
      .select("doc", "n_units", "n_modeled", "lp_micro", "coverage",
        "avg_logp")
      .as[(Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(r == Seq(
      // ab + ba, both modeled
      (1L, 2L, 2L, -10986L, 1.0, -10986.0 / 20000.0),
      // ca OOV, ab modeled at lp 0
      (2L, 2L, 1L, 0L, 0.5, 0.0),
      // fully OOV: coverage 0, likelihood untouched (greatest guard)
      (3L, 1L, 0L, 0L, 0.0, 0.0)))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different text about spark engines"),
    (3L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG  "), // exact dup of 0 modulo case/trim
    (4L, "another unrelated document mentioning nothing familiar"))
    .toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 4)
    val dupGroup = g.filter(col("n_docs") === 2).select("keep_id")
      .as[Long].collect()
    assert(dupGroup.toSeq == Seq(0L))
  }

  test("sharedPassages emits maximal planted passages with exact positions") {
    val passage = (0 until 25).map(i => s"p$i").mkString(" ")
    val shortRun = (0 until 10).map(i => s"s$i").mkString(" ")
    val pas2 = (0 until 21).map(i => s"q$i").mkString(" ")
    val fixture = Seq(
      (0L, s"alpha beta gamma $passage tail0 end0"),
      (1L, s"zeta eta $passage tail1 other end1"),
      // a second, separate shared interval with doc 0 → its own row
      (2L, s"u0 u1 $pas2 u2 u3 $shortRun u4"),
      (3L, s"v0 $pas2 w0 w1 $shortRun v1"),
      (4L, "completely unrelated words only here nothing shared at all"))
      .toDF("doc_id", "text")
    val got = Dedup.sharedPassages(fixture, "doc_id",
        TA.tokens(col("text")), k = 4, minTokens = 20,
        maxDocFreqPermille = 1000, persistIndex = false)
      .orderBy("doc_a", "doc_b", "a_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // (0,1): p0..p24 is 25 tokens, doc0 offset 3, doc1 offset 2 —
    // maximal (the tokens flanking it differ); (2,3): q0..q20 is 21
    // tokens at offsets 2 and 1; the 10-token s-run is below
    // minTokens and must NOT appear
    assert(got == Seq((0L, 1L, 3L, 2L, 25L), (2L, 3L, 2L, 1L, 21L)))
  }

  test("stripSharedPassages cuts the passage from the higher-id doc only") {
    val passage = (0 until 25).map(i => s"P$i").mkString(" ") // cased
    val fixture = Seq(
      (0L, s"Alpha beta gamma $passage tail0 end0"),
      (1L, s"Zeta eta $passage tail1 other end1"),
      (2L, "unrelated text with nothing shared here at all"))
      .toDF("doc_id", "text")
    val got = Dedup.stripSharedPassages(fixture, "doc_id", "text",
        k = 4, minTokens = 20, maxDocFreqPermille = 1000)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    // doc 0 (lower id) keeps the only copy, original casing intact;
    // doc 1 loses exactly the 25 passage tokens; doc 2 untouched
    assert(got(0) == ((0L,
      s"Alpha beta gamma $passage tail0 end0", 0L)))
    assert(got(1) == ((1L, "Zeta eta tail1 other end1", 25L)))
    assert(got(2) == ((2L,
      "unrelated text with nothing shared here at all", 0L)))
  }

  test("sharedPassages df cap cuts at the exact integer permille boundary") {
    // the q-run's shingles live in docs {0,1,2} → df=3 of n=5 docs;
    // 3*1000 > permille*5 flips between permille 600 (3000 > 3000
    // false → kept) and 599 (3000 > 2995 → dropped)
    val run = (0 until 21).map(i => s"q$i").mkString(" ")
    val fixture = Seq(
      (0L, s"a0 $run b0"), (1L, s"a1 $run b1"), (2L, s"a2 $run b2"),
      (3L, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9"),
      (4L, "y0 y1 y2 y3 y4 y5 y6 y7 y8 y9"))
      .toDF("doc_id", "text")
    def n(p: Int) = Dedup.sharedPassages(fixture, "doc_id",
      TA.tokens(col("text")), k = 4, minTokens = 20,
      maxDocFreqPermille = p, persistIndex = false).count()
    assert(n(600) == 3L) // pairs (0,1) (0,2) (1,2)
    assert(n(599) == 0L)
    intercept[IllegalArgumentException] {
      Dedup.sharedPassages(fixture, "doc_id", TA.tokens(col("text")),
        k = 4, minTokens = 3)
    }
  }

  test("sharedPassages occurrence cap parks repeated-run shingles, boundary exact") {
    // df alone cannot bound the join: 'x' repeated 30 times in TWO
    // docs has df=2 but 27 occurrences per doc of every x-shingle —
    // the occ cap must park it; the distinct q-run passage survives
    val rep = Seq.fill(30)("x").mkString(" ")
    val run = (0 until 21).map(i => s"q$i").mkString(" ")
    val fixture = Seq(
      (0L, s"$rep a0 $run"),
      (1L, s"$rep b0 $run"),
      (2L, "y0 y1 y2 y3 y4 y5 y6 y7 y8 y9"))
      .toDF("doc_id", "text")
    def runs(occCap: Int) = Dedup.sharedPassages(fixture, "doc_id",
        TA.tokens(col("text")), k = 4, minTokens = 20,
        maxDocFreqPermille = 1000, maxShingleOccurrences = occCap,
        persistIndex = false)
      .select("a_start").as[Long].collect().toSeq.sorted
    // the all-x shingle occurs 27 times per doc = 54 total; cap 53
    // parks it (only the q-run island at a_start 31 remains), cap 54
    // readmits it (strictly > is the contract) — the x-run then
    // matches on every |diag| <= 10, one >= 20-token island each
    assert(runs(53) == Seq(31L))
    val at54 = runs(54)
    assert(at54.contains(0L) && at54.contains(31L) && at54.size == 22,
      s"cap 54 must admit the x-run islands, got $at54")
    intercept[IllegalArgumentException] {
      Dedup.sharedPassages(fixture, "doc_id", TA.tokens(col("text")),
        k = 4, minTokens = 20, maxShingleOccurrences = 0)
    }
  }

  test("jaccard pairs finds the near-duplicate") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id",
        TA.tokens(col("text")), threshold = 0.5, maxIdGap = None)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L))) // identical token sets
    assert(!pairs.contains((0L, 2L)))
  }

  test("span strip kills phase-shifted boilerplate, preserves casing") {
    // The banner "Subscribe To Our Newsletter" appears at a DIFFERENT
    // token offset in each of docs 0-9 (preamble of i unique pad
    // tokens) and as the whole of doc 11 — fixed-offset tiling would
    // tile it differently per doc and let it survive; content-defined
    // boundaries chunk it identically everywhere. "anchor" ends every
    // non-empty preamble and "newsletter" ends the banner — both are
    // hash breakpoints (even last md5 hex digit), so the banner spans
    // start and end cleanly with NO sentence delimiters involved.
    // Doc 10 is empty. Mixed-case survivors pin case preservation.
    val banner = "Subscribe To Our Newsletter"
    val d = ((0L until 10L).map { i =>
        val preamble =
          if (i == 0) "" else ((1L until i).map(j => s"pad${i}x$j") :+
            "anchor").mkString("", " ", " ")
        (i, s"$preamble$banner Uniq${i}Alpha uniq${i}beta")
      } :+ (10L, "") :+ (11L, banner))
      .toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(d, "doc_id", "text",
        spanTokens = 2, maxDocFreqPermille = 300)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // banner df = 11 of 12 docs > 30%: stripped from EVERY doc at
    // EVERY offset; the doc-unique survivors keep their original case
    assert((0L until 10L).forall { i =>
      val (txt, kept, dropped) = out(i)
      !txt.toLowerCase.contains("subscribe") &&
        !txt.toLowerCase.contains("newsletter") &&
        txt.contains(s"Uniq${i}Alpha") && txt.contains(s"uniq${i}beta") &&
        dropped >= 1L && kept >= 1L
    })
    assert(out(11L)._1 == "") // banner-only doc strips to nothing
    assert(out(11L)._2 == 0L)
    // split("", " ") = [""] in both engines: the empty doc carries one
    // empty-string span, unique → kept, round-tripping to ""
    assert(out(10L) == (("", 1L, 0L)))
    // determinism under different partitioning
    val again = Dedup.stripRepeatedSpans(d.repartition(7), "doc_id",
        "text", spanTokens = 2, maxDocFreqPermille = 300)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again == out)
    // round-trip invariant: with the threshold above the whole corpus
    // nothing is hot, so reassembly must reproduce every document
    // byte-for-byte — ORIGINAL casing included — with zero drops; any
    // chunking, ordering, case, or join bug breaks this equality
    val intact = Dedup.stripRepeatedSpans(d, "doc_id", "text",
        spanTokens = 3, maxDocFreqPermille = 1001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(intact.forall { case (id, clean, dropped) =>
      clean == texts(id) && dropped == 0L })
  }

  test("minhash LSH surfaces the same near-dup candidates") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id",
        TA.shingles(TA.tokens(col("text")), 2), threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("simhash hamming distance separates near from far") {
    val h = docs.select(col("doc_id"),
        Dedup.simhash64(TA.tokens(col("text"))).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(3L)) == 0) // same normalized tokens
    assert(ham(h(0L), h(1L)) < ham(h(0L), h(2L)))
  }

  test("banded simhash finds EVERY pair within hamming 3 (pigeonhole recall)") {
    // ground truth: brute-force all-pairs hamming over the sf0.001
    // documents fixture (small enough to cross-join in a test)
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val h = d.select(col("doc_id").as("doc"),
      Dedup.simhash64(TA.tokens(col("text"))).as("sim"))
    val truth = h.as("a").crossJoin(h.as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupsBanded(d, "doc_id",
        TA.tokens(col("text")), maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == truth)
    assert(truth.nonEmpty, "fixture should contain hamming<=3 pairs")
  }

  test("simhash dropped-bucket audit makes the cap's recall loss visible") {
    // 20 identical docs -> one degenerate fingerprint -> every band is
    // one bucket of size 20
    val same = (0L until 20L).map(i => (i, "same same same"))
      .toDF("doc_id", "text")
    val toks = TA.tokens(col("text"))
    val dropped = Dedup.simhashDroppedBuckets(same, "doc_id", toks,
        bucketCap = 5)
      .as[(Long, Long, Long)].collect()
    assert(dropped.length == 4)
    assert(dropped.forall(_._3 == 20L))
    // with that same cap the banded join finds NOTHING — exactly the
    // loss the audit reports
    assert(Dedup.simhashNearDupsBanded(same, "doc_id", toks,
      maxHamming = 3, bucketCap = 5).count() == 0L)
    // at the default cap nothing is dropped and the guarantee holds
    assert(Dedup.simhashDroppedBuckets(same, "doc_id", toks).count() == 0L)
  }

  test("connected components: chains, bridges, singleton pairs") {
    // chain 1-2-3-4, bridge {10,11}+{11,12}, isolated pair {20,21};
    // a long chain exercises the pointer-jumping path (log rounds)
    val chain = (100L until 160L).sliding(2).map(s => (s(0), s(1))).toSeq
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (20L, 21L)) ++ chain).toDF("doc_a", "doc_b")
    val roots = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(roots(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(roots(_) == 10L))
    assert(Seq(20L, 21L).forall(roots(_) == 20L))
    assert((100L until 160L).forall(roots(_) == 100L))
    assert(roots.size == 9 + 60)
    // localEdgeBudget=0 forces the iterative pointer-jumping path on
    // the same graph; both paths must agree root-for-root
    val loopRoots = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        localEdgeBudget = 0L)
      .as[(Long, Long)].collect().toMap
    assert(loopRoots == roots)
  }

  test("chunking: overlap, short docs, tail chunks, no duplicate tails") {
    val docs = Seq((1L, "a b c d e f g h i"), (2L, "x y"), (3L, "solo"),
        (4L, "a b c d e f g h i j")) // n=10: start 10 would duplicate
      .toDF("doc_id", "text")
    val out = graft.operators.Chunking
      .chunkDocs(docs, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .as[(Long, Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, 0L, "a b c d", 4L), // stride 3: starts 1,4,7
      (1L, 1L, "d e f g", 4L), // 1-token overlap with previous
      (1L, 2L, "g h i", 3L),   // short tail kept
      (2L, 0L, "x y", 2L),     // doc shorter than one chunk
      (3L, 0L, "solo", 1L),
      (4L, 0L, "a b c d", 4L), // starts capped at n-overlap=9:
      (4L, 1L, "d e f g", 4L), // 1,4,7 only — a start at 10 would
      (4L, 2L, "g h i j", 4L)  // re-emit token j already in chunk 2
    ))
    intercept[IllegalArgumentException] {
      graft.operators.Chunking.chunkDocs(docs, "doc_id", "text", 4, 4)
    }
    // NULL text follows the documented empty-document stance: one
    // empty chunk with n_chunk_tokens = 1 (the engine-wide
    // whitespace-token count of ""), never a NULL chunk whose token
    // count silently vanishes from downstream budget sums
    val withNull = Seq((9L, null: String)).toDF("doc_id", "text")
    val nullOut = graft.operators.Chunking
      .chunkDocs(withNull, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .as[(Long, Long, String, Long)].collect().toList
    assert(nullOut == List((9L, 0L, "", 1L)))
  }

  test("stratified sample is deterministic and respects rate ordering") {
    val df = (0 until 2000)
      .map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    def run(rates: Map[String, Int]) = graft.operators.DataSplit
      .stratifiedSample(df, "id", "stratum", rates)
      .as[(Long, String)].collect().toSet
    val half = run(Map("a" -> 128, "b" -> 0))
    assert(run(Map("a" -> 128, "b" -> 0)) == half) // same ids every run
    assert(half.forall(_._2 == "a")) // rate-0 stratum fully dropped
    // a lower rate samples a SUBSET of a higher rate (bucket < r is
    // monotone in r) — the property that makes rates tunable without
    // resampling the world
    val quarter = run(Map("a" -> 64, "b" -> 0))
    assert(quarter.subsetOf(half))
    val frac = half.size / 1000.0
    assert(frac > 0.4 && frac < 0.6, s"~50% expected, got $frac")
  }

  test("weighted sample: proportional, deterministic, zero-weight never kept") {
    val df = (0 until 2000).map { i =>
      // weights 1 and 9 in equal numbers, plus some zero-weight rows
      (i.toLong, if (i % 10 == 0) 0L else if (i % 2 == 0) 1L else 9L)
    }.toDF("id", "w0")
    def kept = graft.operators.DataSplit
      .weightedSample(df, "id", col("w0"), expectK = 400)
      .filter(col("keep")).select("id", "w")
      .as[(Long, Long)].collect().toSet
    val once = kept
    assert(kept == once) // pure function of (id, w, total)
    assert(once.forall(_._2 > 0)) // zero weight is never kept
    // inclusion odds scale with weight: the w=9 stratum must dominate
    val (heavy, light) = once.partition(_._2 == 9L)
    assert(heavy.size > 4 * math.max(light.size, 1),
      s"w=9 kept ${heavy.size}, w=1 kept ${light.size}")
    // E[kept] = 400 here (no weight saturates k*w/total); the fixed
    // hash realizes one deterministic draw near it
    assert(once.size > 250 && once.size < 550, s"got ${once.size}")
    // determinism across partitionings
    val repart = graft.operators.DataSplit
      .weightedSample(df.repartition(13), "id", col("w0"), 400)
      .filter(col("keep")).select("id", "w")
      .as[(Long, Long)].collect().toSet
    assert(repart == once)
    // saturated weights (k*w >= total) are always kept
    val sat = graft.operators.DataSplit
      .weightedSample(Seq((1L, 1000000L), (2L, 1L)).toDF("id", "w0"),
        "id", col("w0"), expectK = 10)
      .filter(col("keep")).select("id", "w")
      .as[(Long, Long)].collect()
    assert(sat.exists(_._1 == 1L))
  }

  test("heavy hitters: MG prefilter is a superset, result is exact") {
    import graft.operators.HeavyHitters
    // skewed stream: token "hot" is 40%, "warm" 15%, rest a long tail
    val rng = new scala.util.Random(7)
    val data = (0 until 20000).map { _ =>
      val r = rng.nextInt(100)
      if (r < 40) "hot" else if (r < 55) "warm" else s"t${rng.nextInt(5000)}"
    }
    // MG kernel property: every item over n/k survives a single pass
    val k = 8
    val cands = HeavyHitters.mgCandidates(data.iterator, k).toSet
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val truth = exact.filter(_._2 * k > data.size).keySet
    assert(truth.subsetOf(cands), s"MG missed ${truth -- cands}")
    assert(cands.size <= k - 1) // budget respected
    // end-to-end over many partitions: exact agreement with groupBy
    val df = spark.createDataset(data).repartition(13).toDF("token")
    val got = HeavyHitters.exactHeavyHitters(df, "token", k)
      .as[(String, Long)].collect().toMap
    val want = exact.filter(_._2 * k > data.size).toMap
    assert(got == want)
    // and the threshold is strict: nothing at/below n/k leaks in
    assert(got.values.forall(_ * k > data.size))
  }

  test("weighted mix replicates by epoch weight, deterministically") {
    val df = (0 until 1200)
      .map(i => (i.toLong, Seq("a", "b", "c")(i % 3)))
      .toDF("id", "src")
    def run() = graft.operators.Mixing
      .mixWeighted(df, "id", "src",
        Map("a" -> 2.5, "b" -> 1.0), defaultWeight = 0.0)
      .select("id", "src", "copy").as[(Long, String, Long)]
      .collect().toSeq
    val out = run()
    assert(out == run()) // bit-deterministic, same ids AND copies
    val byId = out.groupBy(_._1)
    // integer weights are exact: every 'b' row appears exactly once,
    // every 'a' row 2 or 3 times, default-weight rows never
    assert(out.forall(_._2 != "c"))
    val bCopies = out.filter(_._2 == "b").map(_._1).distinct
    assert(bCopies.size == 400 &&
      bCopies.forall(id => byId(id).map(_._3) == Seq(0L)))
    val aCounts = out.filter(_._2 == "a").groupBy(_._1)
      .view.mapValues(_.map(_._3).sorted).toMap
    assert(aCounts.size == 400) // every 'a' row kept at least twice
    assert(aCounts.values.forall(c =>
      c == Seq(0L, 1L) || c == Seq(0L, 1L, 2L)))
    // fractional half-epoch lands near 50% of 'a' rows
    val extra = aCounts.values.count(_.size == 3) / 400.0
    assert(extra > 0.4 && extra < 0.6, s"~50% expected, got $extra")
    // weight parts: .9999… rounds up to a clean extra copy
    assert(graft.operators.Mixing.weightParts(2.9999999) == ((3, 0)))
    assert(graft.operators.Mixing.weightParts(0.25) == ((0, 64)))
  }

  test("temperature mix: exact e256 weights, replication invariants") {
    // strata: A 800 docs, B 200 docs, N=1000
    //   term_A = floor(sqrt(.8)·1e6+.5) = 894427
    //   term_B = floor(sqrt(.2)·1e6+.5) = 447214, S = 1341641
    //   e256_A = 894427·256·1000 div (S·800) = 213  (0.83× downsample)
    //   e256_B = 447214·256·1000 div (S·200) = 426  (1.66× upsample)
    val df = (0 until 1000)
      .map(i => (i.toLong, if (i < 800) "A" else "B")).toDF("id", "grp")
    val w = graft.operators.Mixing.temperatureE256(df, "grp")
      .as[(String, Long)].collect().toMap
    assert(w == Map("A" -> 213L, "B" -> 426L))
    def run() = graft.operators.Mixing.mixTemperature(df, "id", "grp")
      .select("id", "grp", "copy").as[(Long, String, Long)]
      .collect().toSeq
    val out = run()
    assert(out == run()) // bit-deterministic
    // A (copies=0, frac=213): at most one copy each, ~213/256 = 83%
    // survive — and some really are dropped
    val aIds = out.filter(_._2 == "A").map(_._1)
    assert(aIds.distinct.size == aIds.size)
    assert(aIds.size < 800, "downsampling must drop some A rows")
    val aKept = aIds.size / 800.0
    assert(aKept > 0.75 && aKept < 0.92, s"~83% expected, got $aKept")
    // B (copies=1, frac=170): 1 or 2 copies, always including copy 0;
    // extra-copy fraction ~170/256 = 66%
    val byB = out.filter(_._2 == "B").groupBy(_._1)
      .view.mapValues(_.map(_._3).sorted).toMap
    assert(byB.size == 200 &&
      byB.values.forall(cs => cs == Seq(0L) || cs == Seq(0L, 1L)))
    val bExtra = byB.values.count(_.size == 2) / 200.0
    assert(bExtra > 0.55 && bExtra < 0.78, s"~66% expected, got $bExtra")
    // a NULL stratum is weighted as its own stratum, never dropped:
    // two equal halves → identity mix (e256 = 256 each side)
    val dfN = Seq((0L, "A"), (1L, "A"),
      (2L, null.asInstanceOf[String]), (3L, null.asInstanceOf[String]))
      .toDF("id", "grp")
    val outN = graft.operators.Mixing.mixTemperature(dfN, "id", "grp")
      .select("id").as[Long].collect().toSeq.sorted
    assert(outN == Seq(0L, 1L, 2L, 3L))
  }

  test("tfidf top-k: counts exact, ranking rare-term-first, k bound") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry date")).toDF("doc_id", "text")
    val toks = org.apache.spark.sql.functions.split(
      org.apache.spark.sql.functions.lower($"text"), " ")
    val out = graft.operators.Keywords.tfidfTopK(docs, "doc_id", toks, 5)
      .as[(Long, Long, String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // integer pieces are exact: df(apple)=2, df(date)=1, tf checks
    val d3 = out(3L)
    assert(d3.map(r => (r._2, r._3, r._4, r._5)).toSeq == Seq(
      (1L, "date", 1L, 1L),    // 1*ln(3/1)=1.0986 — rare term wins
      (2L, "cherry", 2L, 2L),  // 2*ln(3/2)=0.8109
      (3L, "apple", 1L, 2L)))  // 1*ln(3/2)=0.4055
    assert(d3.map(_._6).toSeq == Seq(1.0986, 0.8109, 0.4055))
    // doc 1: apple tf=2 outranks banana despite equal df
    assert(out(1L).map(_._3).toSeq == Seq("apple", "banana"))
    // k truncates: with k=1 only the top term survives per doc
    val k1 = graft.operators.Keywords.tfidfTopK(docs, "doc_id", toks, 1)
    assert(k1.count() == 3 &&
      k1.agg(org.apache.spark.sql.functions.max($"rank")).head.getLong(0) == 1L)
  }

  test("global shuffle: addresses are pure functions of (id, seed)") {
    val df = (0L until 500L).toDF("doc_id")
    def run(d: org.apache.spark.sql.DataFrame) = graft.operators.Shuffling
      .shuffleShard(d, "doc_id", nShards = 8, seed = "s0")
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val out = run(df)
    // bit-deterministic and partitioning-independent
    assert(out == run(df.repartition(13)))
    // every row addressed exactly once; shards in range
    assert(out.map(_._1) == (0L until 500L))
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    // pos is a contiguous 1-based sequence inside each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size))
    }
    // shard is per-row stable: dropping other rows never moves a doc
    val subset = run(df.filter($"doc_id" % 5 === 0))
    val full = out.map(r => r._1 -> r._2).toMap
    assert(subset.forall(r => full(r._1) == r._2))
    // a different seed produces a different permutation
    val reseeded = graft.operators.Shuffling
      .shuffleShard(df, "doc_id", 8, "s1")
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert((0L until 500L).exists(id => reseeded(id) != full(id)))
    // the 60-bit prefix reaches shards above 65536 (a 16-bit prefix
    // left them permanently empty) and stays in range
    val wide = graft.operators.Shuffling
      .shuffleShard(df, "doc_id", nShards = 1000000, seed = "s0")
      .select("shard").as[Long].collect()
    assert(wide.forall(s => s >= 0L && s < 1000000L))
    assert(wide.exists(_ > 65535L),
      "no shard above 2^16 across 500 uniform draws from 1M shards")
  }

  test("per-group cap keeps a deterministic hash sample of each group") {
    val df = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    def run() = graft.operators.Budget.capPerGroup(df, "id", "grp", 7)
      .select("id", "grp").as[(Long, String)].collect().sortBy(_._1).toSeq
    val out = run()
    assert(out == run()) // deterministic
    val byGrp = out.groupBy(_._2)
    assert(byGrp.keySet == Set("g0", "g1", "g2"))
    assert(byGrp.values.forall(_.size == 7))
    // under-cap groups pass through whole
    val small = graft.operators.Budget.capPerGroup(
      df.filter($"id" < 10), "id", "grp", 7)
    assert(small.count() == 10)
    // membership is per-row stable: a kept id stays kept when the cap rises
    val wider = graft.operators.Budget.capPerGroup(df, "id", "grp", 20)
      .select("id").as[Long].collect().toSet
    assert(out.forall(r => wider.contains(r._1)))
  }

  test("per-group cap two-phase pre-thin: bit-identical to one-phase " +
    "on a hot group, and the plan carries the pre-thin filter") {
    // one mega-group (5000 rows) + two small ones; cap 10 at the
    // default 8x factor puts only the mega-group over the bar
    val df = ((0L until 5000L).map(i => (i, "hot")) ++
      (5000L until 5030L).map(i => (i, "warm")) ++
      (6000L until 6005L).map(i => (i, "cold"))).toDF("id", "grp")
    val two = graft.operators.Budget.capPerGroup(df, "id", "grp", 10)
    // a sky-high factor disables the pre-thin: that IS the one-phase
    // reference form
    val one = graft.operators.Budget.capPerGroup(df, "id", "grp", 10,
      preThinFactor = Int.MaxValue)
    assert(two.select("id", "grp").as[(Long, String)].collect().toSet ==
      one.select("id", "grp").as[(Long, String)].collect().toSet)
    // group sizes behave: capped hot group, pass-through cold group
    val sizes = two.groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    assert(sizes == Map("hot" -> 10L, "warm" -> 10L, "cold" -> 5L))
    // the hot plan thins BEFORE the window; the one-phase plan doesn't
    assert(two.queryExecution.executedPlan.toString.contains("__thr"))
    assert(!one.queryExecution.executedPlan.toString.contains("__thr"))
  }

  test("per-group cap rescue: a hot group whose pre-thin survivors " +
    "dip below cap still returns the exact one-phase rows") {
    // ids 13000..13199 are a FOUND fixture: at cap=5, factor=2
    // (threshold floor(2^32*10/200)+1 = 214748365) exactly 4 of the
    // 200 salted md5 buckets fall under the threshold — one fewer
    // than the cap, so the prefix argument fails and the rescue path
    // must re-run the group through the exact window
    val hotIds = (13000L until 13200L)
    val df = (hotIds.map(i => (i, "hot")) ++
      (0L until 3L).map(i => (i, "tiny"))).toDF("id", "grp")
    // confirm the fixture still forces the rescue (guards against the
    // hash or threshold formula drifting silently)
    val thr = (1L << 32) * 10L / 200L + 1L
    val survivors = df.filter($"grp" === "hot")
      .filter(conv(substring(md5(concat($"id".cast("string"),
        lit(":cap"))), 1, 8), 16, 10).cast("long") < thr)
      .count()
    assert(survivors == 4L, s"fixture drifted: $survivors survivors")
    val two = graft.operators.Budget.capPerGroup(df, "id", "grp", 5,
      preThinFactor = 2)
    val one = graft.operators.Budget.capPerGroup(df, "id", "grp", 5,
      preThinFactor = Int.MaxValue)
    assert(two.select("id", "grp").as[(Long, String)].collect().toSet ==
      one.select("id", "grp").as[(Long, String)].collect().toSet)
    assert(two.filter($"grp" === "hot").count() == 5L)
  }

  test("per-group cap: a NULL-id row in a hot group survives the " +
    "pre-thin (it heads the exact keep order)") {
    // NULL id -> NULL salted hash -> NULL 32-bit bucket; the exact
    // window's (hash asc, id asc) order puts it FIRST, so the
    // pre-thin must keep it unconditionally or the two forms diverge
    val df = ((0L until 5000L).map(i => (Option(i), "hot")) :+
      ((None: Option[Long]), "hot")).toDF("id", "grp")
    val two = graft.operators.Budget.capPerGroup(df, "id", "grp", 10)
      .select("id", "grp").as[(Option[Long], String)].collect().toSet
    val one = graft.operators.Budget.capPerGroup(df, "id", "grp", 10,
        preThinFactor = Int.MaxValue)
      .select("id", "grp").as[(Option[Long], String)].collect().toSet
    assert(two === one)
    assert(two.contains((None, "hot")),
      "the NULL-id row is rank 1 of the keep order and must be kept")
    assert(two.size === 10)
  }

  test("weight budget: exact prefix cut in priority order, any bucketing") {
    // weights 1..20, priority = id asc (bucket = id / 5 is monotone)
    val df = (1L to 20L).map(i => (i, i)).toDF("id", "w")
    val out = graft.operators.Budget.takeWeightBudget(
        df, "w", budget = 21L,
        bucket = floor($"id" / 5).cast("long"),
        order = Seq($"id".asc))
      .select("id", "running").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // 1+2+3+4+5+6=21 fits exactly; 7 would push past the budget
    assert(out == Seq(1L -> 1L, 2L -> 3L, 3L -> 6L, 4L -> 10L,
      5L -> 15L, 6L -> 21L))
    // same cut under a different (still monotone) bucketing and
    // partitioning — the running sum is partitioning-independent
    val out2 = graft.operators.Budget.takeWeightBudget(
        df.repartition(7), "w", budget = 21L,
        bucket = floor($"id" / 3).cast("long"),
        order = Seq($"id".asc))
      .select("id", "running").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out2 == out)
    // the output column `running` is collision-guarded: an input that
    // already has one would be silently clobbered otherwise
    intercept[IllegalArgumentException] {
      graft.operators.Budget.takeWeightBudget(
        df.withColumnRenamed("w", "running"), "running", budget = 21L,
        bucket = floor($"id" / 5).cast("long"), order = Seq($"id".asc))
    }
  }

  test("embedding near-dups by cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.9, maxIdGap = 10L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.0f, 1.0f), 1),
    (3L, Array(0.1f, 0.9f), 1),
    (4L, Array(-1.0f, 0.0f), 2))
    .toDF("vec_id", "embedding", "label")

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val q = vecs.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 2)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L) || top == Seq(1L, 3L))
    assert(top.head == 1L)
  }

  test("knn majority label") {
    val q = vecs.filter(col("vec_id") === 2)
    val pred = Similarity.knnLabel(q, vecs, "vec_id", "embedding", "label", 2)
      .select("pred_label").as[Int].collect()
    // neighbours of (0,1): vec 3 (label 1) and vec 1 (label 0) → tie → min label
    assert(pred.length == 1)
  }

  test("cosine kernel matches manual computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val c = df.select(Similarity.cosine(
        Similarity.toDouble(col("a")), Similarity.toDouble(col("b"))).as("c"))
      .as[Double].head()
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(c - expected) < 1e-12)
  }

  test("IVF top-k finds true nearest neighbours through probed lists") {
    // 5 vectors, 2 natural clusters; nCentroids=2, probe both lists →
    // IVF must agree with brute force
    val q = vecs.filter(col("vec_id") === 0)
    val ivf = Similarity.ivfTopKWith(Similarity.ivfIndex(vecs, "vec_id",
        "embedding", nCentroids = 2, persistIndex = false),
        q, "vec_id", "embedding", 2, nProbe = 2)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    val bf = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 2)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(ivf == bf)
  }

  test("int8 quantization: unit vectors hit ±127, codes bounded, zero passes through") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),           // unit axis → (127, 0)
      (1L, Array(0.0f, -1.0f)),          // negative unit axis → (0, -127)
      (2L, Array(3.0f, 4.0f)),           // 3-4-5 → (76, 102) after L2 norm
      (3L, Array(0.0f, 0.0f)))           // zero norm → passthrough → (0, 0)
      .toDF("vec_id", "embedding")
    val got = df
      .select(col("vec_id"),
        Similarity.quantizeInt8(Similarity.toDouble(col("embedding"))).as("q"))
      .orderBy("vec_id").select("q").as[Seq[Long]].collect().toSeq
    assert(got == Seq(
      Seq(127L, 0L), Seq(0L, -127L),
      Seq(math.floor(0.6 * 127.0 + 0.5).toLong,   // 76
          math.floor(0.8 * 127.0 + 0.5).toLong),  // 102
      Seq(0L, 0L)))
    assert(got.flatten.forall(c => c >= -127L && c <= 127L))
  }

  test("LSH top-k returns same-bucket neighbours with exact rerank") {
    val top = Similarity.lshTopKWith(Similarity.lshIndex(vecs, "vec_id",
        "embedding", nPlanes = 2, persistIndex = false),
      vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
    // bucket collision is probabilistic per plane set, but the query
    // vector always shares its own bucket family; result must never
    // contain the query itself and must be cosine-ordered
    val rows = top.select("c_id", "cos").as[(Long, Double)].collect()
    assert(!rows.map(_._1).contains(0L))
    assert(rows.map(_._2).sorted.reverse.toSeq == rows.map(_._2).toSeq)
  }

  test("ANN recall@k floor: lsh and ivf >= 0.9 on clustered vectors") {
    // two tight clusters around orthogonal axes; hyperplanes and
    // centroids are deterministic, so recall is a stable number
    val base = Seq(
      Array(1.0f, 0.02f, 0.01f, 0.0f),
      Array(0.0f, 0.01f, 0.02f, 1.0f))
    val all = (0 until 40).map { i =>
      val c = base(i % 2)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val q = all.filter(col("vec_id") < 6)
    val k = 3
    val exact = Similarity.bruteForceTopK(q, all, "vec_id", "embedding", k)
    val lsh = Similarity.lshTopKWith(Similarity.lshIndex(all, "vec_id",
      "embedding", persistIndex = false), q, "vec_id", "embedding", k)
    val ivf = Similarity.ivfTopKWith(Similarity.ivfIndex(all, "vec_id",
        "embedding", nCentroids = 2, persistIndex = false),
      q, "vec_id", "embedding", k, nProbe = 2)
    val rec = Similarity.recallAtK(exact, lsh, "lsh")
      .unionByName(Similarity.recallAtK(exact, ivf, "ivf"))
      .select("method", "recall").as[(String, Double)].collect().toMap
    assert(rec("lsh") >= 0.9, s"lsh recall ${rec("lsh")}")
    assert(rec("ivf") >= 0.9, s"ivf recall ${rec("ivf")}")
  }

  test("suggestedNCentroids: sqrt-of-corpus sizing, floored at 16") {
    import Similarity.suggestedNCentroids
    assert(suggestedNCentroids(0L) === 16)
    assert(suggestedNCentroids(100L) === 16)      // sqrt=10 < floor
    assert(suggestedNCentroids(256L) === 16)      // sqrt exactly at floor
    assert(suggestedNCentroids(5000L) === 71)     // ceil(70.7)
    assert(suggestedNCentroids(50000L) === 224)   // ceil(223.6)
    assert(suggestedNCentroids(1000000000000L) === 1000000)  // 1e12 vecs
    // probe cost balance: list length N/c stays within one centroid
    // count of the query side's c scores (both O(sqrt N))
    val n = 123456L
    val c = suggestedNCentroids(n)
    assert(n.toDouble / c <= c + 1, s"list ${n / c} vs cents $c")
    assertThrows[IllegalArgumentException](suggestedNCentroids(-1L))
  }

  test("PQ encode: argmin codeword per subspace from a hand codebook") {
    // m=2 subspaces of 1 dim each; codewords chosen so the argmin is
    // unambiguous: sub0 {0.0, 1.0}, sub1 {0.0, 2.0}
    val book = Array(
      Array(Seq(0.0), Seq(1.0)),
      Array(Seq(0.0), Seq(2.0)))
    val df = Seq(
      (0L, Array(0.9f, 0.1f)),  // → codes (1, 0)
      (1L, Array(0.1f, 1.9f)),  // → codes (0, 1)
      (2L, Array(0.5f, 1.0f)))  // both dims equidistant → ties keep code 0
      .toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(df, "vec_id", "embedding", book)
      .orderBy("c_id").select("codes").as[Seq[Int]].collect().toSeq
    assert(got == Seq(Seq(1, 0), Seq(0, 1), Seq(0, 0)))
    val norms = Similarity.pqEncode(df, "vec_id", "embedding", book)
      .orderBy("c_id").select("c_norm").as[Double].collect()
    assert(math.abs(norms(0) - math.sqrt(0.81 + 0.01)) < 1e-6)
  }

  test("PQ ADC top-k: recall floor on clustered vectors, deterministic") {
    val base = Seq(
      Array(1.0f, 0.02f, 0.01f, 0.0f),
      Array(0.0f, 0.01f, 0.02f, 1.0f))
    val all = (0 until 40).map { i =>
      val c = base(i % 2)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val q = all.filter(col("vec_id") < 6)
    val k = 3
    def run() = Similarity.pqTopKWith(Similarity.pqIndex(all, "vec_id",
        "embedding", m = 2, ksub = 4, persistIndex = false),
      q, all, "vec_id", "embedding", k)
    val exact = Similarity.bruteForceTopK(q, all, "vec_id", "embedding", k)
    val rec = Similarity.recallAtK(exact, run(), "pq")
      .select("recall").as[Double].head()
    assert(rec >= 0.9, s"pq recall $rec")
    // trained codebook + encode + ADC is Random-free → bit-stable
    val a = run().orderBy("q_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val b = run().orderBy("q_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a == b)
    // dim 4 does not split into 8 subspaces
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(all, "vec_id", "embedding", m = 8)
    }
  }

  test("IVF+PQ composed top-k: recall floor on clustered vectors, deterministic") {
    val base = Seq(
      Array(1.0f, 0.02f, 0.01f, 0.0f),
      Array(0.0f, 0.01f, 0.02f, 1.0f))
    val all = (0 until 40).map { i =>
      val c = base(i % 2)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val q = all.filter(col("vec_id") < 6)
    val k = 3
    // probe BOTH lists so the coarse quantizer can't hide a PQ-side
    // regression behind a lucky list assignment
    def run() = Similarity.ivfPqTopKWith(Similarity.ivfPqIndex(all,
        "vec_id", "embedding", nCentroids = 2, m = 2, ksub = 4,
        persistIndex = false),
      q, all, "vec_id", "embedding", k, nProbe = 2)
    val exact = Similarity.bruteForceTopK(q, all, "vec_id", "embedding", k)
    val rec = Similarity.recallAtK(exact, run(), "ivfpq")
      .select("recall").as[Double].head()
    assert(rec >= 0.9, s"ivfpq recall $rec")
    // coarse centroids, codebook train, encode, ADC are all
    // Random-free → bit-stable
    val a = run().orderBy("q_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val b = run().orderBy("q_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a == b)
    // the staged index feeds repeated queries without rebuilding
    val idx = Similarity.ivfPqIndex(all, "vec_id", "embedding",
      nCentroids = 2, m = 2, ksub = 4)
    val staged = Similarity.ivfPqTopKWith(idx, q, all,
      "vec_id", "embedding", k, nProbe = 2)
      .orderBy("q_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(staged == a,
      "staged ivfPqTopKWith must match the one-shot wrapper")
    idx.encoded.unpersist()
    // with residual = false the composed codes must be byte-identical
    // to pqEncode's over the same codebook (the shared expression
    // contract; residual codes quantize v - centroid instead)
    val raw = Similarity.ivfPqIndex(all, "vec_id", "embedding",
      nCentroids = 2, m = 2, ksub = 4, residual = false)
    val composed = raw.encoded.orderBy("c_id")
      .select("c_id", "codes").as[(Long, Seq[Int])].collect().toSeq
    val standalone = Similarity
      .pqEncode(all, "vec_id", "embedding", raw.codebook)
      .orderBy("c_id").select("c_id", "codes")
      .as[(Long, Seq[Int])].collect().toSeq
    assert(composed == standalone)
    raw.encoded.unpersist()
    // the full FAISS layout — trained coarse quantizer + residual
    // codes — must clear the floor too (the fixture's two tight
    // clusters are exactly where residual encoding is meaningful)
    val faissRec = Similarity.recallAtK(exact,
      Similarity.ivfPqTopKWith(Similarity.ivfPqIndex(all, "vec_id",
          "embedding", nCentroids = 2, m = 2, ksub = 4, residual = true,
          trainCoarse = true, persistIndex = false),
        q, all, "vec_id", "embedding", k, nProbe = 2),
      "ivfpq_residual").select("recall").as[Double].head()
    assert(faissRec >= 0.9, s"trained+residual ivfpq recall $faissRec")
  }

  test("recallAtK arithmetic: hits over |exact|, bounded by 1") {
    val exact = Seq((0L, 1, 10L), (0L, 2, 11L), (1L, 1, 12L))
      .toDF("q_id", "rank", "c_id")
    val ann = Seq((0L, 1, 10L), (0L, 2, 99L), (1L, 1, 12L))
      .toDF("q_id", "rank", "c_id")
    val r = Similarity.recallAtK(exact, ann, "m")
      .as[(String, Long, Long, Double)].head()
    assert(r == (("m", 3L, 2L, 0.6667d)))
  }

  test("ANN index appends == frozen-quantizer rebuild; queries find appended vectors") {
    // the embedding twin of Dedup.appendToBandedIndex, across all four
    // staged paths: appending a batch must (a) produce rows identical
    // to a rebuild that HOLDS the index's quantizers (expressed as an
    // append onto the same index emptied — public API only), and (b)
    // make the appended vectors immediately findable by the staged
    // query stages.
    def mk(i: Long, base: Int): (Long, Array[Float]) = {
      val v = Array.tabulate(8)(j =>
        (math.sin(base * 3.7 + j * 1.3) + (i % 5) * 0.01).toFloat)
      (i, v)
    }
    val corpus = ((0L until 30L).map(i => mk(i, (i % 3).toInt)))
      .toDF("vec_id", "embedding")
    // batch: a NEW direction (base 7) no corpus vector points in
    val batch = (100L until 105L).map(i => mk(i, 7))
    val batchDf = batch.toDF("vec_id", "embedding")
    val union = corpus.unionByName(batchDf)
    val query = Seq((999L, batch.head._2.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // ---- IVF
    val ivf0 = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, persistIndex = false)
    val ivf1 = Similarity.appendToAnnIndex(ivf0, batchDf,
      "vec_id", "embedding")
    val ivfRebuilt = Similarity.appendToAnnIndex(
      Similarity.IvfIndex(ivf0.cents, ivf0.assigned.limit(0)), union,
      "vec_id", "embedding")
    assert(rows(ivf1.assigned) == rows(ivfRebuilt.assigned))
    assert(Similarity.ivfTopKWith(ivf1, query, "vec_id", "embedding",
        k = 3, nProbe = 2)
      .select("c_id").as[Long].collect().toSet
      .intersect(batch.map(_._1).toSet).nonEmpty,
      "IVF probe must surface the appended direction")
    // ---- LSH (cap not exceeded in this fixture, so append == rebuild)
    val lsh0 = Similarity.lshIndex(corpus, "vec_id", "embedding",
      nPlanes = 4, persistIndex = false)
    val lsh1 = Similarity.appendToAnnIndex(lsh0, batchDf,
      "vec_id", "embedding")
    val lshRebuilt = Similarity.appendToAnnIndex(
      Similarity.LshIndex(lsh0.nPlanes, lsh0.buckets.limit(0),
        lsh0.dropped), union,
      "vec_id", "embedding")
    assert(rows(lsh1.buckets) == rows(lshRebuilt.buckets))
    assert(Similarity.lshTopKWith(lsh1, query, "vec_id", "embedding",
        k = 3)
      .select("c_id").as[Long].collect().toSet
      .intersect(batch.map(_._1).toSet).nonEmpty,
      "LSH probe must surface the appended direction")
    // ---- PQ
    val pq0 = Similarity.pqIndex(corpus, "vec_id", "embedding",
      m = 4, ksub = 4, persistIndex = false)
    val pq1 = Similarity.appendToAnnIndex(pq0, batchDf,
      "vec_id", "embedding")
    val pqRebuilt = Similarity.appendToAnnIndex(
      Similarity.PqIndex(pq0.codebook, pq0.encoded.limit(0)), union,
      "vec_id", "embedding")
    assert(rows(pq1.encoded) == rows(pqRebuilt.encoded))
    assert(Similarity.pqTopKWith(pq1, query, union, "vec_id",
        "embedding", k = 3)
      .select("c_id").as[Long].collect().toSet
      .intersect(batch.map(_._1).toSet).nonEmpty,
      "PQ ADC must surface the appended direction")
    // ---- IVF+PQ (residual codes so BOTH frozen quantizers are hit)
    val ivfpq0 = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, m = 4, ksub = 4, residual = true,
      persistIndex = false)
    val ivfpq1 = Similarity.appendToAnnIndex(ivfpq0, batchDf,
      "vec_id", "embedding")
    val ivfpqRebuilt = Similarity.appendToAnnIndex(
      Similarity.IvfPqIndex(ivfpq0.cents, ivfpq0.codebook,
        ivfpq0.encoded.limit(0), ivfpq0.residual), union,
      "vec_id", "embedding")
    assert(rows(ivfpq1.encoded) == rows(ivfpqRebuilt.encoded))
    assert(Similarity.ivfPqTopKWith(ivfpq1, query, union, "vec_id",
        "embedding", k = 3, nProbe = 2)
      .select("c_id").as[Long].collect().toSet
      .intersect(batch.map(_._1).toSet).nonEmpty,
      "IVF+PQ ADC must surface the appended direction")
  }

  test("ANN index deletes == frozen-quantizer rebuild over the " +
    "survivors; a deleted vector never surfaces; replay-idempotent " +
    "without a gate") {
    // the takedown twin of the append test above: build each index
    // over (corpus ∪ victims), delete the victims, and the remaining
    // rows must be identical to assigning/encoding the corpus alone
    // under the SAME frozen quantizers (append onto the same index
    // emptied — public API only). Probes of the victims' own
    // direction must come back victim-free.
    def mk(i: Long, base: Int): (Long, Array[Float]) = {
      val v = Array.tabulate(8)(j =>
        (math.sin(base * 3.7 + j * 1.3) + (i % 5) * 0.01).toFloat)
      (i, v)
    }
    val corpus = ((0L until 30L).map(i => mk(i, (i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val victims = (100L until 105L).map(i => mk(i, 7))
    val victimDf = victims.toDF("vec_id", "embedding")
    val victimIds = victims.map(_._1).toDF("vec_id")
    val union = corpus.unionByName(victimDf)
    val query = Seq((999L, victims.head._2.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // ---- IVF
    val ivf0 = Similarity.ivfIndex(union, "vec_id", "embedding",
      nCentroids = 4, persistIndex = false)
    val ivf1 = Similarity.deleteFromAnnIndex(ivf0, victimIds, "vec_id")
    val ivfSurv = Similarity.appendToAnnIndex(
      Similarity.IvfIndex(ivf0.cents, ivf0.assigned.limit(0)), corpus,
      "vec_id", "embedding")
    assert(rows(ivf1.assigned) == rows(ivfSurv.assigned))
    assert(rows(Similarity.deleteFromAnnIndex(ivf1, victimIds,
        "vec_id").assigned) == rows(ivf1.assigned),
      "re-deleting must be a no-op")
    assert(Similarity.ivfTopKWith(ivf1, query, "vec_id", "embedding",
        k = 3, nProbe = 2)
      .select("c_id").as[Long].collect().toSet
      .intersect(victims.map(_._1).toSet).isEmpty,
      "IVF probe must never surface a deleted vector")
    // ---- LSH
    val lsh0 = Similarity.lshIndex(union, "vec_id", "embedding",
      nPlanes = 4, persistIndex = false)
    val lsh1 = Similarity.deleteFromAnnIndex(lsh0, victimIds, "vec_id")
    val lshSurv = Similarity.appendToAnnIndex(
      Similarity.LshIndex(lsh0.nPlanes, lsh0.buckets.limit(0),
        lsh0.dropped), corpus, "vec_id", "embedding")
    assert(rows(lsh1.buckets) == rows(lshSurv.buckets))
    assert(Similarity.lshTopKWith(lsh1, query, "vec_id", "embedding",
        k = 3)
      .select("c_id").as[Long].collect().toSet
      .intersect(victims.map(_._1).toSet).isEmpty,
      "LSH probe must never surface a deleted vector")
    // ---- PQ
    val pq0 = Similarity.pqIndex(union, "vec_id", "embedding",
      m = 4, ksub = 4, persistIndex = false)
    val pq1 = Similarity.deleteFromAnnIndex(pq0, victimIds, "vec_id")
    val pqSurv = Similarity.appendToAnnIndex(
      Similarity.PqIndex(pq0.codebook, pq0.encoded.limit(0)), corpus,
      "vec_id", "embedding")
    assert(rows(pq1.encoded) == rows(pqSurv.encoded))
    assert(Similarity.pqTopKWith(pq1, query, union, "vec_id",
        "embedding", k = 3)
      .select("c_id").as[Long].collect().toSet
      .intersect(victims.map(_._1).toSet).isEmpty,
      "PQ ADC must never surface a deleted vector")
    // ---- IVF+PQ
    val ivfpq0 = Similarity.ivfPqIndex(union, "vec_id", "embedding",
      nCentroids = 4, m = 4, ksub = 4, residual = true,
      persistIndex = false)
    val ivfpq1 = Similarity.deleteFromAnnIndex(ivfpq0, victimIds,
      "vec_id")
    val ivfpqSurv = Similarity.appendToAnnIndex(
      Similarity.IvfPqIndex(ivfpq0.cents, ivfpq0.codebook,
        ivfpq0.encoded.limit(0), ivfpq0.residual), corpus,
      "vec_id", "embedding")
    assert(rows(ivfpq1.encoded) == rows(ivfpqSurv.encoded))
    assert(Similarity.ivfPqTopKWith(ivfpq1, query, union, "vec_id",
        "embedding", k = 3, nProbe = 2)
      .select("c_id").as[Long].collect().toSet
      .intersect(victims.map(_._1).toSet).isEmpty,
      "IVF+PQ ADC must never surface a deleted vector")
  }

  test("ANN restrict == frozen-quantizer subset build on ALL FOUR " +
    "index families, and the family dispatcher probes each " +
    "disallowed-free") {
    // the filtered-serving twin of the delete test above: restricting
    // an index to an allowlist must equal appending ONLY the allowed
    // rows onto the same index emptied (frozen quantizers, public API
    // only), row for row — and annTopKWith/restrictAnnToIds must
    // dispatch every family so a hybrid funnel can honor an allowlist
    // whatever dense index the deployment staged.
    def mk(i: Long, base: Int): (Long, Array[Float]) = {
      val v = Array.tabulate(8)(j =>
        (math.sin(base * 3.7 + j * 1.3) + (i % 5) * 0.01).toFloat)
      (i, v)
    }
    val all = (0L until 30L).map(i => mk(i, (i % 3).toInt))
    val corpus = all.toDF("vec_id", "embedding")
    val allowedSeq = all.filter(_._1 % 3 != 0L)
    val allowedDf = allowedSeq.toDF("vec_id", "embedding")
    val allowedIds = allowedSeq.map(_._1).toDF("vec_id")
    val disallowed = all.map(_._1).toSet -- allowedSeq.map(_._1).toSet
    val query = Seq((999L, mk(0L, 0)._2.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    def probedIds(ix: Similarity.AnnIndex): Set[Long] =
      Similarity.annTopKWith(ix, query, "vec_id", "embedding", k = 5,
          nProbe = 2, rerankVecs = Some(corpus))
        .select("c_id").as[Long].collect().toSet
    // ---- IVF
    val ivf0 = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, persistIndex = false)
    val ivfR = Similarity.restrictAnnToIds(ivf0, allowedIds, "vec_id")
    val ivfSub = Similarity.appendToAnnIndex(
      Similarity.IvfIndex(ivf0.cents, ivf0.assigned.limit(0)),
      allowedDf, "vec_id", "embedding")
    assert(rows(ivfR.assigned) == rows(ivfSub.assigned))
    // ---- LSH (census frozen: the build's dropped table is kept)
    val lsh0 = Similarity.lshIndex(corpus, "vec_id", "embedding",
      nPlanes = 4, persistIndex = false)
    val lshR = Similarity.restrictAnnToIds(lsh0, allowedIds, "vec_id")
    val lshSub = Similarity.appendToAnnIndex(
      Similarity.LshIndex(lsh0.nPlanes, lsh0.buckets.limit(0),
        lsh0.dropped), allowedDf, "vec_id", "embedding")
    assert(rows(lshR.buckets) == rows(lshSub.buckets))
    // ---- PQ
    val pq0 = Similarity.pqIndex(corpus, "vec_id", "embedding",
      m = 4, ksub = 4, persistIndex = false)
    val pqR = Similarity.restrictAnnToIds(pq0, allowedIds, "vec_id")
    val pqSub = Similarity.appendToAnnIndex(
      Similarity.PqIndex(pq0.codebook, pq0.encoded.limit(0)),
      allowedDf, "vec_id", "embedding")
    assert(rows(pqR.encoded) == rows(pqSub.encoded))
    // ---- IVF+PQ
    val ivfpq0 = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, m = 4, ksub = 4, residual = true,
      persistIndex = false)
    val ivfpqR = Similarity.restrictAnnToIds(ivfpq0, allowedIds,
      "vec_id")
    val ivfpqSub = Similarity.appendToAnnIndex(
      Similarity.IvfPqIndex(ivfpq0.cents, ivfpq0.codebook,
        ivfpq0.encoded.limit(0), ivfpq0.residual), allowedDf,
      "vec_id", "embedding")
    assert(rows(ivfpqR.encoded) == rows(ivfpqSub.encoded))
    // the dispatcher returns the same family with the same serving
    // set; a probe of any restricted family never surfaces a
    // disallowed id AND equals the same probe over the explicitly
    // subset-built index — the restriction is INSIDE the ranking
    // (parity is the non-vacuous check: an LSH query whose own bucket
    // held only disallowed ids legitimately probes empty, exactly as
    // the subset build would)
    Seq[(Similarity.AnnIndex, Similarity.AnnIndex, Similarity.AnnIndex)](
      (ivfR, Similarity.restrictAnnToIds(ivf0, allowedIds, "vec_id"),
        ivfSub),
      (lshR, Similarity.restrictAnnToIds(lsh0, allowedIds, "vec_id"),
        lshSub),
      (pqR, Similarity.restrictAnnToIds(pq0, allowedIds, "vec_id"),
        pqSub),
      (ivfpqR, Similarity.restrictAnnToIds(ivfpq0, allowedIds,
        "vec_id"), ivfpqSub)
    ).foreach { case (direct, dispatched, subsetBuilt) =>
      assert(direct.getClass == dispatched.getClass)
      val got = probedIds(dispatched)
      assert(got.intersect(disallowed).isEmpty,
        s"restricted ${direct.getClass.getSimpleName} probe must " +
          s"return only allowed ids, got $got")
      assert(got === probedIds(subsetBuilt),
        s"${direct.getClass.getSimpleName}: restricted probe must " +
          "equal the frozen-quantizer subset build's probe")
    }
    // non-vacuity of the probe checks: the families that scan their
    // whole id table (PQ; IVF probes 2 of 4 lists over 20 allowed
    // ids) return real lists on this fixture
    assert(probedIds(Similarity.restrictAnnToIds(pq0, allowedIds,
      "vec_id")).nonEmpty)
    assert(probedIds(Similarity.restrictAnnToIds(ivf0, allowedIds,
      "vec_id")).nonEmpty)
    // PQ families without a rerank frame fail loudly, never silently
    // skip the exact-rerank stage
    intercept[IllegalArgumentException] {
      Similarity.annTopKWith(pq0, query, "vec_id", "embedding", k = 3)
    }
  }

  test("IVF TABLE tense: create + gated append == frozen-quantizer " +
    "rebuild probe-for-probe, replay idempotent; gated delete stops " +
    "serving instantly, compaction erases physically, the re-append " +
    "guard holds") {
    def mk(i: Long, base: Int): (Long, Array[Float]) = {
      val v = Array.tabulate(8)(j =>
        (math.sin(base * 3.7 + j * 1.3) + (i % 5) * 0.01).toFloat)
      (i, v)
    }
    val corpus = (0L until 30L).map(i => mk(i, (i % 3).toInt))
      .toDF("vec_id", "embedding")
    val batchRows = (100L until 105L).map(i => mk(i, 7))
    val batch = batchRows.toDF("vec_id", "embedding")
    val query = Seq((999L, batchRows.head._2.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    val prefix = "graft_ivf_table"
    def probeSet(ix: Similarity.IvfIndex): Set[(Long, Int, Long)] =
      Similarity.ivfTopKWith(ix, query, "vec_id", "embedding", k = 5,
          nProbe = 2)
        .select("q_id", "rank", "c_id")
        .as[(Long, Int, Long)].collect().toSet
    try {
      val ix0 = Similarity.ivfIndex(corpus, "vec_id", "embedding",
        nCentroids = 4, persistIndex = false)
      Similarity.createIvfIndexTable(ix0, prefix, buckets = 2)
      // staged cents round-trip exactly (the frozen-quantizer seam
      // every append assigns under)
      assert(Similarity.loadIvfCents(spark, prefix) === ix0.cents)
      Similarity.appendToIvfIndexTable(batch, "vec_id", "embedding",
        prefix, buckets = 2, batchId = Some(0L))
      // replaying the same gated append lands content identical to
      // one delivery
      Similarity.appendToIvfIndexTable(batch, "vec_id", "embedding",
        prefix, buckets = 2, batchId = Some(0L))
      val staged = Similarity.loadIvfIndexTable(spark, prefix)
      val rebuilt = Similarity.appendToAnnIndex(
        Similarity.IvfIndex(ix0.cents, ix0.assigned.limit(0)),
        corpus.unionByName(batch), "vec_id", "embedding")
      def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.select("c_id", "c_vec", "cent_id")
          .collect().map(_.toString).toSet
      assert(rows(staged.assigned) === rows(rebuilt.assigned))
      val wantAll = probeSet(rebuilt)
      assert(wantAll.nonEmpty && probeSet(staged) === wantAll)
      // gated takedown: serving stops at the next load, no compaction
      assert(Similarity.deleteFromIvfIndexTable(spark,
        Seq(100L, 101L).toDF("vec_id"), "vec_id", prefix,
        buckets = 2, batchId = Some(1L)) === 2L)
      // a REPLAY of the same gated delete re-applies into identical
      // content (it drops its own partition first — same count, same
      // tombstones); a FRESH request for already-deleted ids resolves
      // against the live set and is a no-op
      assert(Similarity.deleteFromIvfIndexTable(spark,
        Seq(100L, 101L).toDF("vec_id"), "vec_id", prefix,
        buckets = 2, batchId = Some(1L)) === 2L)
      assert(spark.table(prefix + "_tombstones").select("c_id")
        .as[Long].collect().sorted.toSeq === Seq(100L, 101L))
      assert(Similarity.deleteFromIvfIndexTable(spark,
        Seq(100L, 101L).toDF("vec_id"), "vec_id", prefix,
        buckets = 2, batchId = Some(4L)) === 0L,
        "a fresh delete of already-deleted ids must be a no-op")
      val afterDel = Similarity.loadIvfIndexTable(spark, prefix)
      val survivors = Similarity.deleteFromAnnIndex(rebuilt,
        Seq(100L, 101L).toDF("vec_id"), "vec_id")
      assert(probeSet(afterDel) === probeSet(survivors))
      // silenced-but-physical until maintenance, then erased — the
      // erasure audit reads it exactly so
      assert(spark.table(prefix + "_assigned")
        .filter(col("c_id").isin(100L, 101L)).count() === 2L)
      assert(Similarity.annRowsHeld(afterDel,
          Seq(100L, 4L).toDF("vec_id"), "vec_id")
        .as[(Long, Long)].collect().toMap
        === Map(100L -> 0L, 4L -> 1L))
      assert(Similarity.maintainIvfIndexTable(spark, prefix,
        buckets = 2), "pending tombstones must force compaction")
      assert(spark.table(prefix + "_assigned")
        .filter(col("c_id").isin(100L, 101L)).isEmpty)
      assert(spark.table(prefix + "_tombstones").isEmpty)
      assert(probeSet(Similarity.loadIvfIndexTable(spark, prefix))
        === probeSet(survivors))
      // healthy after: audit-gated no-op
      assert(!Similarity.maintainIvfIndexTable(spark, prefix,
        buckets = 2, maxBatchDirs = 10))
      // the re-append guard (the postings contract): a NEW pending
      // tombstone makes an append of that id fail loudly
      assert(Similarity.deleteFromIvfIndexTable(spark,
        Seq(102L).toDF("vec_id"), "vec_id", prefix, buckets = 2,
        batchId = Some(2L)) === 1L)
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndexTable(
          Seq(mk(102L, 7)).toDF("vec_id", "embedding"), "vec_id",
          "embedding", prefix, buckets = 2, batchId = Some(3L))
      }
    } finally Similarity.ivfIndexTableNames(prefix)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("LSH TABLE tense: create + gated append == frozen-plane " +
    "rebuild with the census FROZEN; delete/compaction lifecycle " +
    "matches the IVF table contract") {
    def mk(i: Long, base: Int): (Long, Array[Float]) = {
      val v = Array.tabulate(8)(j =>
        (math.sin(base * 3.7 + j * 1.3) + (i % 5) * 0.01).toFloat)
      (i, v)
    }
    val corpus = (0L until 30L).map(i => mk(i, (i % 3).toInt))
      .toDF("vec_id", "embedding")
    val batchRows = (100L until 105L).map(i => mk(i, 7))
    val batch = batchRows.toDF("vec_id", "embedding")
    val query = Seq((999L, batchRows.head._2.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    val prefix = "graft_lsh_table"
    def probeSet(ix: Similarity.LshIndex): Set[Long] =
      Similarity.lshTopKWith(ix, query, "vec_id", "embedding", k = 5)
        .select("c_id").as[Long].collect().toSet
    try {
      // bucketCap small enough that the build census drops at least
      // one hot bucket on this clustered fixture — the frozen-census
      // contract then has something real to hold
      val ix0 = Similarity.lshIndex(corpus, "vec_id", "embedding",
        nPlanes = 2, bucketCap = 12, persistIndex = false)
      assert(!ix0.dropped.isEmpty, "fixture must censor a bucket")
      Similarity.createLshIndexTable(ix0, prefix, buckets = 2)
      Similarity.appendToLshIndexTable(batch, "vec_id", "embedding",
        prefix, buckets = 2, batchId = Some(0L))
      // replay idempotent
      Similarity.appendToLshIndexTable(batch, "vec_id", "embedding",
        prefix, buckets = 2, batchId = Some(0L))
      val staged = Similarity.loadLshIndexTable(spark, prefix)
      assert(staged.nPlanes === ix0.nPlanes)
      val rebuilt = Similarity.appendToAnnIndex(
        Similarity.LshIndex(ix0.nPlanes, ix0.buckets.limit(0),
          ix0.dropped), corpus.unionByName(batch), "vec_id",
        "embedding")
      def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.select("c_id", "c_vec", "bucket")
          .collect().map(_.toString).toSet
      assert(rows(staged.buckets) === rows(rebuilt.buckets),
        "staged create+append must equal the frozen-plane, " +
          "frozen-census rebuild row for row")
      assert(probeSet(staged) === probeSet(rebuilt))
      // takedown lifecycle on ids actually SERVED (the batch may
      // legitimately have hashed into the censored bucket — the
      // frozen-census contract at work — so pick victims from the
      // staged table itself)
      val Seq(victimA, victimB) = staged.buckets.select("c_id")
        .as[Long].collect().sorted.take(2).toSeq
      assert(Similarity.deleteFromLshIndexTable(spark,
        Seq(victimA).toDF("vec_id"), "vec_id", prefix, buckets = 2,
        batchId = Some(1L)) === 1L)
      assert(Similarity.deleteFromLshIndexTable(spark,
        Seq(victimA).toDF("vec_id"), "vec_id", prefix, buckets = 2,
        batchId = Some(2L)) === 0L)
      val afterDel = Similarity.loadLshIndexTable(spark, prefix)
      assert(!probeSet(afterDel).contains(victimA))
      assert(spark.table(prefix + "_buckets")
        .filter(col("c_id") === victimA).count() === 1L)
      assert(Similarity.maintainLshIndexTable(spark, prefix,
        buckets = 2))
      assert(spark.table(prefix + "_buckets")
        .filter(col("c_id") === victimA).isEmpty)
      assert(spark.table(prefix + "_tombstones").isEmpty)
      assert(!Similarity.maintainLshIndexTable(spark, prefix,
        buckets = 2, maxBatchDirs = 10))
      // re-append guard under a fresh pending tombstone
      assert(Similarity.deleteFromLshIndexTable(spark,
        Seq(victimB).toDF("vec_id"), "vec_id", prefix, buckets = 2,
        batchId = Some(3L)) === 1L)
      val vbVec = (corpus.unionByName(batch))
        .filter(col("vec_id") === victimB)
      intercept[IllegalArgumentException] {
        Similarity.appendToLshIndexTable(vbVec, "vec_id",
          "embedding", prefix, buckets = 2, batchId = Some(4L))
      }
    } finally Similarity.lshIndexTableNames(prefix)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("explicit-planes LSH: the bucket is the JVM sign-bit fold, " +
    "probes equal brute-force same-bucket cosine, and a plane-count " +
    "mismatch in the artifact fails loudly") {
    def mk(i: Long): (Long, Array[Float]) =
      (i, Array.tabulate(6)(j => math.sin(i * 2.3 + j * 0.9).toFloat))
    val corpus = (0L until 40L).map(mk).toDF("vec_id", "embedding")
    val planes: Seq[Seq[Double]] =
      Seq(0L, 1L, 2L).map(i => mk(i)._2.map(_.toDouble).toSeq)
    val ix = Similarity.lshIndexWithPlanes(corpus, "vec_id",
      "embedding", planes, bucketCap = Int.MaxValue,
      persistIndex = false)
    assert(ix.nPlanes === 3 && ix.planes === planes)
    // bucket == the packed sign bits of dot(v, plane_p), recomputed
    // in a plain JVM loop
    val got = ix.buckets.select("c_id", "bucket")
      .as[(Long, Long)].collect().toMap
    for ((id, v) <- (0L until 40L).map(mk)) {
      var want = 0L
      for (p <- planes.indices) {
        var d = 0.0d
        for (j <- v.indices) d += v(j).toDouble * planes(p)(j)
        if (d >= 0) want |= (1L << p)
      }
      assert(got(id) === want, s"bucket of id=$id")
    }
    // probe == brute-force cosine over same-bucket candidates
    val q = corpus.filter(col("vec_id") < 3)
    val probed = Similarity.lshTopKWith(ix, q, "vec_id", "embedding",
        k = 4)
      .select("q_id", "rank", "c_id").as[(Long, Int, Long)]
      .collect().toSet
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id",
        "embedding", k = 1000)
      .join(ix.buckets.select(col("c_id"),
        col("bucket").as("cb")), "c_id")
      .join(broadcast(ix.buckets.select(col("c_id").as("q_id"),
        col("bucket").as("qb"))), "q_id")
      .filter(col("cb") === col("qb"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val bruteSet = brute
      .withColumn("r2", row_number().over(w)).filter(col("r2") <= 4)
      .select("q_id", "r2", "c_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(probed.nonEmpty && probed === bruteSet)
    // a corrupt artifact (declared nPlanes != carried planes) cannot
    // silently hash queries into a different space
    intercept[IllegalArgumentException] {
      Similarity.lshTopKWith(ix.copy(nPlanes = 4), q, "vec_id",
        "embedding", k = 4).collect()
    }
  }

  test("IVF/LSH gated appends run the tombstone-clash guard BEFORE " +
    "their replay partition drop: a landed-then-tombstoned batch's " +
    "replay fails with the landed partition intact") {
    def mk(i: Long): (Long, Array[Float]) =
      (i, Array.tabulate(8)(j => math.sin(i * 3.7 + j * 1.3).toFloat))
    val corpus = (0L until 20L).map(mk).toDF("vec_id", "embedding")
    val batch = Seq(mk(100L), mk(101L)).toDF("vec_id", "embedding")
    val ivfPrefix = "graft_ivf_clashorder"
    val lshPrefix = "graft_lsh_clashorder"
    try {
      Similarity.createIvfIndexTable(
        Similarity.ivfIndex(corpus, "vec_id", "embedding",
          nCentroids = 4, persistIndex = false), ivfPrefix, buckets = 2)
      Similarity.appendToIvfIndexTable(batch, "vec_id", "embedding",
        ivfPrefix, buckets = 2, batchId = Some(0L))
      // landed, gate commit crashed, then one id tombstoned
      assert(Similarity.deleteFromIvfIndexTable(spark,
        Seq(100L).toDF("vec_id"), "vec_id", ivfPrefix, buckets = 2,
        batchId = Some(1L)) === 1L)
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndexTable(batch, "vec_id", "embedding",
          ivfPrefix, buckets = 2, batchId = Some(0L))
      }
      assert(spark.table(ivfPrefix + "_assigned")
        .filter(col("c_id") === 101L).count() === 1L,
        "the landed IVF partition must survive the refused replay")

      Similarity.createLshIndexTable(
        Similarity.lshIndex(corpus, "vec_id", "embedding",
          nPlanes = 2, persistIndex = false), lshPrefix, buckets = 2)
      Similarity.appendToLshIndexTable(batch, "vec_id", "embedding",
        lshPrefix, buckets = 2, batchId = Some(0L))
      assert(Similarity.deleteFromLshIndexTable(spark,
        Seq(100L).toDF("vec_id"), "vec_id", lshPrefix, buckets = 2,
        batchId = Some(1L)) === 1L)
      intercept[IllegalArgumentException] {
        Similarity.appendToLshIndexTable(batch, "vec_id", "embedding",
          lshPrefix, buckets = 2, batchId = Some(0L))
      }
      assert(spark.table(lshPrefix + "_buckets")
        .filter(col("c_id") === 101L).count() === 1L,
        "the landed LSH partition must survive the refused replay")
    } finally (Similarity.ivfIndexTableNames(ivfPrefix) ++
      Similarity.lshIndexTableNames(lshPrefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("NULL embeddings are excluded, never NPE mid-job") {
    // the realistic failed-extraction artifact: one null vector used
    // to crash the PCA/PQ/kmeans JVM kernels with NullPointerException
    val cands = Seq(
      (1L, Some(Array(1.0f, 0.0f))), (2L, Some(Array(0.9f, 0.1f))),
      (3L, Option.empty[Array[Float]])).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(q, cands, "vec_id", "embedding",
      k = 3).select("c_id").as[Long].collect().toSet
    assert(top == Set(1L, 2L), "null-vec candidate must be excluded")
    val asg = Similarity.kmeans(cands, "vec_id", "embedding", k = 2,
      maxIter = 3).select("id").as[Long].collect().toSet
    assert(asg == Set(1L, 2L), "null-vec row must not reach Lloyd")
    val pq = Similarity.pqIndex(cands, "vec_id", "embedding",
      m = 2, ksub = 2, persistIndex = false)
    assert(pq.encoded.count() == 2, "null-vec row must not be encoded")
  }

  test("zero-norm vectors score cosine 0, never NaN rank-1") {
    // an all-zero embedding (failed extraction) must not hijack the
    // top of every list: NaN sorts above every double in a DESC
    // window, so an unguarded 0/0 would put the corrupt vector at
    // rank 1 for every query
    val cands = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(q, cands, "vec_id", "embedding",
        k = 3)
      .orderBy("rank").select("c_id", "cos")
      .as[(Long, Double)].collect().toSeq
    assert(top.map(_._1) == Seq(1L, 2L, 3L),
      s"zero vector must rank LAST, got $top")
    assert(top.last._2 == 0.0d && top.forall(!_._2.isNaN))
  }

  test("LSH append keeps build-censored buckets censored") {
    // 10 near-copies of one direction overflow bucketCap=3 at build,
    // so their bucket is census-dropped; an appended vector in that
    // direction must NOT resurrect the bucket (it would hold only the
    // batch's biased sliver of its membership), while a vector in the
    // surviving direction is admitted — and the appended index must
    // equal a full rebuild over corpus ∪ batch at the same cap.
    def dirA(i: Long) = (i, Array.tabulate(8)(j =>
      (1.0 + (i % 7) * 0.001 + j * 0.0001).toFloat))
    def dirB(i: Long) = (i, Array.tabulate(8)(j =>
      (-1.0 - (i % 7) * 0.001 - j * 0.0001).toFloat))
    val corpus = ((0L until 10L).map(dirA) ++ Seq(dirB(50L), dirB(51L)))
      .toDF("vec_id", "embedding")
    val lsh0 = Similarity.lshIndex(corpus, "vec_id", "embedding",
      nPlanes = 2, bucketCap = 3, persistIndex = false)
    assert(lsh0.dropped.count() == 1, "fixture must censor one bucket")
    val batch = Seq(dirA(200L), dirB(201L)).toDF("vec_id", "embedding")
    val lsh1 = Similarity.appendToAnnIndex(lsh0, batch,
      "vec_id", "embedding")
    val ids = lsh1.buckets.select("c_id").as[Long].collect().toSet
    assert(!ids.contains(200L),
      "censored-direction append must stay censored")
    assert(ids.contains(201L),
      "surviving-direction append must be admitted")
    val rebuilt = Similarity.lshIndex(
      corpus.unionByName(batch), "vec_id", "embedding",
      nPlanes = 2, bucketCap = 3, persistIndex = false)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(lsh1.buckets) == rows(rebuilt.buckets),
      "append must equal a same-cap rebuild over corpus ∪ batch")
  }
}

class DedupMatrixSpec extends SparkSpec {
  import spark.implicits._

  test("cross-source matrix: pair counts per source pair, zeros dropped") {
    // digest(x): A=2, B=1 → AA C(2,2)=1, AB 2·1=2
    // digest(y): B=2      → BB 1
    // digest(z): A=1      → contributes nothing (no pair)
    val docs = Seq(
      (1L, "x", "srcA"), (2L, "x", "srcA"), (3L, "x", "srcB"),
      (4L, "y", "srcB"), (5L, "y", "srcB"),
      (6L, "z", "srcA")).toDF("doc_id", "text", "source")
    val r = graft.operators.Dedup
      .crossSourceMatrix(docs, "doc_id",
        graft.operators.Dedup.exactDigest(col("text")), "source")
      .select("src_a", "src_b", "dup_pairs", "n_digests")
      .as[(String, String, Long, Long)].collect()
      .sortBy(x => (x._1, x._2)).toSeq
    assert(r == Seq(
      ("srcA", "srcA", 1L, 1L),
      ("srcA", "srcB", 2L, 1L),
      ("srcB", "srcB", 1L, 1L)))
    spark.catalog.clearCache()
  }
}

class EmbeddingStatsSpec extends SparkSpec {
  import spark.implicits._

  test("centroid outliers: micro-unit distances, ties by id, per group") {
    // group 0 micro-vectors: (0,0) (1e6,0) (5e5,1e6)
    //   centroid = (5e5, floor(1e6/3 + .5)=333333)
    //   d²(v0) = 5e5² + 333333² = 361_110_888_889  (tie with v1 → id)
    //   d²(v2) = 666667²        = 444_444_888_889  (farthest)
    val vecs = Seq(
      (0L, 0, Array(0.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.5f, 1.0f)),
      (3L, 1, Array(0.25f, 0.25f)),
      (4L, 1, Array(0.25f, 0.25f))).toDF("vec_id", "label", "embedding")
    val r = graft.operators.EmbeddingStats
      .centroidOutliers(vecs, "vec_id", "embedding", "label", k = 2)
      .select("grp", "rank", "id", "dist2_micro")
      .as[(Int, Long, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(r == Seq(
      (0, 1L, 2L, 444444888889L),
      (0, 2L, 0L, 361110888889L),
      (1, 1L, 3L, 0L),   // identical vectors: distance exactly 0,
      (1, 2L, 4L, 0L)))  // ranked by id
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("next-fit packing bins by exclusive running sum per shard") {
    val chunks = Seq(
      (0L, 0L, 4L), (0L, 1L, 4L), (0L, 2L, 4L), (0L, 3L, 4L),
      (2L, 0L, 9L),              // shard 0, after doc 0 in sort order
      (1L, 0L, 10L), (1L, 1L, 1L)) // shard 1
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens")
    val packed = graft.operators.Packing
      .packChunks(chunks, "doc_id", "chunk_idx", "n_chunk_tokens",
        maxTokens = 10, nShards = 2)
      .select("doc_id", "chunk_idx", "shard", "bin")
      .as[(Long, Long, Long, Long)].collect().toSet
    // shard 0 offsets: 0,4,8,12,16 -> bins 0,0,0,1,1 (the offset-8
    // chunk straddles the boundary and stays in bin 0 — documented
    // next-fit overflow); shard 1 offsets: 0,10 -> bins 0,1
    assert(packed == Set(
      (0L, 0L, 0L, 0L), (0L, 1L, 0L, 0L), (0L, 2L, 0L, 0L),
      (0L, 3L, 0L, 1L), (2L, 0L, 0L, 1L),
      (1L, 0L, 1L, 0L), (1L, 1L, 1L, 1L)))
  }

  test("bin overflow is bounded by one chunk; bad args rejected") {
    val maxTok = 10
    val chunks = (0L until 200L).map(i =>
      (i % 13, i / 13, 1L + (i * 5 % 7))) // sizes 1..7, many docs
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens")
    val sums = graft.operators.Packing
      .packChunks(chunks, "doc_id", "chunk_idx", "n_chunk_tokens",
        maxTokens = maxTok, nShards = 4)
      .groupBy("shard", "bin")
      .agg(org.apache.spark.sql.functions.sum("n_chunk_tokens").as("s"),
        org.apache.spark.sql.functions.max("n_chunk_tokens").as("m"))
      .select("s", "m").as[(Long, Long)].collect()
    assert(sums.nonEmpty)
    // a bin holds every chunk whose FIRST token lands inside its
    // budget, so sum < maxTokens + last chunk's size <= maxTokens + m
    assert(sums.forall { case (s, m) => s < maxTok + m })
    intercept[IllegalArgumentException] {
      graft.operators.Packing.packChunks(chunks, "doc_id", "chunk_idx",
        "n_chunk_tokens", maxTokens = 0, nShards = 4)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Packing.packChunks(chunks, "doc_id", "chunk_idx",
        "n_chunk_tokens", maxTokens = 10, nShards = 0)
    }
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("left as-of picks latest right row at or before left time") {
    val left = Seq((1L, "u1", 100L), (2L, "u1", 200L), (3L, "u2", 50L))
      .toDF("id", "k", "t")
    val right = Seq((10L, "u1", 90L), (11L, "u1", 150L), (12L, "u1", 201L))
      .toDF("rid", "rk", "rt")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", Seq("rid"))
      .select(col("id"), col("rid")).as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(10L))   // 90 <= 100, latest
    assert(out(2L).contains(11L))   // 150 <= 200 beats 90; 201 excluded
    assert(out(3L).isEmpty)         // no match for u2
  }

  test("exact duplicate left rows keep their multiplicity (no leftId)") {
    val left = Seq(("u1", 100L), ("u1", 100L), ("u1", 200L))
      .toDF("k", "t") // two IDENTICAL rows
    val right = Seq((10L, "u1", 90L)).toDF("rid", "rk", "rt")
    val out = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt",
        Seq("rid"))
      .select(col("k"), col("t"), col("rid"))
      .as[(String, Long, Long)].collect().toSeq
    assert(out.count(_ == ("u1", 100L, 10L)) == 2) // both duplicates out
    assert(out.size == 3)
  }

  test("same key/time column names on both sides resolve unambiguously") {
    // the NATURAL as-of shape — trades(sym, ts) vs quotes(sym, ts, px):
    // unqualified post-join references used to die with
    // AMBIGUOUS_REFERENCE here
    val trades = Seq((1L, "A", 100L), (2L, "A", 200L), (3L, "B", 100L))
      .toDF("id", "sym", "ts")
    val quotes = Seq(("A", 90L, 10L), ("A", 150L, 11L), ("B", 300L, 12L))
      .toDF("sym", "ts", "px")
    val out = AsOfJoin.leftAsOf(trades, quotes, "sym", "sym", "ts", "ts",
        tiebreak = Seq("px"), leftId = Seq("id"))
      .select(col("id"), col("px")).as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(10L))
    assert(out(2L).contains(11L))
    assert(out(3L).isEmpty) // B's only quote is later than the trade
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("contamination counts distinct trigram overlap with the eval set") {
    val docs = Seq(
      (100L, "a b c d e"), // eval: trigrams {a b c, b c d, c d e}
      (1L, "a b c x"),     // train: {a b c, b c x} -> 1/2 hit
      (2L, "x y z w"),     // train: {x y z, y z w} -> 0/2
      (3L, "ab")           // train: no trigrams -> absent from output
    ).toDF("doc_id", "text")
    val out = graft.operators.Decontaminate
      .contamination(docs, "doc_id", "text",
        isEval = col("doc_id") >= 100, n = 3, threshold = 0.5)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(rows == Map(
      1L -> (2L, 1L, 0.5d, true),
      2L -> (2L, 0L, 0.0d, false)))
    // the eval shingle set must reach the probe as a broadcast —
    // shuffling a corpus-sized train shingle index would be the
    // 100 TB scale-killer this operator exists to avoid
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }
}

class KMeansSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // three well-separated 2-D blobs, 6 points each
  private val blobs = (0 until 18).map { i =>
    val (cx, cy) = (i % 3) match {
      case 0 => (0.0f, 0.0f)
      case 1 => (10.0f, 10.0f)
      case _ => (-10.0f, 10.0f)
    }
    (i.toLong, Array(cx + (i / 3) * 0.1f, cy + (i / 3) * 0.1f))
  }.toDF("vec_id", "embedding")

  test("kmeans recovers well-separated clusters") {
    val a = graft.operators.Similarity
      .kmeans(blobs, "vec_id", "embedding", k = 3, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every point must share its cluster with exactly the other
    // points of its blob (cluster ids themselves are arbitrary)
    val byBlob = (0 until 18).groupBy(_ % 3)
      .map { case (_, ids) => ids.map(i => a(i.toLong)).toSet }
    assert(byBlob.forall(_.size == 1), s"blob split across clusters: $a")
    assert(byBlob.toSet.flatten.size == 3, s"blobs merged: $a")
  }

  test("kmeans is deterministic across runs and partitionings") {
    def run(parts: Int) = graft.operators.Similarity
      .kmeans(blobs.repartition(parts), "vec_id", "embedding",
        k = 3, maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(run(2) == run(7)) // exact: micro-unit decimal centroid sums
  }

  test("assignToCentroids mirrors the fused iterate's argmin bit-for-bit") {
    // pseudo-random (deterministic) vectors + centroids, including
    // exact-tie constructions; assignToCentroids (the broadcast d2
    // scan) and a replica of the iterate's JVM loop must agree on
    // every (cluster, d2) — this IS the contract that lets the Lloyd
    // rounds and the returned assignment run as separate passes
    def rnd(seed: Long): Double = {
      val x = seed * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble
    }
    val dim = 7
    val vecs = (0 until 60).map { i =>
      if (i < 6) (i.toLong, Array.fill(dim)(0.5f)) // sits on tie cases
      else (i.toLong,
        Array.tabulate(dim)(d => rnd(i * 31 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cents: Seq[Seq[Double]] =
      Seq(Seq.fill(dim)(0.5), Seq.fill(dim)(0.5)) ++ // exact duplicates
        (2 until 5).map(c => Seq.tabulate(dim)(d => rnd(c * 97 + d)))
    val got = graft.operators.Similarity
      .assignToCentroids(vecs, "vec_id", "embedding", cents)
      .select("id", "cluster", "d2")
      .as[(Long, Long, Double)].collect()
      .map { case (id, cl, d2) => id -> ((cl, d2)) }.toMap
    val raw = vecs.as[(Long, Array[Float])].collect()
    raw.foreach { case (id, vf) =>
      val p = vf.map(_.toDouble)
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var s = 0.0d; var d = 0
        while (d < dim) { val df = p(d) - cents(c)(d); s += df * df; d += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      assert(got(id) == ((best.toLong, bd)),
        s"id=$id: expression ${got(id)} != loop ($best, $bd)")
    }
    // ties resolved to the SMALLEST centroid id on both paths
    assert((0L until 6L).forall(got(_)._1 == 0L))
  }

  test("kmeans audit: per-round inertia is monotone non-increasing") {
    val r = graft.operators.Similarity
      .kmeansWithAudit(blobs, "vec_id", "embedding", k = 3, maxIter = 10)
    assert(r.audit.nonEmpty)
    assert(r.audit.map(_.round) == r.audit.indices.toSeq)
    val j = r.audit.map(_.inertia)
    // Lloyd's: assignment and update each only lower inertia. The
    // decimal sums kill partition-order noise, but centroids snap to
    // 1e-6 micro-units (within 5e-7 of the exact mean per component),
    // so inertia may legally rise by ~n·dim·(5e-7)² per round — the
    // slack scales with the fixture instead of pretending exactness
    val nDim = blobs.selectExpr("size(embedding)").first().getInt(0)
    val slack = blobs.count() * nDim * 2.5e-13 * 10 + 1e-12
    assert(j.zip(j.tail).forall { case (a, b) => b <= a + slack },
      s"inertia increased across rounds beyond quantization slack: $j")
    assert(r.audit.map(_.moved).forall(_ >= 0.0))
    // the audit describes the SAME run whose assignments we got
    assert(r.assignments.count() == 18)
  }

  test("kmeans d2 feeds inertia and empty clusters keep centroids") {
    // k larger than distinct points: extra clusters stay parked on
    // their seed rather than crashing the update
    val tiny = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val a = graft.operators.Similarity
      .kmeans(tiny, "vec_id", "embedding", k = 2, maxIter = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(a.length == 2)
    assert(a.forall(_._2 <= 1e-12)) // each point sits on its centroid
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("semdedup drops within-cluster near-identicals, keeps min id") {
    // blob A at (0,0)-ish: 0 and 1 identical (dup), 2 distinct;
    // blob B at (10,10)-ish: 10 and 11 identical (dup), 12 distinct
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),      // dup of 0
      (2L, Array(0.6f, 0.8f)),      // same blob, not a dup
      (10L, Array(10.0f, 10.0f)),
      (11L, Array(10.0f, 10.0f)),   // dup of 10
      (12L, Array(14.0f, 7.0f)))    // same blob, not a dup
      .toDF("vec_id", "embedding")
    val out = graft.operators.SemDedup
      .semDedup(vecs, "vec_id", "embedding", k = 2,
        cosThreshold = 0.999, maxIter = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L, 12L))
    assert(out(1L) == (0L, false)) // dropped in favor of 0
    assert(out(11L) == (10L, false))
    assert(Seq(0L, 2L, 10L, 12L).forall(out(_)._2 == true))
  }

  test("clusterCap parks degenerate clusters instead of probing them") {
    // 30 identical vectors -> one cluster of 30 > cap of 10: the
    // pairwise probe must skip it and keep EVERY member
    val vecs = (0L until 30L).map(i => (i, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.SemDedup
      .semDedup(vecs, "vec_id", "embedding", k = 2,
        cosThreshold = 0.9, maxIter = 2, clusterCap = 10L)
    assert(out.filter(col("keep")).count() == 30L)
  }

  test("semDedupWithCentroids: explicit frozen centroids drive the " +
    "same downstream — L2-argmin clusters, transitive chains " +
    "collapse to ONE min-id survivor") {
    // blob A clusters to centroid 0, blob B to centroid 1; inside A a
    // transitive chain 0~1~2 (1 bridges 0 and 2 at the threshold)
    // must collapse to a single survivor — pair-local keeps would
    // split it into overlapping drop sets
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9999f, 0.0141f)),  // ~0.99990 cos to BOTH 0 and 2
      (2L, Array(0.9996f, 0.0282f)),  // 0.9996 cos to 0 — found via 1
      (3L, Array(0.6f, 0.8f)),        // same cluster, no dup
      (10L, Array(10.0f, 10.0f)),
      (11L, Array(10.0f, 10.0f)))     // dup of 10
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0d, 0.0d), Seq(10.0d, 10.0d))
    val out = graft.operators.SemDedup
      .semDedupWithCentroids(vecs, "vec_id", "embedding", cents,
        cosThreshold = 0.9999)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // assignment is the frozen L2 argmin
    assert(Seq(0L, 1L, 2L, 3L).forall(out(_)._1 == 0L))
    assert(Seq(10L, 11L).forall(out(_)._1 == 1L))
    // the chain collapses transitively: 0 survives, 1 AND 2 drop to
    // it (2's direct cos to 0 is below the threshold — only the
    // bridge finds it)
    assert(out(0L) == ((0L, 0L, true)))
    assert(out(1L) == ((0L, 0L, false)))
    assert(out(2L) == ((0L, 0L, false)))
    assert(out(3L)._3, "non-dup cluster member must be kept")
    assert(out(10L) == ((1L, 10L, true)))
    assert(out(11L) == ((1L, 10L, false)))
  }
}
