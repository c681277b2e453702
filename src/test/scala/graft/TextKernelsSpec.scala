package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BloomKernels, TextKernels}
import graft.operators.{Decontaminate, Dsir, TextAnalysis => TA}
import graft.streaming.StreamingOps

/** The native text kernels (`graft_shingles`, `graft_dsir_logw`,
  * `graft_bloom_count`) against the higher-order lambda forms they
  * replaced, kept here as the oracles. Every comparison runs twice:
  * over a local relation (the optimizer evaluates the projection
  * interpreted) and over a repartitioned copy (whole-stage codegen).
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  // ---- the replaced lambda forms -------------------------------------

  private def shinglesOracle(toks: Column, n: Int): Column = {
    val len = greatest(size(toks) - (n - 1), lit(0))
    val parts = (1 to n).map(i => slice(toks, lit(i), len))
    parts.reduceLeft((acc, nxt) => zip_with(acc, nxt,
      (a, b) => concat(a, lit(" "), b)))
  }

  private def bigramsOracle(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  private def logwOracle(model: Dsir.DsirModel, toks: Column): Column = {
    val lamArr = typedLit(model.lambda)
    aggregate(concat(toks, bigramsOracle(toks)), lit(0L), (acc, g) =>
      acc + element_at(lamArr,
        (Dsir.gramBucket(g, model.hexDigits) + lit(1L)).cast("int")))
  }

  private def scoreOracle(model: Dsir.DsirModel, toks: Column): Column = {
    val logw = logwOracle(model, toks)
    val n = size(concat(toks, bigramsOracle(toks))).cast("long")
    struct(n.as("n_grams"), logw.as("logw_micro"),
      (logw * lit(model.totN) > lit(model.totLogw) * n).as("keep"))
  }

  private def bloomHitsOracle(arr: Column,
                              m: Decontaminate.BloomModel): Column =
    size(filter(arr, x => Decontaminate.bloomContains(xxhash64(x), m)))
      .cast("long")

  // ---- fixtures ------------------------------------------------------

  private val edgeTexts: Seq[String] = Seq(
    "", null, "one", "two words", "a  b", " lead", "trail ", "   ",
    "the cat sat on the mat and the dog sat too",
    "ΟΔΟΣ ΣΟΦΟΣ ΚΟΣΜΟΣ",        // final sigma: lower() maps Σ → ς
    "İstanbul İzmir İ",         // İ lowers to two code points
    "日本 語 🙂 emoji 🙂 🙂", "tab\tinside word")

  private def randomTexts(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("the", "a", "of", "cat", "Σ", "ΣΟΦΟΣ", "İ", "日本",
      "🙂", "naïve", "x", "", "DOG", "ß", "ﬁ")
    Seq.fill(n) {
      Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextInt(5) == 0) "  " else " ")
    }
  }

  private def texts: DataFrame =
    (edgeTexts ++ randomTexts(600, 7L)).zipWithIndex
      .map { case (t, i) => (i, t) }.toDF("id", "text")

  // token arrays with null elements, and a null array
  private def holey: DataFrame = Seq(
    (0, Seq("a", null, "b", "c")), (1, Seq[String](null)),
    (2, Seq("x", "y", null)), (3, Seq[String](null, null, "z", "w")),
    (4, null), (5, Seq.empty[String]), (6, Seq("p", "q", "r", "s", "t"))
  ).toDF("id", "toks")

  /** `got` and `want` agree on every row, interpreted and codegen'd. */
  private def assertSame(df: DataFrame, got: Column, want: Column,
                         what: String): Unit =
    for ((form, d) <- Seq("local" -> df, "codegen" -> df.repartition(2))) {
      val rows = d.select(col("id"), got.as("got"), want.as("want"))
        .collect()
      assert(rows.length == df.count())
      val bad = rows.filter(r => r.get(1) != r.get(2))
      assert(bad.isEmpty, s"$what ($form): ${bad.take(5).mkString("; ")}")
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // a dense λ over 16^3 buckets with both signs, and totals that keep
  // about half of the docs
  private val model: Dsir.DsirModel = {
    val rnd = new scala.util.Random(11L)
    Dsir.DsirModel(3,
      IndexedSeq.fill(4096)(rnd.nextInt(40001).toLong - 20000L),
      totLogw = -1234567L, totN = 98765L)
  }

  // ---- shingles ------------------------------------------------------

  test("graft_shingles matches the zip_with chain for n = 1..4 and bigrams") {
    val toks = TA.tokens(col("text"))
    for (n <- 1 to 4)
      assertSame(texts, TA.shingles(toks, n), shinglesOracle(toks, n),
        s"shingles n=$n")
    assertSame(texts, TA.bigrams(toks), bigramsOracle(toks), "bigrams")
  }

  test("graft_shingles: null tokens null the shingles they touch") {
    for (n <- 1 to 4)
      assertSame(holey, TA.shingles(col("toks"), n),
        shinglesOracle(col("toks"), n), s"holey shingles n=$n")
    val got = holey.filter(col("id") === 0)
      .select(TA.bigrams(col("toks"))).as[Seq[String]].head()
    assert(got == Seq(null, null, "b c"))
    assert(holey.filter(col("id") === 4)
      .select(TA.shingles(col("toks"), 3)).head().isNullAt(0))
  }

  test("graft_shingles has the zip_with element type") {
    val df = texts.select(TA.shingles(TA.tokens(col("text")), 3).as("a"),
      shinglesOracle(TA.tokens(col("text")), 3).as("b"))
    assert(df.schema("a").dataType == df.schema("b").dataType)
    assert(df.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
  }

  // ---- DSIR ----------------------------------------------------------

  test("graft_dsir_logw: bucket equals Dsir.gramBucket on 12k random grams") {
    val rnd = new scala.util.Random(5L)
    val alphabet = "abcxyz ΣσςİıßΩ日本語🙂é́".codePoints().toArray
    val grams = Seq.fill(12000) {
      val cps = Array.fill(rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.length)))
      new String(cps, 0, cps.length)
    }
    val df = grams.toDF("g").repartition(3)
    for (h <- Seq(1, 3, 5, 7)) {
      val got = df.select(col("g"), Dsir.gramBucket(col("g"), h))
        .as[(String, Long)].collect()
      assert(got.length == grams.size)
      val bad = got.filter { case (g, b) =>
        TextKernels.gramBucket(UTF8String.fromString(g), h) != b }
      assert(bad.isEmpty, s"hexDigits=$h: ${bad.take(5).mkString("; ")}")
    }
  }

  test("graft_dsir_logw: logw, n_grams and keep match the aggregate fold") {
    val toks = TA.tokens(col("text"))
    assertSame(texts, Dsir.scoreWith(model, toks), scoreOracle(model, toks),
      "scoreWith")
    assertSame(holey, Dsir.scoreWith(model, col("toks")),
      scoreOracle(model, col("toks")), "scoreWith over null tokens")
    // the fixtures exercise both decisions
    val keeps = texts.select(Dsir.scoreWith(model, toks)("keep"))
      .as[Option[Boolean]].collect().toSet
    assert(keeps == Set(Some(true), Some(false), None))
  }

  test("graft_dsir_logw: a trained model scores as the fold does") {
    val docs = texts.filter(col("text").isNotNull)
    val fitted = Dsir.fitModel(docs, "id", TA.tokens(col("text")),
      isTarget = col("id") % 3 === 0)
    val toks = TA.tokens(col("text"))
    assertSame(texts, Dsir.scoreWith(fitted, toks),
      scoreOracle(fitted, toks), "fitted scoreWith")
  }

  test("graft_dsir_logw: overflow follows ANSI mode as the fold's + does") {
    val big = Dsir.DsirModel(1, IndexedSeq.fill(16)(Long.MaxValue / 2 + 1),
      totLogw = 0L, totN = 0L)
    val df = Seq((0, "a b"), (1, "solo")).toDF("id", "text")
    def native = call_function("graft_dsir_logw", TA.tokens(col("text")),
      typedLit(big.lambda), lit(1))
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSame(df, native, logwOracle(big, TA.tokens(col("text"))),
        "wrapping logw")
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      def overflows(c: Column): Boolean = {
        val e = intercept[Exception](
          df.repartition(2).select(c).collect())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("ARITHMETIC_OVERFLOW"))
      }
      assert(overflows(native))
      assert(overflows(logwOracle(big, TA.tokens(col("text")))))
    }
  }

  // ---- bloom count ---------------------------------------------------

  test("graft_bloom_count matches size(filter(...)), null element included") {
    val docs = texts.filter(col("text").isNotNull)
    val trained = Decontaminate.buildShingleBloom(docs, "id", "text",
      col("id") % 4 === 0, n = 3)
    // a second filter that also holds the null element's hash (seed 42)
    val words = trained.words.clone()
    BloomKernels.set(words, TextKernels.XxSeed, trained.k)
    val withNull = trained.copy(words = words)
    val sh = array_distinct(TA.shingles(TA.tokens(col("text")), 3))
    for (m <- Seq(trained, withNull)) {
      assertSame(texts, Decontaminate.bloomCount(sh, m),
        bloomHitsOracle(sh, m), "bloom hits over shingles")
      assertSame(holey, Decontaminate.bloomCount(col("toks"), m),
        bloomHitsOracle(col("toks"), m), "bloom hits over null elements")
    }
    val hits = holey.filter(col("id") === 1)
      .select(Decontaminate.bloomCount(col("toks"), withNull)).as[Long].head()
    assert(hits == 1L)
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSame(holey, Decontaminate.bloomCount(col("toks"), trained),
        bloomHitsOracle(col("toks"), trained), "legacy size of null")
      assert(holey.filter(col("id") === 4).select(
        Decontaminate.bloomCount(col("toks"), trained)).as[Long].head() == -1L)
    }
  }

  // ---- plan shape ----------------------------------------------------

  private def hofCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case h: HigherOrderFunction => h }.size)
        .sum
    }.sum

  test("the door's text gates plan no higher-order function") {
    val toks = TA.tokens(col("text"))
    val docs = texts.filter(col("text").isNotNull)
    // not a local relation: the optimizer would evaluate projections
    // over one away, leaving no expression to count
    val base = texts.repartition(2)
    val bloom = Decontaminate.buildShingleBloom(docs, "id", "text",
      col("id") % 4 === 0, n = 3)
    val q8 = TA.linearModelQ8(Seq((size(toks).cast("long"), 100L)), 0L)
    val planned = Seq(
      "dsirAdmitAtDoor" -> StreamingOps.dsirAdmitAtDoor(base, "text", model),
      "doorScores" -> StreamingOps.doorScores(base, "text", q8, bloom),
      "shingles" -> base.select(TA.shingles(toks, 3), TA.bigrams(toks)),
      "scoreWith" -> base.select(Dsir.scoreWith(model, toks)))
    planned.foreach { case (name, df) =>
      assert(hofCount(df) == 0, s"$name plans a higher-order function:\n" +
        df.queryExecution.optimizedPlan)
    }
    // the count sees the forms these replaced
    assert(hofCount(base.select(shinglesOracle(toks, 3))) > 0)
    assert(hofCount(base.select(scoreOracle(model, toks))) > 0)
  }
}
