package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * n-grams, language-ID heuristic, quality scoring, token counting,
  * fingerprinting. All pure column expressions (no UDFs) so they scale
  * linearly with data and never shuffle on their own. Shingles and
  * bigrams are a native kernel (`graft_shingles`); the remaining
  * higher-order forms (`stopwordRatio`'s `filter`, `rollingHash`'s
  * `aggregate`) are evaluated interpreted inside whole-stage codegen,
  * and subexpression elimination does not reach into their lambdas.
  */
object TextAnalysis {

  /** Whitespace tokenizer (lower-cased).
    *
    * Case normalization is DEFINED as the JVM's full Unicode mapping
    * (Spark's `lower`): context-sensitive (Greek word-final Σ → ς)
    * and occasionally multi-codepoint (U+0130 İ → i + U+0307).
    * Engines using the simple one-to-one mapping (DuckDB lowers both
    * to plain σ/i) diverge on exactly those codepoints — so digests,
    * fingerprints and token identities over non-ASCII corpora are
    * cross-engine-comparable only after agreeing on the mapping
    * (tools/nullcheck.sh documents and excludes the two known cases).
    */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** BPE-ish lexer pattern: word pieces, digit runs, single punctuation. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Token count under the BPE-ish pattern (codegen'd regexp, no UDF). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePattern))

  /** Adjacent-token bigrams: [[shingles]] of width 2 (a doc of one
    * token or none yields no bigrams). */
  def bigrams(toks: Column): Column = shingles(toks, 2)

  /** Word-level n-gram shingles: element i joins tokens i .. i+n-1 with
    * one space, null when any of them is null; a doc of fewer than `n`
    * tokens yields an empty array, a null array a null one. One pass
    * of the native `graft_shingles` kernel over the token array. */
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_shingles", toks, lit(n))
  }

  /** Vowel-ratio language-ID heuristic. A real pipeline would score
    * character n-gram profiles per language; the bucketing shape (pure
    * expression -> CASE) is identical, so this stands in for it while
    * staying DuckDB-oracle-checkable.
    */
  def langIdHeuristic(text: Column): Column = {
    val vowels = length(regexp_replace(lower(text), "[^aeiou]", ""))
    val ratio = vowels.cast("double") / length(text).cast("double")
    when(ratio < 0.20, "zh")
      .when(ratio < 0.24, "de")
      .when(ratio < 0.28, "en")
      .otherwise("es")
  }

  /** Stopword ratio over the token array (lambda runs vectorized). */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column = {
    val stops = filter(toks, t => t.isin(stopwords.map(lit): _*))
    size(stops).cast("double") / greatest(size(toks), lit(1)).cast("double")
  }

  /** Quality score in integer 1e-4 units — THE single definition of
    * the heuristic (0.5·stopword-ratio + 0.5·length-saturation at 100
    * tokens, midpoint-rounded at 4dp). [[qualityScore]] and the
    * corpus data card's exact quality sums both derive from this one
    * expression; tuning weights or saturation here keeps every
    * consumer in lockstep (the microQuantize stance).
    */
  def qualityScoreQ4(toks: Column, stopwords: Seq[String]): Column = {
    val lenSat = least(size(toks), lit(100)).cast("double") / 100.0
    floor((stopwordRatio(toks, stopwords) * 0.5 + lenSat * 0.5) *
      10000.0d + 0.5d).cast("long")
  }

  /** Simple quality score in [0,1]: mix of stopword presence and length
    * saturation — the standard "heuristic quality filter" shape.
    * Exactly `qualityScoreQ4 / 1e4` (bit-identical to the historical
    * `graft.rnd(..., 4)` form — the long round-trip is exact far below
    * 2^53). */
  def qualityScore(text: Column, toks: Column,
                   stopwords: Seq[String]): Column =
    qualityScoreQ4(toks, stopwords).cast("double") / 10000.0d

  /** Model-APPLY step of a fastText-style linear quality filter: a
    * fixed-weight classifier over already-computed feature columns,
    * with the weights — the trained artifact — frozen into the plan
    * as literals. Each feature arrives in integer 1e-4 units (Q4,
    * the [[qualityScoreQ4]] convention) and each weight is Q4 too,
    * so `score_q8 = bias_q8 + Σ w_q4·f_q4` is exact BIGINT
    * arithmetic: partitioning-independent, oracle-exact, and the
    * keep/drop decision downstream thresholds the INTEGER score,
    * never a float. One map-only codegen projection per row — the
    * apply step costs the same per document at 100 TB as at 60k
    * rows, which is exactly why curation pipelines run trained
    * filters this way (train once offline, apply as a scan).
    */
  def linearModelQ8(features: Seq[(Column, Long)], biasQ8: Long): Column = {
    require(features.nonEmpty, "linearModelQ8 needs at least one feature")
    features.map { case (fQ4, wQ4) => fQ4 * lit(wQ4) }
      .reduce(_ + _) + lit(biasQ8)
  }

  /** Redaction pass for training-data hygiene: mask digit runs and
    * email-shaped spans (pure codegen'd regexps, no UDF). Real
    * deployments chain more patterns; the operator shape is one linear
    * scan per pattern. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]+", "<NUM>")

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set. Groups docs that are token-set permutations.
    *
    * NULL semantics: `concat_ws` treats a null token array as empty,
    * so null text fingerprints as md5("") — same bucket as the empty
    * document, never a null fp. Oracle twins must spell this as
    * `coalesce(text, '')` (DuckDB's array_to_string/md5 would
    * otherwise propagate NULL and silently drop the doc from any
    * fp-keyed join). */
  def contentFingerprint(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))))

  /** Rabin-Karp style rolling hash of the full text (polynomial fold
    * with `aggregate` — one pass, no shuffle). Not oracle-expressible;
    * covered by ScalaTest instead.
    *
    * The modulus must satisfy `prime * 131 + 255 < 2^63`: the fold
    * multiplies BEFORE reducing, and under the runtime's default ANSI
    * mode a long overflow is a query-killing ARITHMETIC_OVERFLOW, not
    * a silent wrap — a 2^60-scale modulus crashed on any text longer
    * than ~9 chars. Largest prime below 2^53 keeps the product at
    * ~2^60 with 53 bits of hash state. */
  def rollingHash(text: Column): Column = {
    val prime = lit(9007199254740881L) // largest prime < 2^53
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 131 + c, prime))
  }
}
