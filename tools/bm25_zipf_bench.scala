// Pruned-vs-exhaustive BM25 on a Zipfian corpus — the fixture the
// MaxScore dial exists for (the registered sf corpus is degenerate:
// ~30 equally-common terms, nothing demotes, and q_text_bm25_pruned
// there measures the dial's worst-case overhead instead).
//
// Corpus: NDOCS docs, each with a stopword ("the", df = N), a mid
// band ("mid_i", df ~ N/100), a rare band ("rare_i", df ~ N/10000),
// and spread filler ("w_i", df ~ N/1000). Queries: NQ distinct
// signatures of the form {rare_j, the} — the realistic "rare topic
// term + stopword" shape where MaxScore's non-essential prefix is
// exactly the stopword's corpus-sized posting list.
//
// Run (writes one JSON line per form):
//   /opt/spark/bin/spark-shell --master local[16] --driver-memory 12g \
//     --conf spark.ui.enabled=false --jars target/scala-2.13/*.jar \
//     -I tools/bm25_zipf_bench.scala <<< ""
import org.apache.spark.sql.functions._
import graft.operators.Retrieval

val NDOCS = 1000000L
val NQ = 50

spark.conf.set("spark.sql.shuffle.partitions", 32)

val corpus = spark.range(NDOCS).select(
  col("id").as("doc_id"),
  array(
    lit("the"),
    concat(lit("mid_"), (col("id") % 100).cast("string")),
    concat(lit("rare_"), (col("id") % 10000).cast("string")),
    concat(lit("w_"), (col("id") % 1000).cast("string")),
    concat(lit("u_"), col("id").cast("string"))
  ).as("toks"))

val queries = spark.range(NQ).select(
  col("id").as("query_id"),
  array(concat(lit("rare_"), (col("id") * 7 % 10000).cast("string")),
    lit("the")).as("toks"))

// stage the index once (both forms probe the SAME staged state, so
// the measurement isolates the probe)
val ix = Retrieval.postingsIndex(corpus, "doc_id", col("toks"))
ix.postings.count() // materialize the persisted tf
val bounds = Retrieval.pruneBounds(ix)
  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
bounds.count()

def time(label: String)(f: => Long): Unit = {
  // rep 1 warms codegen/caches; reps 2-4 measured, median reported
  val reps = (1 to 4).map { _ =>
    val t0 = System.nanoTime(); val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }
  val times = reps.tail.map(_._1).sorted
  println(s"""{"bench":"bm25_zipf","form":"$label","ndocs":$NDOCS,""" +
    s""""nq":$NQ,"rows":${reps.head._2},"median_s":${times(times.size / 2)},""" +
    s""""reps_s":[${reps.tail.map(t => f"${t._1}%.2f").mkString(",")}]}""")
}

time("exhaustive") {
  Retrieval.bm25TopKWith(ix, queries, "query_id", col("toks"),
    k = 10).count()
}
time("pruned") {
  Retrieval.bm25TopKPrunedWith(ix, queries, "query_id", col("toks"),
    k = 10, bounds = Some(bounds)).count()
}

// query set 2: several mid-frequency terms per query, CO-OCCURRING
// with the rare term's own docs (mid_(j%100) / w_(j%1000) are exactly
// the bands the seed docs carry) — the shape where the loose θ keeps
// the mid/w lists essential (the removed fully-scored-seed θ notch
// demoted them; docs/SCALE.md holds its numbers)
val queries2 = spark.range(NQ).select(
  col("id").as("query_id"),
  array(
    concat(lit("rare_"), (col("id") * 7 % 10000).cast("string")),
    concat(lit("mid_"), (col("id") * 7 % 100).cast("string")),
    concat(lit("w_"), (col("id") * 7 % 1000).cast("string")),
    lit("the")).as("toks"))

time("exhaustive_multiband") {
  Retrieval.bm25TopKWith(ix, queries2, "query_id", col("toks"),
    k = 10).count()
}
time("pruned_multiband") {
  Retrieval.bm25TopKPrunedWith(ix, queries2, "query_id", col("toks"),
    k = 10, bounds = Some(bounds)).count()
}

// result identity on this fixture too (sorted collect compare);
// braces keep the chain one statement under spark-shell -I's
// line-by-line paste
val parity = {
  val a = Retrieval.bm25TopKWith(ix, queries, "query_id",
    col("toks"), k = 10).collect().map(_.toString).sorted.toSeq
  val b = Retrieval.bm25TopKPrunedWith(ix, queries, "query_id",
    col("toks"), k = 10, bounds = Some(bounds))
    .collect().map(_.toString).sorted.toSeq
  (a == b, a.size)
}
println(s"""{"bench":"bm25_zipf","parity":${parity._1},"rows":${parity._2}}""")
sys.exit(0)
