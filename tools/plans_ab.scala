// Dump .explain("formatted") for a set of queries into
// $PLANS_DIR/<query>_<tag>.txt — before/after plan evidence for an
// optimization change (plans/r17 and plans/r18 were written this way).
// Usage, from the repo root:
//   PLANS_DIR=plans/r19 PLANS_SF=<sf0.1 table dir> \
//   PLANS_QUERIES=q_text_bm25,q_graph_pagerank PLANS_TAG=before \
//     spark-shell --jars target/scala-2.13/*.jar -I tools/plans_ab.scala
// PLANS_SF falls back to SPARK_GRAFT_SF_DIR (the Bench/Verify data dir).
import java.io.PrintWriter
val dir = sys.env.getOrElse("PLANS_DIR", sys.error("set PLANS_DIR"))
val sf = (sys.env.get("PLANS_SF").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
  .getOrElse(sys.error("set PLANS_SF or SPARK_GRAFT_SF_DIR")))
val tag = sys.env.getOrElse("PLANS_TAG", "before")
val qs = (sys.env.getOrElse("PLANS_QUERIES", "").split(",")
  .map(_.trim).filter(_.nonEmpty))
require(qs.nonEmpty, "set PLANS_QUERIES")
new java.io.File(dir).mkdirs()
spark.conf.set("spark.sql.session.timeZone", "UTC")
val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
for (n <- qs) {
  val out = new PrintWriter(s"$dir/${n}_$tag.txt")
  out.println(all(n)(spark, sf).queryExecution.explainString(
    org.apache.spark.sql.execution.FormattedMode))
  out.close()
  println(s"WROTE $dir/${n}_$tag.txt")
}
sys.exit(0)
