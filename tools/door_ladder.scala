// Door-throughput LADDER: cost of the door's in-plan near-dup gate
// (StreamingOps.nearDupAgainstCorpus: the band kernel over a broadcast
// snapshot of the banded table) as the corpus grows, fixed arrival
// set. Per rung it reports the snapshot's bytes and build seconds (the
// one read of the table a corpus version costs, from
// CorpusSnapshots.lastBuilds) and the median seconds of one BATCH-row
// batch through the gate once the snapshot is built, which is what a
// micro-batch pays while the table does not change.
// Run: /opt/spark/bin/spark-shell --master local[4] --driver-memory 6g \
//        --jars target/scala-2.13/sparkibmmqspark_2.13-0.1.0.jar \
//        --conf spark.ui.enabled=false \
//        -I tools/door_ladder.scala <<< ""
// (SIZES, BATCH, NBATCHES, REPS and OUT override the defaults below.)
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators.Dedup
import graft.streaming.{CorpusSnapshots, StreamingOps}

val BATCH = sys.env.getOrElse("BATCH", "1000").toInt
val NBATCHES = sys.env.getOrElse("NBATCHES", "3").toInt
val REPS = sys.env.getOrElse("REPS", "3").toInt
val SIZES = (sys.env.getOrElse("SIZES", "30000,300000,3000000")
  .split(",").map(_.trim.toLong).toSeq)
val OUT = sys.env.getOrElse("OUT", "docs/door_ladder.json")

def textOf(idc: org.apache.spark.sql.Column) =
  concat_ws(" ", transform(sequence(lit(0), lit(7)), i =>
    concat(lit("tok"), pmod(xxhash64(concat(idc.cast("string"),
      lit("_"), i.cast("string"))), lit(50000L)))))
def mkCorpus(n: Long): DataFrame =
  spark.range(n).select(col("id").as("doc_id"),
    textOf(col("id")).as("text"))

// FIXED arrivals at every corpus size: even ids = token-reversed
// copies of corpus docs 0..BATCH*NBATCHES-1 (simhash is order-free →
// hamming 0 → the gate must drop them), odd ids = novel text
val nArr = BATCH * NBATCHES
val arrivals = (spark.range(nArr).select(col("id"),
    when(col("id") % 2 === 0,
        concat_ws(" ", reverse(split(textOf(col("id")), " "))))
      .otherwise(concat(lit("novel "), col("id").cast("string"), lit(" "),
        textOf(col("id") + 1000000000L))).as("text"),
    lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
  .localCheckpoint(true))

val fpOf = StreamingOps.doorFingerprint(col("text"))
case class Rung(corpus: Long, snapshotBytes: Long, buildSecs: Double,
                batchSecsMedian: Double, dropped: Long)
val out = scala.collection.mutable.ArrayBuffer.empty[Rung]
SIZES.foreach { n =>
  val tbl = s"ladder_band_$n"
  spark.sql(s"DROP TABLE IF EXISTS $tbl")
  val t0 = System.nanoTime
  Dedup.createBandedIndexTable(
    mkCorpus(n).select(col("doc_id"), fpOf.as("fp")), "doc_id", "fp",
    tbl, 32)
  println(f"[ladder] corpus=$n index built in ${(System.nanoTime-t0)/1e9}%.1f s")
  def gate(batch: DataFrame) = StreamingOps.nearDupAgainstCorpus(
    batch, fpOf, "ts", spark.table(tbl), "10 minutes")
  // the first batch reads the new table into the snapshot
  val dropped = BATCH - gate(arrivals.filter(col("id") < BATCH)).count()
  val build = CorpusSnapshots.lastBuilds("band")
  val times = (0 until NBATCHES).flatMap { b =>
    val batch = (arrivals.filter(col("id") >= b * BATCH &&
      col("id") < (b + 1) * BATCH).localCheckpoint(true))
    (1 to REPS).map { _ =>
      val t = System.nanoTime
      gate(batch).write.format("noop").mode("overwrite").save()
      (System.nanoTime - t) / 1e9
    }
  }
  val med = times.sorted.apply(times.size / 2)
  out += Rung(n, build.bytes, build.buildMs / 1e3, med, dropped)
  println(f"[ladder] corpus=$n%8d snapshot=${build.rows} rows " +
    f"${build.bytes / 1e6}%.1f MB built in ${build.buildMs / 1e3}%.2f s; " +
    f"per-batch median=$med%6.3f s dropped=$dropped (of $BATCH)")
  spark.sql(s"DROP TABLE IF EXISTS $tbl")
}
val json = (out.map(r =>
  s"""{"corpus":${r.corpus},"snapshot_bytes":${r.snapshotBytes},"build_sec":${r.buildSecs},"per_batch_sec":${r.batchSecsMedian},"dropped_of_first_batch":${r.dropped}}""")
  .mkString("[\n", ",\n", "\n]"))
java.nio.file.Files.write(java.nio.file.Paths.get(OUT),
  (json + "\n").getBytes("UTF-8"))
println(s"[ladder] wrote $OUT")
