package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload hands back: its end-to-end metrics (untraced), its
  * per-layer metrics (traced run only) and the outcome of its output
  * checks as attempted/failed operation counts. */
final case class Outcome(setupS: Double, attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         layers: Map[String, Double] = Map.empty,
                         notes: Seq[String] = Nil)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Boolean, work: String, data: String,
                     cores: Int) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Benchmark entry point for `door_backlog` and `mq_relay`: one workload
  * per JVM. Prints one result line, `PERFBENCH_RESULT {json}`, for
  * `run.py` to complete and re-emit. `registry_sweep` has its own entry
  * point, [[perfbench.SweepMain]], built only when that workload runs.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --data DIR --cores K
  */
object Main {
  def main(args: Array[String]): Unit = launch(args) { ctx =>
    args(args.indexOf("--workload") + 1) match {
      case "door_backlog" => Door.run(ctx)
      case "mq_relay" => Relay.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** Starts the session, runs one workload and prints its result line. */
  def launch(args: Array[String])(run: Ctx => Outcome): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val spark = session(cores, a("work"))
    // codegen/parquet warm-up, paid once per JVM like any deployment
    spark.range(200000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("data"), cores)
    val out = run(ctx)
    val e2e = out.e2e + ("setup_s" -> (sessionS + out.setupS)) +
      ("ok_frac" -> (out.attempted - out.failed).toDouble / math.max(out.attempted, 1L)) +
      ("retained_heap_mb" -> Memory.retainedHeapMb)
    val layers: Map[String, Double] =
      if (ctx.trace) out.layers + ("mem.peak_rss_mb" -> Memory.peakRssMb()) else Map.empty
    out.notes.foreach(ctx.log)
    println(s"PERFBENCH_RESULT {" +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""e2e":${Json.obj(e2e)},"layers":${Json.obj(layers)}}""")
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val w = new java.io.File(work).getAbsoluteFile
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new java.io.File(w, "warehouse").toString)
      .config("spark.local.dir", new java.io.File(w, "local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        new java.io.File(w, "checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
