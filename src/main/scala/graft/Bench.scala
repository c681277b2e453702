package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Machine noise on this box is large (observed ±50% run-to-run);
    // the median of SPARK_GRAFT_REPS runs per query makes round-over-
    // round regressions attributable to code, not scheduling luck.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // Optional comma-separated query-name filter for local iteration
    // on a single operator (full sweep when unset).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // timestamp semantics must match Verify/tests regardless of the
      // host JVM's zone — NTZ-normalized columns shift otherwise
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/parquet-reader warmup so the first measured query
    // isn't charged ~5s of one-time init.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    var errors = 0
    // the sweep covers the verify registry PLUS the bench-only raw
    // tenses (operators whose registry entry is a verdict row keep
    // their production probe shape measured here)
    val benched = SparkEntry.queries ++ SparkEntry.benchOnlyQueries
    only.foreach { names =>
      val unknown = names -- benched.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    val results = benched
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        // every rep pays its own cache builds (operators persist
        // narrow indexes): measures the operator, not a warm cache
        // from the previous rep, and keeps 70+ queries x reps of
        // cached RDDs from stacking up in one JVM. The explicit
        // unpersist ALSO runs per rep (outside the timed window):
        // clearCache can't free the previous rep's localCheckpoint
        // blocks, and a heavy query that checkpoints (pagerank,
        // clusters, drift) would otherwise run reps 2..N against its
        // own accumulated block pressure — skewing the median.
        spark.catalog.clearCache()
        // blocking: this release sits OUTSIDE the timed window, so
        // waiting is free — a non-blocking removal could still be in
        // flight when the next rep's clock starts and bleed cleanup
        // cost into the measurement.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            // A failed query must be LOUD — a silent -1 reads as the
            // fastest query in the file.
            errors += 1
            System.err.println(s"[bench] $name FAILED: $e")
            None
        }
      }
      val median =
        if (times.isEmpty) -1.0
        else times.sorted.apply(times.size / 2)
      // Per-rep evidence on stderr (stdout carries ONLY the JSON
      // line): sweep medians on this box occasionally spike several-
      // fold vs the isolated protocol (BENCH_r08/r09 pagerank 21-25 s
      // vs 4-6 s isolated, unreproducible after the fact) — printing
      // every rep makes the next spike attributable (one cold/GC rep
      // vs sustained pressure) instead of a number to argue about.
      System.err.println(
        s"[bench] $name reps=[" +
          times.map(t => f"$t%.2f").mkString(",") + "]")
      // Between queries, release the LAST rep's blocks too and nudge
      // GC for broadcast/codegen debris — measured: a heavy-query
      // sweep in one JVM otherwise inflates late queries up to 20x
      // through accumulated block-store pressure (r9, the same
      // mechanism behind BENCH_r06's phantom spikes).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      name -> median
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // n_queries (and filtered:true when SPARK_GRAFT_ONLY is set) keep
    // a filtered run distinguishable from a full sweep — a one-query
    // "total" must never read as a fleet-wide speedup downstream.
    val filtered = if (only.isDefined) ""","filtered":true""" else ""
    // the protocol field travels WITH the numbers and must describe
    // THIS run: a full sweep runs every query in one JVM, and
    // accumulated block/GC pressure can inflate individual late
    // queries several-fold (measured up to 20x) — whereas a
    // SPARK_GRAFT_ONLY run IS the isolated-JVM protocol docs/SCALE.md
    // prefers (exactly so, when it names a single query)
    val protocol =
      if (only.isDefined)
        "filtered-run: only SPARK_GRAFT_ONLY queries in this JVM; " +
          "with one query this is the isolated-JVM protocol " +
          "docs/SCALE.md uses"
      else
        "single-jvm-sweep: per-query values can be inflated by " +
          "accumulated pressure; isolate per-query before comparing " +
          "(docs/SCALE.md)"
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"n_queries":${results.size},"errors":$errors,"protocol":"$protocol"$filtered}"""
    println(full)
    // The full contract line above is ~4.5 KB for a 144-query sweep;
    // a consumer that captures only a tail window of stdout (observed:
    // 2000 chars in BENCH_r16/r17, which left `parsed: null` two
    // rounds running) can never see its start. Additions only, no
    // timed-region change: (a) the full line is ALSO written to a
    // sidecar file, (b) a COMPACT final line — total/sf/reps/
    // n_queries/errors/cpus, no per-query map — is printed last so any
    // last-JSON-line or tail-window parser finds a complete object.
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      "docs/bench_last.json")
    val written = try {
      val p = java.nio.file.Paths.get(sidecar)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
      true
    } catch {
      // a bench run must never fail because the sidecar location is
      // unwritable (e.g. invoked outside the repo); the stdout lines
      // still carry everything, and the compact line then names no
      // sidecar
      case e: Exception =>
        System.err.println(s"[bench] sidecar write failed ($sidecar): $e")
        false
    }
    val queriesFile = if (written) s""""$sidecar"""" else "null"
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","reps":$reps,"n_queries":${results.size},"errors":$errors,"cpus":$cpus,"queries_file":$queriesFile$filtered}""")
    spark.stop()
    if (errors > 0) sys.exit(2)
  }
}
