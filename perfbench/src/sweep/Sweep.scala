package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType, StructType}

import graft.SparkEntry

/** `registry_sweep`: one closed-loop pass, one query at a time, over a fixed
  * panel of registry queries on seeded sf0.001-shaped tables. Each query
  * is timed to an order-insensitive hash of every output column (never
  * `count()`, which lets Spark prune the operator under test), and every
  * hash is compared, outside the timed region, with the same hash of the
  * query's DuckDB oracle result over the same tables.
  *
  * One pass per run, in a fresh JVM: like a batch job, each query pays
  * its own plan compilation. `--seconds` does not change the work. */
object Sweep {
  /** Queries per registry module, plus one staged-table lifecycle. The
    * full 144-query sweep takes over 200 s on 4 cores even at sf0.001,
    * beyond one benchmark run, so the panel keeps light queries of every
    * module, among them the three whose `count()` plan prunes the operator
    * away (q_win_rank, q_text_fingerprint, q_text_langid). */
  val Panel: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q_win_rank"),
    "stream_shaped" -> Seq("q_win_session"),
    "text" -> Seq("q_text_fingerprint", "q_text_langid"),
    "vector" -> Seq("q_sim_cosine_topk"),
    "graph" -> Seq("q_fuzzy_join_ed"),
    "staged_tables" -> Seq("q_sim_ann_ivf_staged"))

  val names: Seq[String] = Panel.flatMap(_._2)

  /** Every column, maps as sorted entry arrays (Spark refuses to hash
    * maps), in name order. */
  private def canon(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toSeq.map { f =>
      def c(dt: DataType, x: Column): Column = dt match {
        case _: MapType => array_sort(map_entries(x))
        case _ => x
      }
      c(f.dataType, col(s"`${f.name}`"))
    }

  type Hash = (Long, java.math.BigDecimal)

  /** (rows, sum of per-row xxhash64) — insensitive to row order. */
  def hashOf(df: DataFrame): Hash = {
    val r = df.select(xxhash64(canon(df): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  final case class Timed(name: String, module: String, secs: Double,
                         hash: Option[Hash], schema: StructType)

  def pass(ctx: Ctx, tracer: Tracer): Seq[Timed] = {
    val spark = ctx.spark
    val registry = SparkEntry.queries
    Panel.flatMap { case (module, qs) =>
      tracer.span(module, "sweep_module") {
        qs.map { q =>
          // the Bench protocol: every query pays its own cache builds
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          val t0 = System.nanoTime()
          val r = tracer.span(q, "sweep_query") {
            try {
              val df = registry(q)(spark, ctx.data)
              Some((hashOf(df), df.schema))
            } catch {
              case e: Exception => ctx.log(s"$q FAILED: $e"); None
            }
          }
          Timed(q, module, (System.nanoTime() - t0) / 1e9, r.map(_._1),
            r.map(_._2).orNull)
        }
      }
    }
  }

  /** Each query's DuckDB reference hash, cast to the schema of its Spark
    * result; None when the reference is missing or its columns differ. */
  def references(ctx: Ctx, ts: Seq[Timed]): Map[String, Option[Hash]] =
    ts.map { t =>
      val refPath = new java.io.File(new java.io.File(ctx.data).getParentFile,
        s"ref/${t.name}.parquet")
      t.name -> Option(t.schema).filter(_ => refPath.exists()).flatMap { schema =>
        val ref = ctx.spark.read.parquet(refPath.toString)
        if (!schema.fieldNames.sorted.sameElements(ref.columns.sorted)) None
        else Some(hashOf(ref.select(schema.fields.toSeq.map(f =>
          col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)))
      }
    }.toMap

  /** Failed query runs: exceptions plus hashes that differ from the
    * reference. Each differing query is logged once. */
  def check(ctx: Ctx, refs: Map[String, Option[Hash]], ps: Seq[Seq[Timed]]): Long = {
    val bad = ps.flatten.filter(t => t.hash.isEmpty || refs(t.name) != t.hash)
    bad.map(_.name).distinct.foreach(q =>
      ctx.log(s"$q: result differs from the DuckDB reference"))
    bad.size.toLong
  }

  def run(ctx: Ctx): Outcome = {
    val off = new Tracer(ctx.spark, enabled = false)
    val a = pass(ctx, off)
    Memory.sample()
    val refs = references(ctx, a)
    val failed = check(ctx, refs, Seq(a))
    val secs = a.map(_.secs)
    val e2e = Map(
      "throughput_per_s" -> a.size / secs.sum,
      "op_p50_ms" -> Stats.median(secs) * 1e3,
      "op_p90_ms" -> Stats.quantile(secs, 0.9) * 1e3,
      "op_geomean_ms" -> Stats.geomean(secs) * 1e3)
    val notes = Seq(f"sweep: ${a.size} queries in ${secs.sum}%.2f s, $failed failed") ++
      a.map(t => f"  ${t.module}%-14s ${t.name}%-28s ${t.secs}%6.3f s")
    if (!ctx.trace) return Outcome(0.0, a.size, failed, e2e, notes = notes)
    // the overhead compares two warm passes: traced, then untraced
    val tracer = new Tracer(ctx.spark, enabled = true)
    val tr0 = Tracer.nowMs()
    val b = tracer.span("registry_sweep", "workload")(pass(ctx, tracer))
    val tr1 = Tracer.nowMs()
    tracer.stop()
    val c = pass(ctx, off)
    tracer.write(new java.io.File(ctx.work, "spans.jsonl").toString)
    val modules = Panel.map { case (m, _) =>
      s"sweep.${m}_s" -> a.filter(_.module == m).map(_.secs).sum }
    val layers = Layers.zero ++ Layers.exec(tracer, tr0, tr1) ++ Layers.self(tracer) ++
      modules ++ Map(
        "trace.overhead_frac" -> (b.map(_.secs).sum / c.map(_.secs).sum - 1.0),
        "trace.spans" -> tracer.spanCount.toDouble)
    Outcome(0.0, 3L * a.size, failed + check(ctx, refs, Seq(b, c)), e2e, layers, notes)
  }
}

/** Entry point of `registry_sweep` (see [[Main.launch]]). */
object SweepMain {
  def main(args: Array[String]): Unit = Main.launch(args)(Sweep.run)
}

/** Prints the panel's oracle SQL as JSON (query -> SQL) for the DuckDB
  * reference step. Needs no Spark session. A panel query without an
  * oracle gets no reference, and each of its runs counts as failed. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    println(Sweep.names.filter(sql.contains)
      .map(q => s""""$q":"${Json.esc(sql(q))}"""").mkString("{", ",", "}"))
  }
}
