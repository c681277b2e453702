package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving-latency split: the sweep's table-tense retrieval numbers
  * (q_text_bm25_staged/_deleted/...) deliberately FUSE index build +
  * mutation + probe into one number — the honest cost of the query AS
  * REGISTERED. A serving deployment pays the build once and the probe
  * per request, so this main stages every table ONCE, then times the
  * PROBES alone (median of SPARK_GRAFT_REPS, staged state warm — the
  * steady-state serving scenario) and reports build and probe in
  * separate columns. One JSON line on stdout; docs/SCALE.md carries
  * the per-round table.
  *
  * Probes (the round-13/14 retrieval surface): exhaustive bm25,
  * MaxScore-pruned, filtered (restrictToDocs on a lang allowlist),
  * deleted (pruned probe over a prefix with a gated takedown
  * pending), retrieve-then-rerank, and hybrid RRF (lexical fused with
  * the staged IVF list).
  *
  * Dense rows (round 15): the ANN families' own build/probe split —
  * the in-memory IVF/LSH probes vs the staged TABLE tenses whose
  * probes dynamically prune to their nProbe cent_id directories / own
  * bucket (ScaleSpec pins the plans; this measures what the pruning
  * buys), plus the cross-surface takedown audit costed over
  * PRE-STAGED surfaces (the sweep's q_ann_takedown_audit number fuses
  * six surface builds into one invocation — here the audit pays only
  * its own victim-bounded joins).
  */
object ServingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    import graft.operators.{Retrieval, Similarity, TextAnalysis => TA}
    import graft.streaming.StreamingOps
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val prefix = "graft_serving_bench"
    val prefixDel = prefix + "_del"
    val embTable = prefix + "_embt"
    val ivftPrefix = prefix + "_ivft"
    val lshtPrefix = prefix + "_lsht"
    val allTables = Retrieval.indexTableNames(prefix) ++
      Retrieval.indexTableNames(prefixDel) ++
      Similarity.ivfIndexTableNames(ivftPrefix) ++
      Similarity.lshIndexTableNames(lshtPrefix) :+ embTable
    // drop catalog entries AND any orphaned warehouse directories a
    // killed previous run left behind (this JVM's in-memory catalog
    // starts empty, so DROP TABLE alone cannot see them, and CREATE
    // refuses to land on an orphaned location)
    allTables.foreach(
      graft.sources.BucketedTables.dropTableAndDir(spark, _))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_PROBES (round 16): comma-separated probe subset —
    // unset runs everything. Deep scale rungs (sf100d+) use this to
    // run the dense rows without paying the df-linear lexical probes
    // on the degenerate-vocabulary derived corpus (docs/SCALE.md);
    // builds are gated on what the selected probes actually read, so
    // a dense-only run never stages the postings tables at all.
    val probeFilter: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_PROBES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Validate the subset BEFORE any build runs (ADVICE r16): a typo
    // alongside valid names used to pay minutes-to-hours of deep-rung
    // index builds before failing at the probe table. The name list is
    // the static registry below (kept adjacent so adding a probe
    // without extending it fails THIS require on first use).
    val knownProbes = Set("bm25", "pruned", "filtered", "deleted",
      "rerank", "hybrid", "ann_ivf_mem", "ann_ivf_table", "ann_lsh_mem",
      "ann_lsh_table", "ann_pq_store", "ann_ivfpq_store",
      "takedown_audit")
    probeFilter.foreach { pf =>
      require(pf.nonEmpty,
        "SPARK_GRAFT_PROBES is set but names no probes — unset it for " +
          "a full run or name a subset of: " +
          knownProbes.toSeq.sorted.mkString(","))
      val unknown = pf -- knownProbes
      require(unknown.isEmpty,
        s"SPARK_GRAFT_PROBES names unknown probes: " +
          s"${unknown.mkString(",")} (known: " +
          knownProbes.toSeq.sorted.mkString(",") + ")")
    }
    def wanted(name: String): Boolean = probeFilter.forall(_.contains(name))
    val needPost = Seq("bm25", "pruned", "filtered", "rerank", "hybrid")
      .exists(wanted)
    val needDel = wanted("deleted") || wanted("takedown_audit")
    val needEmbT = Seq("rerank", "hybrid", "ann_pq_store",
      "ann_ivfpq_store").exists(wanted)
    val needIvf = Seq("ann_ivf_mem", "ann_ivf_table", "hybrid",
      "takedown_audit").exists(wanted)
    val needIvfT = wanted("ann_ivf_table") || wanted("takedown_audit")
    val needLsh = wanted("ann_lsh_mem") || wanted("ann_lsh_table")
    val buckets = cpus.toInt
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (needPost) builds("postings_create") = timed {
      Retrieval.createPostingsIndexTable(docs, "doc_id",
        TA.tokens(col("text")), prefix, buckets)
    }
    if (needDel) {
      builds("postings_create_victimized") = timed {
        Retrieval.createPostingsIndexTable(docs, "doc_id",
          TA.tokens(col("text")), prefixDel, buckets)
      }
      builds("takedown_delete") = timed {
        Retrieval.deleteFromPostingsIndexTable(spark,
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
          "doc_id", prefixDel, buckets, batchId = Some(0L))
      }
    }
    if (needEmbT) builds("embeddings_bucketed") = timed {
      graft.sources.BucketedTables.writeBucketed(emb, embTable,
        buckets, Seq("vec_id"))
    }
    // one corpus count shared by every √N-sized build row (the count
    // itself is a sizing input, not index construction — keep it
    // outside the timed windows)
    val nVec = emb.filter(col("embedding").isNotNull).count()
    var ivf: Similarity.IvfIndex = null
    if (needIvf) builds("ivf_index") = timed {
      ivf = Similarity.ivfIndex(emb, "vec_id", "embedding",
        Similarity.suggestedNCentroids(nVec))
      ivf.assigned.count() // materialize the staged state
    }
    if (needIvfT) builds("ivf_table_create") = timed {
      Similarity.createIvfIndexTable(ivf, ivftPrefix, buckets)
    }
    var lsh: Similarity.LshIndex = null
    if (needLsh) builds("lsh_index") = timed {
      lsh = Similarity.lshIndex(emb, "vec_id", "embedding")
      lsh.buckets.count()
    }
    if (wanted("ann_lsh_table")) builds("lsh_table_create") = timed {
      Similarity.createLshIndexTable(lsh, lshtPrefix, buckets)
    }
    // PQ / IVFPQ (round 16): these families' staged persistence is the
    // VersionedIndexStore (swap-publish versions, no bucketed TABLE
    // tense) — a serving deployment loads the PUBLISHED version per
    // request cycle and probes it, so the build rows cover
    // train+encode and save+publish separately, and the probe rows
    // load through the store pointer exactly like a pointer-following
    // reader.
    import graft.operators.{IndexMaintenance => IM}
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }
    val storeRoot =
      java.nio.file.Files.createTempDirectory("graft-serving-store")
    // reclaim the temp version stores even when a build or probe
    // throws mid-run (the JVM exits either way; the hook covers both)
    sys.addShutdownHook(rmTree(storeRoot))
    val pqStore = new IM.VersionedIndexStore(s"$storeRoot/pq")
    val ivfpqStore = new IM.VersionedIndexStore(s"$storeRoot/ivfpq")
    var pq: Similarity.PqIndex = null
    if (wanted("ann_pq_store")) {
      builds("pq_index") = timed {
        pq = Similarity.pqIndex(emb, "vec_id", "embedding")
        pq.encoded.count()
      }
      builds("pq_store_publish") = timed {
        val v = pqStore.nextVersion()
        IM.saveAnnIndex(pq, pqStore.versionDir(v))
        pqStore.publish(v)
      }
    }
    var ivfpq: Similarity.IvfPqIndex = null
    if (wanted("ann_ivfpq_store")) {
      builds("ivfpq_index") = timed {
        ivfpq = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
          nCentroids = Similarity.suggestedNCentroids(nVec),
          trainCoarse = true)
        ivfpq.encoded.count()
      }
      builds("ivfpq_store_publish") = timed {
        val v = ivfpqStore.nextVersion()
        IM.saveAnnIndex(ivfpq, ivfpqStore.versionDir(v))
        ivfpqStore.publish(v)
      }
    }

    // FIXED request set (round 16): a serving request stream does not
    // grow with the corpus — the r15 ladder filtered requests by
    // `id % 50` alone, which scaled the request COUNT 10x per derived
    // rung and so conflated corpus growth with load growth (a
    // corpus-wide ADC scan like PQ-alone then measures 100x work at
    // 10x data: 10x corpus x 10x requests). The id windows below keep
    // the EXACT r15 request set at sf0.1 (every sf0.1 id falls inside
    // them, so sf0.1 numbers stay comparable) and pin the SAME 100
    // lexical / 40 dense requests at every derived rung — the ladder
    // now isolates corpus size alone. The takedown-audit victim set
    // deliberately still scales with the corpus: a compliance batch
    // is corpus-proportional, and victim-boundedness is the claim
    // that row tests.
    // lazy: a request frame is only materialized when a selected
    // probe reads it (hq additionally requires the bucketed
    // embeddings table, which a dense-only run never stages)
    lazy val qs = docs
      .filter(col("doc_id") % 50 === 0 && col("doc_id") < 5000)
      .select(col("doc_id").as("query_id"), col("text"))
      .localCheckpoint(true) // query frames are request-side, tiny
    lazy val allowed = docs.filter(col("lang") === "en").select("doc_id")
      .localCheckpoint(true)
    lazy val hq = qs.join(spark.table(embTable)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qv")),
      Seq("query_id"), "left").localCheckpoint(true)
    // dense request side: vector queries, request-sized like qs
    lazy val vq = emb
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
      .localCheckpoint(true)
    val qToks = slice(TA.tokens(col("text")), 1, 3)

    val probes: Seq[(String, () => Long)] = Seq(
      "bm25" -> (() => Retrieval.bm25TopKWith(
        Retrieval.loadPostingsIndex(spark, prefix),
        qs, "query_id", qToks, k = 10).count()),
      "pruned" -> (() => Retrieval.bm25TopKPrunedWith(
        Retrieval.loadPostingsIndex(spark, prefix),
        qs, "query_id", qToks, k = 10,
        bounds = Some(Retrieval.loadPruneBounds(spark, prefix)))
        .count()),
      "filtered" -> (() => Retrieval.bm25TopKWith(
        Retrieval.restrictToDocs(
          Retrieval.loadPostingsIndex(spark, prefix), allowed,
          "doc_id"),
        qs, "query_id", qToks, k = 10).count()),
      "deleted" -> (() => Retrieval.bm25TopKPrunedWith(
        Retrieval.loadPostingsIndex(spark, prefixDel),
        qs, "query_id", qToks, k = 10,
        bounds = Some(Retrieval.loadPruneBounds(spark, prefixDel)))
        .count()),
      "rerank" -> (() => {
        val embT = spark.table(embTable)
        Retrieval.rerankByCosine(
          Retrieval.bm25TopKWith(
            Retrieval.loadPostingsIndex(spark, prefix),
            qs, "query_id", qToks, k = 50)
            .filter(col("doc") =!= col("query")),
          embT, "vec_id", "embedding", embT, "vec_id", "embedding",
          k = 10).count()
      }),
      "hybrid" -> (() => StreamingOps.hybridProbe(hq, "query_id",
        qToks, "qv", prefix, ivf, kRetrieve = 10, k = 10,
        nProbe = 2).count()),
      // dense serving: the same probe over the in-memory handle vs
      // the staged TABLE tense — the table probe's DPP to its nProbe
      // cent_id lists / own bucket is the number that must stay flat
      // as the corpus grows
      "ann_ivf_mem" -> (() => Similarity.ivfTopKWith(ivf, vq,
        "vec_id", "embedding", k = 10, nProbe = 2).count()),
      "ann_ivf_table" -> (() => Similarity.ivfTopKWith(
        Similarity.loadIvfIndexTable(spark, ivftPrefix), vq,
        "vec_id", "embedding", k = 10, nProbe = 2).count()),
      "ann_lsh_mem" -> (() => Similarity.lshTopKWith(lsh, vq,
        "vec_id", "embedding", k = 10).count()),
      "ann_lsh_table" -> (() => Similarity.lshTopKWith(
        Similarity.loadLshIndexTable(spark, lshtPrefix), vq,
        "vec_id", "embedding", k = 10).count()),
      // the store-persisted families, loaded through the published
      // pointer per probe (the pointer-following reader's cost); the
      // exact-rerank side reads the bucketed embeddings table
      "ann_pq_store" -> (() => Similarity.pqTopKWith(
        IM.loadAnnIndexLike(spark,
          pqStore.versionDir(pqStore.currentVersion()), pq),
        vq, spark.table(embTable), "vec_id", "embedding",
        k = 10).count()),
      "ann_ivfpq_store" -> (() => Similarity.ivfPqTopKWith(
        IM.loadAnnIndexLike(spark,
          ivfpqStore.versionDir(ivfpqStore.currentVersion()), ivfpq),
        vq, spark.table(embTable), "vec_id", "embedding",
        k = 10, nProbe = 2).count()),
      // the compliance audit over PRE-STAGED surfaces: only the
      // victim-bounded joins themselves (the sweep's 8 s
      // q_ann_takedown_audit number is build-dominated by design)
      "takedown_audit" -> (() => Retrieval.takedownAuditAll(spark,
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
        "vec_id", postingsPrefix = Some(prefixDel),
        ann = Seq(
          Retrieval.AnnAuditSurface("ivf_table",
            Similarity.loadIvfIndexTable(spark, ivftPrefix)),
          Retrieval.AnnAuditSurface("ivf_mem", ivf))).count())
    )
    val selected = probes.filter { case (name, _) => wanted(name) }
    // the registry and the static knownProbes list above must agree —
    // this is the guard that makes a probe added without extending the
    // early validation fail loudly instead of silently drifting
    require(probes.map(_._1).toSet == knownProbes,
      "probe registry and knownProbes drifted: registry=" +
        probes.map(_._1).mkString(",") + " known=" +
        knownProbes.toSeq.sorted.mkString(","))
    val medians = selected.map { case (name, run) =>
      val times = (1 to reps).map { _ =>
        val t = timed { run(); () }
        // outside the timed window: the pruned probes localCheckpoint
        // per call (self-cleaning via the ContextCleaner, but only
        // when GC actually runs) — without a nudge the blocks pile up
        // across reps and inflate the tail (observed 4s → 13.7s by
        // rep 5 at sf0.1). The staged tables and the warm IVF cache
        // are untouched: this is the steady-state serving scenario
        // with per-request state reclaimed, exactly what a long-lived
        // server's GC does.
        System.gc()
        t
      }
      System.err.println(s"[serving] $name reps=[" +
        times.map(t => f"$t%.2f").mkString(",") + "]")
      name -> times.sorted.apply(times.size / 2)
    }
    def js(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    println(s"""{"metric":"serving_split","sf":"$sfDir","reps":$reps,"buckets":$buckets,"build_sec":${js(builds)},"probe_median_sec":${js(medians)}}""")
    allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.stop()
  }
}
