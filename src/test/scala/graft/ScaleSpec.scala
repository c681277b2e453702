package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Scale-mechanics evidence: salted joins spread hot keys without
  * changing results; bucketed tables co-locate joins with no shuffle;
  * the extensions class wires graft_dot at builder time.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("banded range join: plain-theta result, equi-join plan (no BNLJ)") {
    val left = (1 to 300).map(i => (i.toLong, (i * 7 % 500).toDouble))
      .toDF("lid", "lv")
    val right = (1 to 400).map(i => (i.toLong, (i * 13 % 500).toDouble))
      .toDF("rid", "rv")
    val cond = col("rv") > col("lv") && col("rv") <= col("lv") + 50.0
    val plain = left.join(right, cond).select("lid", "rid")
    val banded = graft.operators.RangeJoin
      .bandedRangeJoin(left, right, "lv", "rv", width = 50.0, cond = cond)
      .select("lid", "rid")
    assert(plain.except(banded).count() == 0 &&
      banded.except(plain).count() == 0)
    assert(plain.count() == banded.count()) // no dup pairs from banding
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"banded form must plan an equi-join:\n$plan")
  }

  test("salted join returns exactly the plain-join result") {
    val left = (1 to 1000).map(i =>
      (if (i % 10 == 0) 1L else i.toLong, s"row$i")).toDF("k", "payload")
    val right = Seq((1L, "hot"), (2L, "cold"), (7L, "mild"))
      .toDF("rk", "attr")
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "payload", "attr")
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", "rk",
        saltSource = "payload", buckets = 8)
      .select("k", "payload", "attr")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val ord = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    ord.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
    // force a non-broadcast plan so bucketing is what avoids the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val n = joined.count()
      assert(n > 0)
      val executed = joined.queryExecution.executedPlan
      val inner = executed match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the join itself must not shuffle its inputs: the only exchange
      // allowed is the one under the final single-partition aggregate
      val joinNode = inner.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joinNode.isDefined, s"expected SMJ, got:\n$inner")
      val shufflesBelowJoin = joinNode.get.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shufflesBelowJoin.isEmpty,
        s"bucketed join must not shuffle inputs:\n${joinNode.get}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("sequence packing plans one sharded exchange, no global window") {
    val chunks = (0L until 500L).map(i => (i % 37, i / 37, 1L + i % 7))
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens")
    val packed = graft.operators.Packing
      .packChunks(chunks, "doc_id", "chunk_idx", "n_chunk_tokens",
        maxTokens = 32, nShards = 8)
    val plan = packed.queryExecution.executedPlan.toString
    // the window must partition by shard — a SinglePartition window
    // over the whole corpus is the classic packing scale-killer
    assert(!plan.contains("SinglePartition"),
      s"packing window must be sharded, not global:\n$plan")
    // exactly one data shuffle: the hash exchange on shard — count
    // ALL exchanges so an accidental second one can't hide
    val shardEx = "hashpartitioning\\(shard".r.findAllIn(plan).length
    assert(shardEx == 1, s"expected the shard hash exchange:\n$plan")
    val allEx = "Exchange".r.findAllIn(plan).length
    assert(allEx == 1, s"packing must plan exactly one exchange:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no sort-shuffle belongs in packing:\n$plan")
  }

  test("weighted mix plans map-only: generator, zero exchanges") {
    val df = (0L until 500L).map(i => (i, s"s${i % 4}")).toDF("id", "src")
    val mixed = graft.operators.Mixing.mixWeighted(
      df, "id", "src", Map("s0" -> 2.5, "s1" -> 1.0), defaultWeight = 0.25)
    val plan = mixed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"upsampling must be a generator, never a shuffle:\n$plan")
    assert(plan.contains("Generate"),
      s"expected the explode(sequence) generator:\n$plan")
  }

  test("global shuffle plans one hash exchange + per-shard sort") {
    val df = (0L until 500L).toDF("doc_id")
    val out = graft.operators.Shuffling.shuffleShard(df, "doc_id", 8, "s")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"shard windows must be partitioned by shard:\n$plan")
    // one hash exchange on shard — rank within shard needs no range
    // (rangepartitioning would mean an accidental global sort)
    assert("hashpartitioning\\(shard".r.findAllIn(plan).length == 1,
      s"expected the shard hash exchange:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort-shuffle belongs in shuffleShard:\n$plan")
  }

  test("token budget: the only unpartitioned window is the bucket table") {
    val df = (1L to 400L).map(i => (i, 1L + i % 7)).toDF("id", "w")
    val out = graft.operators.Budget.takeWeightBudget(
      df, "w", budget = 100L,
      bucket = floor(col("id") / 50).cast("long"),
      order = Seq(col("id").asc))
    val plan = out.queryExecution.executedPlan.toString
    // the data-side window partitions by __b; at most ONE
    // SinglePartition spot is allowed — the offsets window, which
    // runs over one row per bucket and feeds the broadcast side
    assert("hashpartitioning\\(__b".r.findAllIn(plan).nonEmpty,
      s"data window must be partitioned by bucket:\n$plan")
    assert("SinglePartition".r.findAllIn(plan).length <= 1,
      s"only the per-bucket offsets window may be unpartitioned:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bucket offsets must broadcast onto the data side:\n$plan")
  }

  test("TF-IDF: df side joins broadcast; corpus tokenized once (cached tf)") {
    val docs = (0L until 200L)
      .map(i => (i, s"w${i % 11} w${i % 7} w${i % 5} the a"))
      .toDF("doc_id", "text")
    val out = graft.operators.Keywords.tfidfTopK(
      docs, "doc_id", split(lower(col("text")), " "), 3)
    val plan = out.queryExecution.executedPlan.toString
    // tf is persisted: the plan reads InMemoryTableScan, and the
    // vocabulary-sized df side arrives over a BroadcastExchange
    assert(plan.contains("InMemoryTableScan"),
      s"tf index must be cached, not recomputed per consumer:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"df/count sides should broadcast at this size:\n$plan")
    spark.catalog.clearCache()
  }

  test("temperature mix: one corpus agg, totals fold on the strata table") {
    val df = (0 until 512).map(i => (i.toLong, s"s${i % 7}"))
      .toDF("id", "grp")
    val out = graft.operators.Mixing.mixTemperature(df, "id", "grp")
    val plan = out.queryExecution.executedPlan.toString
    // the corpus feeds exactly two scans — the counts aggregate and
    // the map-only replication apply; n_tot/s_micro fold as windows
    // over the STRATA-SIZED count table (one SinglePartition exchange,
    // the repo's bounded one-row-per-stratum exception), and the
    // weight table arrives broadcast
    assert("LocalTableScan".r.findAllIn(plan).length <= 2,
      s"corpus must be scanned at most twice:\n$plan")
    assert("SinglePartition".r.findAllIn(plan).length <= 1,
      s"only the strata-sized totals window may be unpartitioned:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the strata weight table must broadcast:\n$plan")
  }

  test("centroid outliers: broadcast centroids, bounded per-group top-k") {
    val vecs = (0L until 256L).map(i =>
      (i, (i % 5).toInt, Array.tabulate(8)(j => (i % 7 + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val out = graft.operators.EmbeddingStats
      .centroidOutliers(vecs, "vec_id", "embedding", "label", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    // the documented scale contract: centroids arrive broadcast (no
    // shuffled join of the corpus against groups·dim rows) and the
    // per-group top-k is rank-bounded BEFORE the window sort
    assert(plan.contains("BroadcastExchange"),
      s"centroid arrays must broadcast onto the corpus scan:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-group top-k must ride WindowGroupLimit, not a full sort:\n$plan")
  }

  test("bigram LM score: cached tf2 feeds context and scoring joins") {
    val docs = (0L until 200L)
      .map(i => (i, s"w${i % 11} w${i % 7} w${i % 5} the a"))
      .toDF("doc_id", "text")
    val out = graft.operators.LanguageModel.bigramScore(
      docs, "doc_id", split(lower(col("text")), " "))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"tf2 index must be cached, not recomputed per consumer:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"context/lp sides should broadcast at this size:\n$plan")
    spark.catalog.clearCache()
  }

  test("unigram LM score: cached tf feeds vocab and scoring; total broadcasts") {
    val docs = (0L until 200L)
      .map(i => (i, s"w${i % 11} w${i % 7} w${i % 5} the a"))
      .toDF("doc_id", "text")
    val out = graft.operators.LanguageModel.unigramScore(
      docs, "doc_id", split(lower(col("text")), " "))
    val plan = out.queryExecution.executedPlan.toString
    // the corpus is tokenized+aggregated exactly once (persisted tf);
    // the 1-row total and the vocabulary-sized lp table broadcast —
    // nothing corpus-sized shuffles after the tf aggregate
    assert(plan.contains("InMemoryTableScan"),
      s"tf index must be cached, not recomputed per consumer:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"1-row total / vocab lp side should broadcast at this size:\n$plan")
    spark.catalog.clearCache()
  }

  test("kmeans assignment is map-only; iterate pass shuffles nothing") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i % 3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(0.0, 1.0, 2.0, 3.0), Seq(2.0, 3.0, 4.0, 5.0))
    val assigned = graft.operators.Similarity
      .assignToCentroids(vecs, "vec_id", "embedding", cents)
    // assignment is a broadcast-centroid argmin projection — the
    // corpus must NEVER be exchanged for it (r4 finding #1); the Lloyd
    // iterate itself is a fused mapPartitions+reduce (one partial per
    // partition), so a round runs zero exchanges by construction
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"Lloyd assignment must be map-only:\n$plan")
    // any per-cluster consumer aggregate over the assignment partial-
    // combines to <= k rows per partition before its single exchange
    val round = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n"))
    val rplan = round.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(cluster".r.findAllIn(rplan).length == 1 &&
      "Exchange".r.findAllIn(rplan).length == 1,
      s"cluster consumer agg must shuffle only k combined rows:\n$rplan")
  }

  test("IVF list assignment is map-only over the literal centroids") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i % 3 + j + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = graft.operators.Similarity
      .ivfIndex(vecs, "vec_id", "embedding", nCentroids = 2)
    // the centroids ride a broadcast, not the plan (the test name
    // predates that); the index DF is persisted, so assert on the
    // plan UNDER the cache
    val imr = idx.assigned.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(imr.isDefined, "ivf assigned index must be persisted")
    val cached = imr.get.cachedPlan.toString
    assert(!cached.contains("Exchange"),
      s"IVF list assignment must be map-only (r4 finding #2):\n$cached")
    idx.assigned.unpersist()
  }

  test("IVF+PQ: build is one map-only scan; query joins all broadcast") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i % 3 + j + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = graft.operators.Similarity
      .ivfPqIndex(vecs, "vec_id", "embedding", nCentroids = 2,
        m = 2, ksub = 4)
    // build side: the composed (cent_id, codes, norm) projection must
    // materialize without any Exchange — list assignment and PQ encode
    // are both broadcast-quantizer scans riding one corpus scan
    val imr = idx.encoded.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(imr.isDefined, "composed ivfpq index must be persisted")
    val cached = imr.get.cachedPlan.toString
    assert(!cached.contains("Exchange"),
      s"IVF+PQ index build must be map-only:\n$cached")
    // query side: every join (probe→lists ADC, shortlist→raw rerank)
    // must broadcast its small side — the encoded corpus and the raw
    // candidate table are never shuffled for a join; the only
    // exchanges hash-partition pair/shortlist rows on q_id for the
    // two windows
    val q = vecs.filter(col("vec_id") < 4)
    val top = graft.operators.Similarity
      .ivfPqTopKWith(idx, q, vecs, "vec_id", "embedding", 2, nProbe = 2)
    top.count()
    val plan = top.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = plan.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"IVF+PQ query must join via broadcast only:\n$s")
    assert("hashpartitioning\\(q_id".r.findAllIn(s).nonEmpty &&
      "hashpartitioning\\((?!q_id)".r.findAllIn(s).isEmpty,
      s"the only exchanges may partition on q_id:\n$s")
    idx.encoded.unpersist()
  }

  test("substring dedup: cached shingle index, no single-partition window") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.Dedup.sharedPassages(docs, "doc_id",
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.lower(col("text")), " "),
      k = 8, minTokens = 20)
    out.count()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = plan.toString
    // the run-chaining window must partition by the pair keys — an
    // unpartitioned window here would serialize all matches through
    // one task at any scale (the only legitimate SinglePartition
    // exchange in this plan is the corpus-count census, which carries
    // one combined partial per partition)
    assert(s.contains("windowspecdefinition(doc_a"),
      s"run window must partition by pair keys:\n$s")
    assert(!s.contains("windowspecdefinition(pa"),
      s"no unpartitioned window over matches:\n$s")
    // census + both join sides read the persisted shingle index, not
    // three re-tokenizations of the corpus
    assert(s.contains("InMemoryTableScan"),
      s"shingle index must be cached:\n$s")
    spark.catalog.clearCache()
  }

  test("span strip: text is read only through the cached tile index") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.Dedup
      .stripRepeatedSpans(docs, "doc_id", "text", spanTokens = 2,
        maxDocFreqPermille = 10)
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // every consumer (census, strip, span counts) reads the persisted
    // tiles; the only direct corpus scan is the id-only left side —
    // a second tokenize pass over the text column was the r5 review
    // finding this pins
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.forall(!_.metadata("ReadSchema").contains("text")),
      s"corpus text must come from the tile cache, not a re-scan:\n" +
        scans.map(_.metadata("ReadSchema")).mkString("\n"))
    assert(plan.toString.contains("InMemoryTableScan"),
      s"tile index must be cached:\n$plan")
    spark.catalog.clearCache()
  }

  test("TopKPerGroupExec matches the window formulation exactly") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val native = graft.plans.TopKPerGroup(orders,
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)),
        k = 3)
      .select("o_custkey", "o_orderkey")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val windowed = orders
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey")
    assert(native.count() == windowed.count())
    assert(native.exceptAll(windowed).isEmpty &&
      windowed.exceptAll(native).isEmpty)
    // the physical plan must contain the custom exec and NO SortExec
    // below it (the whole point: no per-group sort)
    val plan = native.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val execs = plan.collect {
      case e: graft.plans.TopKPerGroupExec => e }
    // partial → exchange → final: the shuffle must sit BETWEEN the two
    // heap passes, so it carries at most groups·k rows per partition
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final TopKPerGroupExec pair in:\n$plan")
    val fin = execs.find(!_.partial).get
    assert(fin.collect {
      case s: ShuffleExchangeExec => s }.length == 1,
      s"final pass must sit above the single hash exchange:\n$plan")
    assert(execs.find(_.partial).get.collect {
      case s: ShuffleExchangeExec => s }.isEmpty,
      s"partial pass must run before the exchange:\n$plan")
    assert(fin.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty)
  }

  test("TopKPerGroup with no group columns is GLOBAL top-k") {
    // empty groupExprs means one group = the whole input; the final
    // pass must demand AllTuples or each partition returns its own
    // top-k (the pre-r6 bug: UnspecifiedDistribution inserted no
    // exchange). repartition(8) makes the failure mode deterministic
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .repartition(8)
    val native = graft.plans.TopKPerGroup(orders,
        Seq.empty, Seq(("o_totalprice", false), ("o_orderkey", true)),
        k = 5)
      .select("o_orderkey").as[Long].collect().toSet
    val expected = orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(5).select("o_orderkey").as[Long].collect().toSet
    assert(native == expected,
      s"global top-k mismatch: native=$native expected=$expected")
  }

  test("TopKPerGroup argument guards: k, resolution, float keys") {
    val df = Seq((1L, "a", 1.5), (2L, "a", 2.5)).toDF("id", "grp", "x")
    // k = 0 would NPE against heap.peek() on the executor — fail fast
    intercept[IllegalArgumentException] {
      graft.plans.TopKPerGroup(df, Seq("grp"), Seq(("id", true)), k = 0)
    }
    // resolution follows the session resolver (case-insensitive by
    // default), like every built-in operator
    val up = graft.plans.TopKPerGroup(df, Seq("GRP"),
      Seq(("ID", true)), k = 1).select("id").as[Long].collect().toSeq
    assert(up == Seq(1L))
    // float/double group keys would group by raw key bytes (no
    // NormalizeFloatingNumbers pass on a custom node): -0.0 vs 0.0
    // would split a group the window formulation treats as one
    intercept[IllegalArgumentException] {
      graft.plans.TopKPerGroup(df, Seq("x"), Seq(("id", true)), k = 1)
    }
  }

  test("partition pruning: hive-partitioned write reads only matching partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft-part")
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    orders.withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").mode("overwrite")
      .parquet(out.toString)
    val pruned = spark.read.parquet(out.toString)
      .filter(col("status") === "F")
      .select("o_orderkey")
    assert(pruned.count() > 0)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined)
    // only the status=F partition directory is read
    assert(scan.get.metadata("PartitionFilters").contains("status"),
      s"partition filter missing: ${scan.get.metadata}")
    val allParts = spark.read.parquet(out.toString).count()
    assert(pruned.count() < allParts)
  }

  test("model fit reduces in one partial+final aggregate, no window") {
    // the OLS moment pass must be a map-side-combinable aggregate over
    // one scan: at 100 TB the corpus reduces to O(k^2) numbers through
    // partial aggregation, never a window or a wide shuffle of rows
    val df = (1 to 200).map(i =>
      (i.toLong, (i % 50).toLong, (i % 7).toLong, (3 * i % 11).toLong))
      .toDF("id", "f1", "f2", "y")
    val feats = Seq("f1" -> col("f1"), "f2" -> col("f2"))
    val moments = graft.operators.ModelFit.momentsDf(df, feats, col("y"))
    val plan = moments.queryExecution.executedPlan.toString
    assert(plan.contains("partial"),
      s"moment aggregate must have a map-side partial phase:\n$plan")
    assert(!plan.contains("Window"))
    val art = graft.operators.ModelFit.fitLinearQ4(df, feats, col("y"))
    assert(art.count() == 1)
    assert(!art.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("GraftExtensions wires graft_dot at builder time") {
    // builder-time extensions need a fresh session; cloneSession keeps
    // the shared context but new sessionState. Simplest check: the
    // extensions object injects without error and the function resolves
    // through SQL after registration on a cloned session.
    val s2 = spark.newSession()
    graft.functions.GraftFunctions.register(s2)
    // BOTH wiring paths derive from GraftFunctions.builders — every
    // registry entry must resolve (graft_phash64 was once silently
    // missing from the hand-maintained extensions list)
    val reg = s2.sessionState.functionRegistry
    graft.functions.GraftFunctions.builders.foreach { case (n, _, _) =>
      assert(reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)),
        s"registry entry $n did not register")
    }
    // fixed-arity builders reject a wrong argument count loudly
    intercept[Exception] { s2.sql("SELECT graft_dot(array(1.0D))") }
    val r = s2.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
    val sq = s2.sql(
      "SELECT graft_sqdist(array(1.0D, 2.0D), array(3.0D, 6.0D)) AS d")
      .collect().head.getDouble(0)
    assert(sq == 20.0)
    // degenerate inputs stay loud: dim mismatch / null element → NULL,
    // matching the aggregate(zip_with(...)) folds the kernels replaced
    val degenerate = s2.sql(
      """SELECT graft_dot(array(1.0D), array(1.0D, 2.0D)) AS a,
        |       graft_sqdist(array(1.0D), array(1.0D, 2.0D)) AS b,
        |       graft_dot(array(1.0D, CAST(NULL AS DOUBLE)),
        |                 array(1.0D, 2.0D)) AS c,
        |       graft_sqdist(array(1.0D, CAST(NULL AS DOUBLE)),
        |                    array(1.0D, 2.0D)) AS d""".stripMargin)
      .collect().head
    assert((0 until 4).forall(degenerate.isNullAt),
      s"expected all NULL, got $degenerate")
  }

  test("BPE apply: merge fold on distinct words only, broadcast probe") {
    val docs = (0L until 300L)
      .map(i => (i, s"w${i % 13} w${i % 7} w${i % 13} tail"))
      .toDF("doc_id", "text")
    val merges = Seq(graft.operators.Bpe.Merge(0, "w", "1", 1L))
    val counted = graft.operators.Bpe.tokenCounts(
      docs, "doc_id", split(col("text"), " "), merges)
    assert(counted.count() == 300)
    val plan = counted.queryExecution.executedPlan.toString
    // the expensive fold must sit on the DISTINCT-word side, arriving
    // at the corpus tf table over a broadcast — a corpus-side
    // graft_bpe_encode would fold per OCCURRENCE, the scale-killer
    assert(plan.contains("BroadcastExchange"),
      s"piece table must broadcast onto tf:\n$plan")
    // the physical toString hides aggregate result expressions, so
    // pin the encode's placement on the optimized LOGICAL plan: it
    // must appear exactly once, on the distinct-word (build) side
    val logical = counted.queryExecution.optimizedPlan.toString
    val encodeIdx = logical.indexOf("graft_bpe_encode")
    assert(encodeIdx >= 0, s"expected the codegen encode:\n$logical")
    assert(logical.indexOf("graft_bpe_encode", encodeIdx + 1) < 0,
      s"encode must appear once (distinct-word side only):\n$logical")
  }

  test("bloom decontamination probes with zero joins, one exchange") {
    val docs = (0L until 200L)
      .map(i => (i, s"tok${i % 11} tok${i % 7} tok${i % 5} tok${i % 3} end"))
      .toDF("doc_id", "text")
    val isEval = col("doc_id") % 10 === 0
    val model = graft.operators.Decontaminate
      .buildShingleBloom(docs, "doc_id", "text", isEval, n = 3)
    val probed = graft.operators.Decontaminate
      .bloomContamination(docs, "doc_id", "text", isEval, model, n = 3)
    assert(probed.count() > 0)
    val plan = probed.queryExecution.executedPlan.toString
    // THE point of the bloom twin: the corpus side never joins the
    // eval set — the filter rides into codegen as a reference object,
    // so the only exchange left is the per-doc count aggregate
    assert(!plan.contains("Join"),
      s"bloom probe must not join the eval side:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"bloom probe must plan exactly one exchange:\n$plan")
    assert(plan.contains("graft_bloom_contains"),
      s"expected the codegen bloom probe in the plan:\n$plan")
  }

  test("random projection is a pure map: zero exchanges, zero joins") {
    val vecs = (0L until 100L)
      .map(i => (i, Seq.tabulate(16)(j => (i * 7 + j) % 5 / 4.0f)))
      .toDF("vec_id", "embedding")
    val proj = graft.operators.Similarity.randomProject(
      vecs, "vec_id", "embedding", dim = 16, outDim = 4)
    assert(proj.count() == 100)
    val plan = proj.queryExecution.executedPlan.toString
    // the sign matrix is a plan literal and the fold is per-row: at
    // 100 TB this must stay a scan — any exchange/join means the
    // matrix leaked into the data path
    assert(!plan.contains("Exchange"),
      s"randomProject must be map-only:\n$plan")
    assert(!plan.contains("Join"),
      s"randomProject must not join:\n$plan")
  }

  test("hard negatives broadcast the anchors; candidates never shuffle") {
    val vecs = (0L until 200L)
      .map(i => (i, Seq.tabulate(8)(j => (i * 3 + j) % 7 / 6.0f),
        (i % 3).toInt))
      .toDF("vec_id", "embedding", "grp")
    val mined = graft.operators.Similarity.hardNegatives(
      vecs.filter(col("vec_id") < 4), vecs, "vec_id", "embedding",
      "grp", k = 3)
    assert(mined.count() == 12)
    val plan = mined.queryExecution.executedPlan.toString
    // the corpus side must stream through a broadcast NLJ; the only
    // exchange is the per-anchor top-k window's (bounded: one
    // partition per anchor batch, anchors are the small side)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"anchors must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"candidates must never shuffle for the mining join:\n$plan")
  }

  test("PCA moments: one partial+final aggregate, d^2-bounded shuffle") {
    val vecs = (0L until 100L)
      .map(i => (i, Seq.tabulate(8)(j => (i * 7 + j) % 5 / 4.0f)))
      .toDF("vec_id", "embedding")
    val m = graft.operators.Pca.covMoments(vecs, "vec_id", "embedding")
    assert(m.count() == 8 * 9 / 2)
    val plan = m.queryExecution.executedPlan.toString
    // the corpus reduces map-side into <= d(d+1)/2 groups before the
    // exchange — at 100 TB the shuffle is d^2-sized, not data-sized
    assert(!plan.contains("Join"),
      s"moment reduce must not join:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"moment reduce must plan exactly one exchange:\n$plan")
    assert(plan.contains("partial_"),
      s"moment sums must combine map-side:\n$plan")
  }

  test("PCA projection is a pure map: zero exchanges, zero joins") {
    val vecs = (0L until 100L)
      .map(i => (i, Seq.tabulate(8)(j => (i * 7 + j) % 5 / 4.0f)))
      .toDF("vec_id", "embedding")
    val model = graft.operators.Pca.fit(vecs, "vec_id", "embedding",
      dim = 8, k = 2)
    val proj = graft.operators.Pca.project(vecs, "embedding", model)
    assert(proj.count() == 100)
    val plan = proj.queryExecution.executedPlan.toString
    // the fitted basis rides the plan as literals (the randomProject
    // stance): any exchange/join means the model leaked into the data
    // path and the apply step stopped composing with upstream scans
    assert(!plan.contains("Exchange"),
      s"PCA projection must be map-only:\n$plan")
    assert(!plan.contains("Join"),
      s"PCA projection must not join the model:\n$plan")
  }

  test("DSIR door gate is row-local: zero exchanges, zero joins") {
    val corpus = Seq(
      (1L, "apple banana cherry", true),
      (2L, "hammer wrench pliers", false),
      (3L, "apple cherry banana", false)
    ).toDF("doc_id", "text", "is_t")
    val model = graft.operators.Dsir.fitModel(corpus, "doc_id",
      graft.operators.TextAnalysis.tokens(col("text")),
      isTarget = col("is_t"))
    val gated = graft.streaming.StreamingOps.dsirAdmitAtDoor(
      corpus.select("doc_id", "text"), "text", model)
    gated.count()
    val plan = gated.queryExecution.executedPlan.toString
    // the λ array is ONE literal in the filter expression — the gate
    // must compose with any downstream stateful op at zero plan cost
    assert(!plan.contains("Exchange"),
      s"DSIR gate must be row-local:\n$plan")
    assert(!plan.contains("Join"),
      s"DSIR gate must not join the model:\n$plan")
  }

  test("index append is a narrow union: banding adds zero exchanges") {
    import graft.operators.Dedup
    // leaf index (the materialized-table stance) so any exchange in
    // the appended plan is attributable to the APPEND itself
    val index = Dedup.hammingBandIndex(
      Seq((1L, 0xF0F0L)).toDF("doc_id", "fp"), "doc_id", "fp")
      .localCheckpoint()
    val appended = Dedup.appendToBandedIndex(index,
      Seq((2L, 0xABCDL)).toDF("doc_id", "fp"), "doc_id", "fp")
    assert(appended.count() == 8)
    val plan = appended.queryExecution.executedPlan.toString
    assert(plan.contains("Union"),
      s"append must be a union, not a rebuild:\n$plan")
    // banding is per-row (Generate), so appending a batch must cost
    // O(|batch|) with NO shuffle — at 100 TB this is the difference
    // between an ingest loop and a nightly rebuild
    assert(!plan.contains("Exchange"),
      s"banded append must not shuffle:\n$plan")
    // digest twin: the ONLY exchange is the batch-side dedup
    // (batch-sized); the index side unions in untouched
    val dindex = Dedup.digestIndex(
      Seq((1L, "old doc")).toDF("doc_id", "text"), "text")
      .localCheckpoint()
    val dapp = Dedup.appendToDigestIndex(dindex,
      Seq((2L, "fresh doc")).toDF("doc_id", "text"), "text")
    assert(dapp.count() == 2)
    val dplan = dapp.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(dplan).size <= 1,
      s"digest append may shuffle the BATCH side only:\n$dplan")
    // ANN twins: every append assigns/encodes against frozen
    // broadcast quantizer state — a map-only projection unioned in, with the
    // batch-sized id dedup as the ONLY allowed exchange (the digest
    // twin's stance) and never a join. All FOUR paths asserted so a
    // shuffle regression in any one of them fails the suite.
    import graft.operators.Similarity
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(4)(j => ((i + j) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val batch = Seq((100L, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    def assertAppendPlan(name: String,
                         df: org.apache.spark.sql.DataFrame,
                         n: Long,
                         allowBroadcastAnti: Boolean = false): Unit = {
      assert(df.count() == n, s"$name row count")
      val plan = df.queryExecution.executedPlan.toString
      // BroadcastExchange (the tiny dropped-bucket table riding to
      // executors) is not a shuffle — count data shuffles only
      val shuffles = "Exchange (hash|range|Single)".r
        .findAllMatchIn(plan).size
      assert(shuffles <= 1,
        s"$name append may shuffle the BATCH side only:\n$plan")
      if (allowBroadcastAnti) {
        // LSH alone carries the censored-bucket guard: exactly one
        // broadcast LeftAnti against the bounded dropped table, and
        // still no shuffle join of any kind
        assert(!plan.contains("SortMergeJoin") &&
            !plan.contains("ShuffledHashJoin"),
          s"$name append must never shuffle-join:\n$plan")
        assert("LeftAnti".r.findAllMatchIn(plan).size == 1,
          s"$name append: one censored-bucket anti-probe only:\n$plan")
      } else
        assert(!plan.contains("Join"),
          s"$name append must never join:\n$plan")
    }
    val ivf = Similarity.ivfIndex(vecs, "vec_id", "embedding",
      nCentroids = 2, persistIndex = false)
    assertAppendPlan("IVF", Similarity.appendToAnnIndex(
      Similarity.IvfIndex(ivf.cents, ivf.assigned.localCheckpoint()),
      batch, "vec_id", "embedding").assigned, 21)
    val lsh = Similarity.lshIndex(vecs, "vec_id", "embedding",
      nPlanes = 3, persistIndex = false)
    assertAppendPlan("LSH", Similarity.appendToAnnIndex(
      Similarity.LshIndex(lsh.nPlanes, lsh.buckets.localCheckpoint(),
        lsh.dropped.localCheckpoint()),
      batch, "vec_id", "embedding").buckets, 21,
      allowBroadcastAnti = true)
    val pq = Similarity.pqIndex(vecs, "vec_id", "embedding",
      m = 2, ksub = 2, persistIndex = false)
    assertAppendPlan("PQ", Similarity.appendToAnnIndex(
      Similarity.PqIndex(pq.codebook, pq.encoded.localCheckpoint()),
      batch, "vec_id", "embedding").encoded, 21)
    val ivfpq = Similarity.ivfPqIndex(vecs, "vec_id", "embedding",
      nCentroids = 2, m = 2, ksub = 2, residual = true,
      persistIndex = false)
    assertAppendPlan("IVF+PQ", Similarity.appendToAnnIndex(
      Similarity.IvfPqIndex(ivfpq.cents, ivfpq.codebook,
        ivfpq.encoded.localCheckpoint(), ivfpq.residual),
      batch, "vec_id", "embedding").encoded, 21)
  }

  test("ingestDoor streaming plan: ONE stateful op, zero joins, no stream-side explode") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, DeduplicateWithinWatermark, Generate, Join}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Dedup, Decontaminate, Dsir, TextAnalysis => TA}
    implicit val sqlCtx = spark.sqlContext
    val bloom = Decontaminate.buildShingleBloom(
      Seq((1L, "zeta eta theta iota kappa", true))
        .toDF("doc_id", "text", "is_eval"),
      "doc_id", "text", col("is_eval"), n = 3)
    val dsir = Dsir.fitModel(
      Seq((1L, "apple banana cherry", true),
        (2L, "hammer wrench pliers", false)).toDF("doc_id", "text", "is_t"),
      "doc_id", TA.tokens(col("text")), isTarget = col("is_t"))
    val corpus = Seq((100L, "apple banana cherry elder"))
      .toDF("doc_id", "text")
    val simOf = graft.streaming.StreamingOps.doorFingerprint(col("text"))
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    // indexes enter as LEAVES (in production they are materialized
    // tables), so every node the assertions below count is the
    // stream-side plan the door itself builds
    val door = graft.streaming.StreamingOps.ingestDoor(
      input.toDF().toDF("ts", "id", "text"), "text", "ts",
      lit(100000000L), minScoreQ8 = 0L, bloom, dsir,
      Dedup.digestIndex(corpus, "text").localCheckpoint(),
      Dedup.hammingBandIndex(
        corpus.select(col("doc_id"), simOf.as("fp")), "doc_id", "fp")
        .localCheckpoint(),
      "10 minutes")
    val plan = door.queryExecution.analyzed
    // the single-stateful-op budget, asserted structurally: exactly
    // one within-watermark dedup, zero streaming aggregations
    val statefuls = plan.collect { case d: DeduplicateWithinWatermark => d }
    assert(statefuls.size == 1,
      s"the door must spend exactly ONE stateful op, found ${statefuls.size}")
    assert(plan.collect { case a: Aggregate => a }.isEmpty,
      "the door must not carry a streaming aggregation")
    // the digest and band gates are row-local snapshot probes: no
    // join reads a corpus side per micro-batch
    assert(plan.collect { case j: Join => j }.isEmpty,
      "the door's corpus gates must plan no join")
    // and no stream-side explode: the band kernel probes all four
    // bands of an arrival in one call
    assert(plan.collect { case g: Generate => g }.isEmpty,
      "the stream side must never explode")

    // ---- with the semantic (embedding) gate on: ONE more row-local
    // probe (centroid ranks ride as the CentroidRanks expression),
    // still exactly one stateful op, no join, no explode, no
    // aggregation
    val semCorpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val semIndex = graft.operators.Similarity.ivfIndex(
      semCorpus, "vec_id", "embedding", nCentroids = 2,
      persistIndex = false)
    val semInput = MemoryStream[(java.sql.Timestamp, Long, String,
      Array[Float])]
    val semDoor = graft.streaming.StreamingOps.ingestDoor(
      semInput.toDF().toDF("ts", "id", "text", "embedding"),
      "text", "ts", lit(100000000L), minScoreQ8 = 0L, bloom, dsir,
      Dedup.digestIndex(corpus, "text").localCheckpoint(),
      Dedup.hammingBandIndex(
        corpus.select(col("doc_id"), simOf.as("fp")), "doc_id", "fp")
        .localCheckpoint(),
      "10 minutes",
      semIndex = Some(graft.operators.Similarity.IvfIndex(
        semIndex.cents, semIndex.assigned.localCheckpoint())))
    val semPlan = semDoor.queryExecution.analyzed
    assert(semPlan.collect {
        case d: DeduplicateWithinWatermark => d }.size == 1,
      "the semantic door must still spend exactly ONE stateful op")
    assert(semPlan.collect { case a: Aggregate => a }.isEmpty,
      "the semantic door must not carry a streaming aggregation")
    assert(semPlan.collect { case j: Join => j }.isEmpty,
      "the semantic door must plan no join")
    assert(semPlan.collect { case g: Generate => g }.isEmpty,
      "the semantic door's stream side must never explode")
  }

  test("BM25 postings tables: the probe's corpus-side scans stay " +
    "exchange-free after 2 appended batches") {
    import graft.operators.{Retrieval, TextAnalysis => TA}
    import org.apache.spark.sql.execution.FileSourceScanExec
    def docsDf(ids: Range) = ids.map(i =>
      (i.toLong, s"word${i % 13} word${i % 7} word${i % 5} filler$i"))
      .toDF("doc_id", "text")
    val prefix = "graft_bm25_scale"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _)
    val prevBroadcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // the ScaleSpec bucketed-table stance: force the at-scale shape
    // (no trivial broadcasts) and keep raw exchange nodes visible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Retrieval.createPostingsIndexTable(docsDf(0 until 60), "doc_id",
        TA.tokens(col("text")), prefix, buckets = 4)
      Retrieval.appendToPostingsIndexTable(docsDf(100 until 120),
        "doc_id", TA.tokens(col("text")), prefix, buckets = 4)
      Retrieval.appendToPostingsIndexTable(docsDf(200 until 220),
        "doc_id", TA.tokens(col("text")), prefix, buckets = 4)
      val qs = docsDf(0 until 60).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("query_id"), col("text"))
      val probe = Retrieval.bm25TopKWith(
        Retrieval.loadPostingsIndex(spark, prefix),
        qs, "query_id", slice(TA.tokens(col("text")), 1, 3), k = 5)
      assert(probe.count() > 0, "probe must retrieve")
      // the corpus-sized tables (postings: the term join; doclen: the
      // length join; dfreq: the vocabulary aggregate) paid their
      // layout shuffle at write time — no probe may re-shuffle them
      // BEFORE the operator that consumes them: the unary path from
      // each table scan up to its first join must cross no
      // ShuffleExchange. (Intermediates ABOVE a join may shuffle —
      // that is the probe side's cost, not the corpus's.)
      val corpusTables = Set(prefix + "_postings", prefix + "_doclen",
        prefix + "_dfreq")
      val plan = probe.queryExecution.executedPlan
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        // descend through unary operators only: a scan reached this
        // way is shuffled directly (no join absorbed the layout)
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!corpusTables.contains(_)),
          s"corpus table ${hit.getOrElse("")} re-shuffled by the " +
            s"probe:\n$plan")
      }
      // and the layout is actually load-bearing: the bucketed scans
      // exist in the plan (not pruned into a fresh shuffle path)
      val scannedTables = plan.collect { case f: FileSourceScanExec => f }
        .flatMap(_.tableIdentifier).map(_.table).toSet
      assert(corpusTables.subsetOf(scannedTables),
        s"probe must read the staged tables:\n$plan")
      // the PRUNED probe over the same staged tables + staged bounds
      // holds the same corpus-side contract (tfmax joins the
      // vocabulary side, postings/doclen the corpus side)
      val pruned = Retrieval.bm25TopKPrunedWith(
        Retrieval.loadPostingsIndex(spark, prefix),
        qs, "query_id", slice(TA.tokens(col("text")), 1, 3), k = 5,
        bounds = Some(Retrieval.loadPruneBounds(spark, prefix)))
      assert(pruned.count() > 0, "pruned probe must retrieve")
      val prunedCorpus = corpusTables + (prefix + "_tfmax")
      val pplan = pruned.queryExecution.executedPlan
      pplan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!prunedCorpus.contains(_)),
          s"corpus table ${hit.getOrElse("")} re-shuffled by the " +
            s"pruned probe:\n$pplan")
      }
      // TAKEDOWN shape: after a targeted delete the probe gains the
      // doclen ∖ tombstones anti-join — both sides doc-bucketed, so
      // the corpus-side contract must hold UNCHANGED (the tombstone
      // scan included: it is corpus-layout state, never re-shuffled)
      Retrieval.deleteFromPostingsIndexTable(spark,
        docsDf(100 until 110).select("doc_id"), "doc_id", prefix,
        buckets = 4, batchId = Some(0L))
      val afterDel = Retrieval.bm25TopKWith(
        Retrieval.loadPostingsIndex(spark, prefix),
        qs, "query_id", slice(TA.tokens(col("text")), 1, 3), k = 5)
      assert(afterDel.count() > 0, "post-delete probe must retrieve")
      val delCorpus = corpusTables + (prefix + "_tombstones")
      val dplan = afterDel.queryExecution.executedPlan
      dplan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!delCorpus.contains(_)),
          s"corpus table ${hit.getOrElse("")} re-shuffled by the " +
            s"post-delete probe:\n$dplan")
      }
      assert(dplan.collect { case f: FileSourceScanExec => f }
          .flatMap(_.tableIdentifier).map(_.table)
          .contains(prefix + "_tombstones"),
        s"the tombstone anti-join must be load-bearing:\n$dplan")
      spark.catalog.clearCache() // the pruned probe's pinned frames
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("IVF TABLE tense at corpus scale: the probe DYNAMICALLY " +
    "PRUNES to its own cent_id directories, and neither the " +
    "assigned table nor the tombstones re-shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def vecOf(i: Long) = Array.tabulate(8)(j =>
      (((i * 31 + j * 17) % 11) - 5).toFloat)
    val emb = (0L until 300L).map(i => (i, vecOf(i)))
      .toDF("vec_id", "embedding")
    val prefix = "graft_ivf_table_scale"
    // AQE's adaptive wrapper hides the final scans from plan.collect
    // (the sibling staged-table tests' stance); DPP is independent of
    // AQE and must fire either way
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ix = graft.operators.Similarity.ivfIndex(emb, "vec_id",
        "embedding", nCentroids = 8, persistIndex = false)
      graft.operators.Similarity.createIvfIndexTable(ix, prefix,
        buckets = 4)
      graft.operators.Similarity.appendToIvfIndexTable(
        (1000L until 1020L).map(i => (i, vecOf(i)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", prefix, buckets = 4,
        batchId = Some(0L))
      graft.operators.Similarity.deleteFromIvfIndexTable(spark,
        Seq(1000L, 5L).toDF("vec_id"), "vec_id", prefix, buckets = 4,
        batchId = Some(1L))
      val q = emb.filter(col("vec_id") < 3)
      val probe = graft.operators.Similarity.ivfTopKWith(
        graft.operators.Similarity.loadIvfIndexTable(spark, prefix),
        q, "vec_id", "embedding", k = 3, nProbe = 2)
      assert(probe.count() > 0, "staged probe must retrieve")
      val plan = probe.queryExecution.executedPlan
      val planStr = plan.toString
      // THE 100 TB claim, plan-verified: the cent_id directory level
      // means a probe touches nProbe lists — the broadcast probe join
      // injects a DYNAMIC partition-pruning subquery into the
      // assigned scan, so every other list's files are dropped before
      // any IO (nothing in the operator asks for this explicitly; the
      // layout makes the optimizer do it)
      val assignedScan = plan.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == prefix + "_assigned")
        => f }
      assert(assignedScan.nonEmpty,
        s"the staged assigned table must be load-bearing:\n$planStr")
      assert(assignedScan.exists(
          _.partitionFilters.exists(
            _.toString.contains("dynamicpruning"))),
        "the probe must dynamically prune to its probed cent_id " +
          s"directories:\n$planStr")
      // corpus-side no-reshuffle (the staged-postings contract): no
      // exchange directly over the assigned or tombstone scans
      val corpusTables = Set(prefix + "_assigned",
        prefix + "_tombstones")
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!corpusTables.contains(_)),
          s"table ${hit.getOrElse("")} re-shuffled by the staged " +
            s"IVF probe:\n$planStr")
      }
      // the takedown's tombstone anti-join is load-bearing
      assert(plan.collect { case f: FileSourceScanExec => f }
          .flatMap(_.tableIdentifier).map(_.table)
          .contains(prefix + "_tombstones"),
        s"the tombstone anti-join must be load-bearing:\n$planStr")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.operators.Similarity.ivfIndexTableNames(prefix)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("LSH TABLE tense at corpus scale: the probe dynamically " +
    "prunes to its own bucket directories and nothing corpus-side " +
    "re-shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def vecOf(i: Long) = Array.tabulate(8)(j =>
      (((i * 31 + j * 17) % 11) - 5).toFloat)
    val emb = (0L until 300L).map(i => (i, vecOf(i)))
      .toDF("vec_id", "embedding")
    val prefix = "graft_lsh_table_scale"
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ix = graft.operators.Similarity.lshIndex(emb, "vec_id",
        "embedding", nPlanes = 4, persistIndex = false)
      graft.operators.Similarity.createLshIndexTable(ix, prefix,
        buckets = 4)
      graft.operators.Similarity.appendToLshIndexTable(
        (1000L until 1020L).map(i => (i, vecOf(i)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", prefix, buckets = 4,
        batchId = Some(0L))
      graft.operators.Similarity.deleteFromLshIndexTable(spark,
        Seq(1000L, 5L).toDF("vec_id"), "vec_id", prefix, buckets = 4,
        batchId = Some(1L))
      // the query side arrives from storage like production requests
      // do — a pure LocalRelation side constant-folds its filter away
      // and DPP's benefit heuristic then sees nothing selective to
      // prune with
      val qDir = java.nio.file.Files
        .createTempDirectory("graft-lsh-q").toString
      emb.write.mode("overwrite").parquet(qDir)
      val q = spark.read.parquet(qDir).filter(col("vec_id") < 3)
      val probe = graft.operators.Similarity.lshTopKWith(
        graft.operators.Similarity.loadLshIndexTable(spark, prefix),
        q, "vec_id", "embedding", k = 3)
      probe.count() // bucket collisions may legitimately be empty-ish
      val plan = probe.queryExecution.executedPlan
      val planStr = plan.toString
      val bucketScan = plan.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == prefix + "_buckets")
        => f }
      assert(bucketScan.nonEmpty,
        s"the staged buckets table must be load-bearing:\n$planStr")
      assert(bucketScan.exists(
          _.partitionFilters.exists(
            _.toString.contains("dynamicpruning"))),
        "the probe must dynamically prune to its own bucket " +
          s"directories:\n$planStr")
      val corpusTables = Set(prefix + "_buckets",
        prefix + "_tombstones")
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!corpusTables.contains(_)),
          s"table ${hit.getOrElse("")} re-shuffled by the staged " +
            s"LSH probe:\n$planStr")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.operators.Similarity.lshIndexTableNames(prefix)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("the streaming funnel's hybrid probe over the STAGED IVF " +
    "table keeps the dynamic partition pruning: the dense half " +
    "prunes to its probed cent_id directories INSIDE the fused " +
    "lexical+dense plan") {
    // round 15: the capstone serves hybridProbe/semantic gates off
    // loadIvfIndexTable (MQSourceSpec) — this pins that the fusion
    // does not cost the table tense its 100 TB property (the RRF
    // union above the dense list must not defeat the probe-side DPP
    // subquery on the assigned scan)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.{Retrieval, TextAnalysis => TA}
    def vecOf(i: Long) = Array.tabulate(8)(j =>
      (((i * 31 + j * 17) % 11) - 5).toFloat)
    val docs = (0L until 300L).map(i =>
      (i, s"tok${i % 7} tok${i % 13} body$i")).toDF("doc_id", "text")
    val emb = (0L until 300L).map(i => (i, vecOf(i)))
      .toDF("vec_id", "embedding")
    val ivfPrefix = "graft_funnel_ivft"
    val bmPrefix = "graft_funnel_post"
    // AQE's wrapper hides the final scans from plan.collect (the
    // sibling staged-table tests' stance); DPP fires either way
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Retrieval.createPostingsIndexTable(docs, "doc_id",
        TA.tokens(col("text")), bmPrefix, buckets = 4)
      graft.operators.Similarity.createIvfIndexTable(
        graft.operators.Similarity.ivfIndex(emb, "vec_id",
          "embedding", nCentroids = 8, persistIndex = false),
        ivfPrefix, buckets = 4)
      // production-shaped query side: requests arrive from storage —
      // a pure LocalRelation side constant-folds away and DPP's
      // benefit heuristic then sees nothing selective to prune with
      val qDir = java.nio.file.Files
        .createTempDirectory("graft-funnel-q").toString
      docs.limit(3).select(col("doc_id").as("query_id"), col("text"))
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), "query_id")
        .write.mode("overwrite").parquet(qDir)
      val q = spark.read.parquet(qDir)
      val fused = graft.streaming.StreamingOps.hybridProbe(q,
        "query_id", TA.tokens(col("text")), "qv", bmPrefix,
        graft.operators.Similarity.loadIvfIndexTable(spark,
          ivfPrefix),
        kRetrieve = 10, k = 5, nProbe = 2)
      assert(fused.count() > 0, "the fused funnel must retrieve")
      val plan = fused.queryExecution.executedPlan
      val planStr = plan.toString
      val assignedScan = plan.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(
            _.table == ivfPrefix + "_assigned")
        => f }
      assert(assignedScan.nonEmpty,
        s"the staged assigned table must feed the fused plan:\n$planStr")
      assert(assignedScan.exists(
          _.partitionFilters.exists(
            _.toString.contains("dynamicpruning"))),
        "the fused funnel's dense half must dynamically prune to its " +
          s"probed cent_id directories:\n$planStr")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      (Retrieval.indexTableNames(bmPrefix) ++
        graft.operators.Similarity.ivfIndexTableNames(ivfPrefix))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("staged allowlist at corpus scale: the filtered probe " +
    "aggregates and semi-joins the allow table on its doc-bucketed " +
    "layout — neither the allowlist nor any corpus table re-shuffles") {
    import graft.operators.{Allowlist, Retrieval, TextAnalysis => TA}
    import org.apache.spark.sql.execution.FileSourceScanExec
    def docsDf(ids: Range) = ids.map(i =>
      (i.toLong, s"word${i % 13} word${i % 7} word${i % 5} filler$i"))
      .toDF("doc_id", "text")
    val prefix = "graft_bm25_allow_scale"
    val aprefix = "graft_allow_scale"
    val tables = Retrieval.indexTableNames(prefix) ++
      Allowlist.allowlistTableNames(aprefix)
    val prevBroadcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Retrieval.createPostingsIndexTable(docsDf(0 until 60), "doc_id",
        TA.tokens(col("text")), prefix, buckets = 4)
      // a corpus-scale allowlist lives as staged state and MUTATES:
      // base grant-all, then two gated changes — the load must stay
      // one zero-exchange aggregation however many event batches land
      Allowlist.createAllowlistTable(
        docsDf(0 until 60).select("doc_id"), "doc_id", aprefix,
        buckets = 4)
      Allowlist.stageAllowlistChange(
        docsDf(0 until 60).filter(col("doc_id") % 3 === 0)
          .select("doc_id"),
        "doc_id", allowed = false, aprefix, buckets = 4, batchId = 0L)
      Allowlist.stageAllowlistChange(
        docsDf(0 until 60).filter(col("doc_id") % 6 === 0)
          .select("doc_id"),
        "doc_id", allowed = true, aprefix, buckets = 4, batchId = 1L)
      val qs = docsDf(0 until 60).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("query_id"), col("text"))
      val probe = Retrieval.bm25TopKWith(
        Retrieval.restrictToDocs(
          Retrieval.loadPostingsIndex(spark, prefix),
          Allowlist.loadAllowlist(spark, aprefix), "doc"),
        qs, "query_id", slice(TA.tokens(col("text")), 1, 3), k = 5)
      val got = probe.select("doc").as[Long].collect().toSet
      assert(got.nonEmpty, "filtered probe must retrieve")
      assert(got.forall(d => d % 3 != 0 || d % 6 == 0),
        s"latest-wins allowlist must gate the staged probe: $got")
      // the allow table paid its doc-bucketed layout shuffle at write
      // time, like every corpus table — the probe may shuffle only
      // query-sized intermediates (same unary-descent check as the
      // staged-postings test)
      val corpusTables = Set(prefix + "_postings", prefix + "_doclen",
        prefix + "_dfreq", aprefix + "_allow")
      val plan = probe.queryExecution.executedPlan
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!corpusTables.contains(_)),
          s"table ${hit.getOrElse("")} re-shuffled by the filtered " +
            s"probe:\n$plan")
      }
      assert(plan.collect { case f: FileSourceScanExec => f }
          .flatMap(_.tableIdentifier).map(_.table)
          .contains(aprefix + "_allow"),
        s"the staged allowlist scan must be load-bearing:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("retrieve-then-rerank funnel over staged tables: the dense " +
    "stage touches candidates only and NEITHER corpus side (postings " +
    "or bucketed embeddings) re-shuffles") {
    import graft.operators.{Retrieval, TextAnalysis => TA}
    import org.apache.spark.sql.execution.FileSourceScanExec
    def docsDf(ids: Range) = ids.map(i =>
      (i.toLong, s"word${i % 13} word${i % 7} word${i % 5} filler$i"))
      .toDF("doc_id", "text")
    // embeddings keyed by the same doc ids, bucketed on the id — the
    // 100 TB layout: the rerank stage's doc-vector lookup is an
    // equi-join INTO this table's distribution
    def vecOf(i: Long) = Array.tabulate(4)(j =>
      (((i * 31 + j * 17) % 11) - 5).toFloat)
    val ids = (0 until 60).map(_.toLong) ++ (100 until 120).map(_.toLong)
    val embTable = "graft_emb_funnel_scale"
    val prefix = "graft_bm25_funnel_scale"
    val tables = Seq("_postings", "_doclen", "_dfreq", "_tfmax", "_stats", "_tombstones")
      .map(prefix + _) :+ embTable
    val prevBroadcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val corpus = docsDf(0 until 60).unionByName(docsDf(100 until 120))
      Retrieval.createPostingsIndexTable(corpus, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 4)
      graft.sources.BucketedTables.writeBucketed(
        ids.map(i => (i, vecOf(i))).toDF("vec_id", "embedding"),
        embTable, buckets = 4, Seq("vec_id"))
      val qs = corpus.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("query_id"), col("text"))
      // stage 1: staged-table BM25 probe, wide k, self excluded AFTER
      // the cut (the documented funnel contract)
      val cands = Retrieval.bm25TopKWith(
          Retrieval.loadPostingsIndex(spark, prefix),
          qs, "query_id", slice(TA.tokens(col("text")), 1, 3), k = 20)
        .filter(col("doc") =!= col("query"))
      // stage 2: exact cosine rerank against the bucketed embeddings
      val emb = spark.table(embTable)
      val reranked = Retrieval.rerankByCosine(cands,
        emb, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
      // the dense stage is candidate-bounded: measure it (the
      // docs/SCALE.md row) — |queries| * kRetrieve is the ceiling
      val nCands = cands.count()
      val nQueries = qs.count()
      assert(nCands > 0 && nCands <= nQueries * 20,
        s"candidate set must be funnel-bounded ($nCands)")
      assert(reranked.count() > 0, "funnel must retrieve")
      // corpus sides: the postings/doclen scans (stage 1) and BOTH
      // embeddings scans (stage 2 query- and doc-vector lookups) paid
      // their layout shuffle at write time — the funnel may shuffle
      // only candidate-sized intermediates. Same unary-descent check
      // as the BM25 table test: no exchange directly over a corpus
      // table scan.
      val corpusTables = Set(prefix + "_postings", prefix + "_doclen",
        prefix + "_dfreq", embTable)
      val plan = reranked.queryExecution.executedPlan
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        var n: org.apache.spark.sql.execution.SparkPlan = e.child
        var hit = Option.empty[String]
        var done = false
        while (!done) n match {
          case f: FileSourceScanExec =>
            hit = f.tableIdentifier.map(_.table); done = true
          case u if u.children.size == 1 => n = u.children.head
          case _ => done = true
        }
        assert(hit.forall(!corpusTables.contains(_)),
          s"corpus table ${hit.getOrElse("")} re-shuffled by the " +
            s"funnel:\n$plan")
      }
      assert(!plan.toString.contains("CartesianProduct"),
        "the funnel must stay equi-join end to end")
      // and the bucketed embeddings scans are load-bearing (both
      // vector lookups read the staged table, not a shuffled copy)
      val embScans = plan.collect { case f: FileSourceScanExec => f }
        .flatMap(_.tableIdentifier).map(_.table)
        .count(_ == embTable)
      assert(embScans == 2,
        s"expected the query- and doc-vector lookups to scan the " +
          s"bucketed table ($embScans):\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bucketed index tables: door probes stay exchange-free on the " +
    "corpus side after 2 appended batches; append == rebuild; " +
    "compaction preserves both") {
    import graft.operators.Dedup
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def docsDf(ids: Range) = ids.map(i =>
      (i.toLong, s"doc number $i with body ${(i * 13) % 7}"))
      .toDF("doc_id", "text")
    val corpus = docsDf(0 until 60)
    val simOf = StreamingOps.doorFingerprint(col("text"))
    val b1 = docsDf(100 until 120)
    val b2 = docsDf(200 until 220)
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), simOf.as("fp"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // AQE is off so the executed plan keeps raw scan/join nodes for
    // the structural assertions (AQE wraps them in query stages that
    // tree-collect cannot see through)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Dedup.createBandedIndexTable(fp(corpus), "doc_id", "fp",
        "graft_bands_tbl", buckets = 4)
      Dedup.appendToBandedIndexTable(fp(b1), "doc_id", "fp",
        "graft_bands_tbl", buckets = 4)
      Dedup.appendToBandedIndexTable(fp(b2), "doc_id", "fp",
        "graft_bands_tbl", buckets = 4)
      Dedup.createDigestIndexTable(corpus, "text",
        "graft_digests_tbl", buckets = 4)
      Dedup.appendToDigestIndexTable(b1, "text",
        "graft_digests_tbl", buckets = 4)
      Dedup.appendToDigestIndexTable(b2, "text",
        "graft_digests_tbl", buckets = 4)

      // append == rebuild, row-identical, THROUGH the table path
      val unionAll = corpus.unionByName(b1).unionByName(b2)
      def bandRows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc", "sim", "band", "bits")
          .as[(Long, Long, Int, Long)].collect().toSet
      assert(bandRows(spark.table("graft_bands_tbl")) ==
        bandRows(Dedup.hammingBandIndex(fp(unionAll), "doc_id", "fp")))
      def digestRows(df: org.apache.spark.sql.DataFrame) =
        df.select("digest").as[String].collect().toSet
      assert(digestRows(spark.table("graft_digests_tbl")) ==
        digestRows(Dedup.digestIndex(unionAll, "text")))

      // the probes: batch tense of the door's stateless halves over
      // the table-backed corpus sides. The corpus tables are read into
      // a broadcast snapshot when they change, never scanned or joined
      // on the arrivals' side; the verdicts follow the tables through
      // appends and compaction.
      val arrivals = docsDf(300 until 310)
        .withColumn("ts", lit(java.sql.Timestamp.valueOf(
          "2024-01-01 00:00:00")))
      val dups = docsDf(0 until 2).unionByName(docsDf(200 until 202))
        .withColumn("ts", lit(java.sql.Timestamp.valueOf(
          "2024-01-01 00:00:00")))
      def assertNoCorpusScan(label: String,
                             probe: org.apache.spark.sql.DataFrame =>
                               org.apache.spark.sql.DataFrame): Unit = {
        val df = probe(arrivals)
        assert(df.count() == 10, s"$label: all arrivals are novel")
        assert(probe(dups).count() == 0,
          s"$label: corpus and appended docs must all be dropped")
        val plan = df.queryExecution.executedPlan
        assert(plan.collect { case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table.endsWith("_tbl")) => s
          }.isEmpty, s"$label: the probe scans a corpus table:\n$plan")
        assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
          s"$label: the probe joins:\n$plan")
      }
      def bandProbe(df: org.apache.spark.sql.DataFrame) =
        StreamingOps.nearDupAgainstCorpus(df, simOf, "ts",
          spark.table("graft_bands_tbl"), "10 minutes")
      def digestProbe(df: org.apache.spark.sql.DataFrame) =
        StreamingOps.dedupAgainstCorpus(df, "text", "ts",
          spark.table("graft_digests_tbl"), "10 minutes")
      assertNoCorpusScan("banded probe", bandProbe)
      assertNoCorpusScan("digest probe", digestProbe)

      // compaction rewrites the accumulated append files (3 per
      // bucket) into one; content and the exchange-free probe survive
      val bandFiles = spark.table("graft_bands_tbl")
        .select(input_file_name()).distinct().count()
      Dedup.compactBandedIndexTable(spark, "graft_bands_tbl", 4)
      Dedup.compactDigestIndexTable(spark, "graft_digests_tbl", 4)
      val bandFilesAfter = spark.table("graft_bands_tbl")
        .select(input_file_name()).distinct().count()
      assert(bandFilesAfter < bandFiles,
        s"compaction must shrink the file count " +
          s"($bandFiles -> $bandFilesAfter)")
      assert(bandRows(spark.table("graft_bands_tbl")) ==
        bandRows(Dedup.hammingBandIndex(fp(unionAll), "doc_id", "fp")))
      assert(digestRows(spark.table("graft_digests_tbl")) ==
        digestRows(Dedup.digestIndex(unionAll, "text")))
      assertNoCorpusScan("banded probe post-compact", bandProbe)
      assertNoCorpusScan("digest probe post-compact", digestProbe)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS graft_bands_tbl")
      spark.sql("DROP TABLE IF EXISTS graft_digests_tbl")
      spark.sql("DROP TABLE IF EXISTS graft_bands_tbl_compacting")
      spark.sql("DROP TABLE IF EXISTS graft_digests_tbl_compacting")
    }
  }

  test("slidingDrift streaming plan: one windowed aggregate, zero joins") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val baseline = graft.operators.Curation.histogram(
      Seq(0, 1).toDF("v"), col("v"))
    val input = MemoryStream[(java.sql.Timestamp, Int)]
    val drift = graft.streaming.StreamingOps.slidingDrift(
      input.toDF().toDF("ts", "v"), "ts", col("v"),
      "10 minutes", "5 minutes", "1 minute", baseline, nBuckets = 8)
    val plan = drift.queryExecution.analyzed
    // per-window state is the fixed cell vector inside ONE windowed
    // aggregation; the baseline is a literal, so there is no join and
    // no second stateful op — the shape that stays bounded on an
    // unbounded stream
    assert(plan.collect { case a: Aggregate => a }.size == 1,
      "drift must be exactly one windowed aggregation")
    assert(plan.collect { case j: Join => j }.isEmpty,
      "the baseline must ride as a literal, never a join")
  }
}
