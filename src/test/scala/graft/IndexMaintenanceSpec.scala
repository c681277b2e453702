package graft

import graft.operators.{IndexMaintenance => IM, Similarity}
import org.apache.spark.sql.functions._

class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): IM.VersionedIndexStore =
    new IM.VersionedIndexStore(
      java.nio.file.Files.createTempDirectory("graft-idx").toString)

  // two tight clusters around orthogonal axes (the recall-floor
  // fixture's shape): every quantizer is deterministic over it
  private lazy val clustered = {
    val base = Seq(
      Array(1.0f, 0.02f, 0.01f, 0.0f),
      Array(0.0f, 0.01f, 0.02f, 1.0f))
    (0 until 40).map { i =>
      val c = base(i % 2)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
  }

  // a load reads a version back as the family of its `like` index;
  // an empty IvfIndex names the family where no built one is in scope
  private def loadIvf(dir: String): Similarity.IvfIndex =
    IM.loadAnnIndexLike(spark, dir,
      Similarity.IvfIndex(Nil, spark.emptyDataFrame))

  private def currentIvf(store: IM.VersionedIndexStore) =
    store.currentDir().map(loadIvf)

  private def topkSet(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "rank", "c_id").as[(Long, Int, Long)].collect().toSet

  test("rebuild's AutoCentroids default re-derives the quantizer " +
    "size from the CURRENT corpus (sqrt-N rule)") {
    // 900 vectors: sqrt = 30, above the floor — a frozen 16 would be
    // visibly wrong here. Fixture is two clusters like `clustered`.
    val big = (0 until 900).map { i =>
      val c = if (i % 2 == 0) Array(1.0f, 0.02f, 0.01f, 0.0f)
              else Array(0.0f, 0.01f, 0.02f, 1.0f)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val store = tmpStore()
    val auto = IM.rebuildIvfIndex(store, big, "vec_id", "embedding")
    assert(auto.cents.size === Similarity.suggestedNCentroids(900L))
    assert(auto.cents.size === 30)
    // explicit sizes still win (pinned-fixture escape hatch)
    val pinned = IM.rebuildIvfIndex(store, big, "vec_id", "embedding",
      nCentroids = 4)
    assert(pinned.cents.size === 4)
  }

  test("maintenance inherits the XL dispatch: an AutoCentroids " +
    "rebuild past LiteralQuantizerMax round-trips the store and " +
    "answers queries identically to the in-memory broadcast build") {
    // 5000 vectors -> sqrt-N = 71 centroids (past 64, where the
    // retired plan-literal assignment stopped): the rebuild's
    // assignment runs on the broadcast transport and the quantizer
    // round-trips through the versioned parquet store
    val big = (0 until 5000).map { i =>
      val c = if (i % 2 == 0) Array(1.0f, 0.02f, 0.01f, 0.0f)
              else Array(0.0f, 0.01f, 0.02f, 1.0f)
      (i.toLong,
        c.zipWithIndex.map { case (x, j) => x + 0.001f * ((i * 7 + j) % 5) })
    }.toDF("vec_id", "embedding")
    val store = tmpStore()
    val loaded = IM.rebuildIvfIndex(store, big, "vec_id", "embedding")
    assert(loaded.cents.size === Similarity.suggestedNCentroids(5000L))
    assert(loaded.cents.size === 71)
    val mem = Similarity.ivfIndex(big, "vec_id", "embedding",
      nCentroids = loaded.cents.size, persistIndex = false)
    assert(loaded.cents === mem.cents)
    val q = big.filter(col("vec_id") < 4)
    assert(topkSet(Similarity.ivfTopKWith(loaded, q, "vec_id",
        "embedding", 3, nProbe = 2)) ===
      topkSet(Similarity.ivfTopKWith(mem, q, "vec_id",
        "embedding", 3, nProbe = 2)))
    mem.assigned.unpersist()
  }

  test("rebuild publishes a version whose loaded index answers " +
    "queries identically to the in-memory build (all four types)") {
    val q = clustered.filter(col("vec_id") < 4)

    val ivfStore = tmpStore()
    val ivfLoaded = IM.rebuildIvfIndex(ivfStore, clustered, "vec_id",
      "embedding", nCentroids = 4)
    assert(ivfStore.currentVersion() == 0L)
    val ivfMem = Similarity.ivfIndex(clustered, "vec_id", "embedding",
      nCentroids = 4, persistIndex = false)
    assert(ivfLoaded.cents == ivfMem.cents)
    assert(topkSet(Similarity.ivfTopKWith(ivfLoaded, q, "vec_id",
        "embedding", 3, nProbe = 2)) ==
      topkSet(Similarity.ivfTopKWith(ivfMem, q, "vec_id",
        "embedding", 3, nProbe = 2)))

    val lshStore = tmpStore()
    val lshLoaded = IM.rebuildLshIndex(lshStore, clustered, "vec_id",
      "embedding", nPlanes = 4)
    val lshMem = Similarity.lshIndex(clustered, "vec_id", "embedding",
      nPlanes = 4, persistIndex = false)
    assert(lshLoaded.nPlanes == lshMem.nPlanes)
    assert(topkSet(Similarity.lshTopKWith(lshLoaded, q, "vec_id",
        "embedding", 3)) ==
      topkSet(Similarity.lshTopKWith(lshMem, q, "vec_id",
        "embedding", 3)))
    // appending to a LOADED index honours the round-tripped census
    // (dropped table) and plane count exactly like the in-memory one
    val batch = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.01f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendToAnnIndex(lshLoaded, batch, "vec_id",
        "embedding").buckets.select("c_id").as[Long].collect().sorted
        .toSeq ==
      Similarity.appendToAnnIndex(lshMem, batch, "vec_id",
        "embedding").buckets.select("c_id").as[Long].collect().sorted
        .toSeq)

    val pqStore = tmpStore()
    val pqLoaded = IM.rebuildPqIndex(pqStore, clustered, "vec_id",
      "embedding", m = 2, ksub = 4)
    val pqMem = Similarity.pqIndex(clustered, "vec_id", "embedding",
      m = 2, ksub = 4, persistIndex = false)
    assert(pqLoaded.codebook.map(_.toSeq).toSeq ==
      pqMem.codebook.map(_.toSeq).toSeq)
    assert(topkSet(Similarity.pqTopKWith(pqLoaded, q, clustered,
        "vec_id", "embedding", 3, rerank = 8)) ==
      topkSet(Similarity.pqTopKWith(pqMem, q, clustered,
        "vec_id", "embedding", 3, rerank = 8)))

    val ipqStore = tmpStore()
    val ipqLoaded = IM.rebuildIvfPqIndex(ipqStore, clustered, "vec_id",
      "embedding", nCentroids = 4, m = 2, ksub = 4, residual = true,
      trainCoarse = true)
    val ipqMem = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
      nCentroids = 4, m = 2, ksub = 4, residual = true,
      trainCoarse = true, persistIndex = false)
    assert(ipqLoaded.cents == ipqMem.cents)
    assert(ipqLoaded.residual == ipqMem.residual)
    assert(topkSet(Similarity.ivfPqTopKWith(ipqLoaded, q, clustered,
        "vec_id", "embedding", 3, nProbe = 2, rerank = 8)) ==
      topkSet(Similarity.ivfPqTopKWith(ipqMem, q, clustered,
        "vec_id", "embedding", 3, nProbe = 2, rerank = 8)))
  }

  test("swap is crash-safe: a written-but-unpublished version is " +
    "invisible and never adopted; publish flips readers atomically") {
    val store = tmpStore()
    val v0 = IM.rebuildIvfIndex(store, clustered, "vec_id", "embedding",
      nCentroids = 4)
    assert(store.currentVersion() == 0L)
    val v0Rows = v0.assigned.select("c_id").as[Long].collect().sorted.toSeq

    // crash mid-rebuild: the new version directory is fully or partly
    // written, but the pointer never moved
    val extra = clustered.unionByName(
      Seq((999L, Array(0.5f, 0.5f, 0.5f, 0.5f)))
        .toDF("vec_id", "embedding"))
    IM.saveAnnIndex(Similarity.ivfIndex(extra, "vec_id", "embedding",
      nCentroids = 4, persistIndex = false), store.versionDir(1))

    // readers still see v0, bit-for-bit
    assert(store.currentVersion() == 0L)
    val seen = currentIvf(store).get
    assert(seen.assigned.select("c_id").as[Long].collect().sorted.toSeq
      == v0Rows)
    assert(!seen.assigned.select("c_id").as[Long].collect().contains(999L))

    // recovery: the next rebuild SKIPS the dead v1 directory (it may
    // be partial) and publishes v2; only then do readers see the new
    // corpus member
    assert(store.nextVersion() == 2L)
    IM.rebuildIvfIndex(store, extra, "vec_id", "embedding",
      nCentroids = 4)
    assert(store.currentVersion() == 2L)
    assert(currentIvf(store).get
      .assigned.select("c_id").as[Long].collect().contains(999L))

    // a stale rebuild cannot regress the pointer
    intercept[IllegalArgumentException] { store.publish(1L) }
  }

  test("takedown through the versioned store: delete -> save -> " +
    "publish swaps readers to the victim-free index; straddling " +
    "readers keep the pre-delete version until GC") {
    val store = tmpStore()
    val v0 = IM.rebuildIvfIndex(store, clustered, "vec_id", "embedding",
      nCentroids = 4)
    // the takedown: remove vec 7 with the quantizer frozen, persist
    // as the NEXT version, publish — the rebuild swap protocol reused
    // verbatim for deletion
    val deleted = Similarity.deleteFromAnnIndex(v0,
      Seq(7L).toDF("vec_id"), "vec_id")
    val v = store.nextVersion()
    IM.saveAnnIndex(deleted, store.versionDir(v))
    // until publish, readers still serve the pre-delete index (the
    // compliance cutover is the pointer flip, not the write)
    assert(currentIvf(store).get
      .assigned.select("c_id").as[Long].collect().contains(7L))
    store.publish(v)
    val now = currentIvf(store).get
    val ids = now.assigned.select("c_id").as[Long].collect().toSeq
    assert(!ids.contains(7L) && ids.size.toLong ===
      clustered.count() - 1, "published index must be victim-free")
    // a probe of the victim's own direction through the published
    // index never returns it
    val q = clustered.filter(col("vec_id") === 7L)
      .select(lit(999L).as("vec_id"), col("embedding"))
    assert(!Similarity.ivfTopKWith(now, q, "vec_id", "embedding",
        k = 3, nProbe = 4)
      .select("c_id").as[Long].collect().contains(7L))
    // the straddling-reader window: the pre-delete version stays
    // readable until retention GC removes it
    assert(loadIvf(store.versionDir(0L))
      .assigned.select("c_id").as[Long].collect().contains(7L))
    assert(store.retainVersions(0) == Seq(0L),
      "aggressive retention prunes exactly the pre-delete version")
    intercept[Exception] {
      loadIvf(store.versionDir(0L))
        .assigned.collect()
    }
  }

  // drifted-corpus fixture: corpus A lives in the positive unit box,
  // batch B arrives later FAR outside it — 12 tight clusters at
  // -100·1 + ±0.8 sign patterns (popcount-4 masks, so every cluster
  // has the same norm and clusters differ only in direction). Under
  // the A-trained codebook the per-subspace argmin is dominated by
  // the -100 offset (2·|b_i|·c_i swamps every codeword difference),
  // so ALL B vectors collapse to one code and ADC cannot rank them;
  // a codebook re-trained on A ∪ B gives each ±0.8 combo its own
  // codeword and separates the clusters again. All values are
  // integer-derived (no Random), so both recalls are stable numbers.
  private lazy val corpusA = (0 until 256).map { i =>
    (i.toLong,
      Array.tabulate(8)(j => 0.2 + ((i * 31 + j * 17) % 13) / 13.0))
  }.toDF("vec_id", "embedding")

  // first 12 bytes with popcount 4, ascending
  private val bMasks =
    (0 until 256).filter(Integer.bitCount(_) == 4).take(12)

  private def bMember(c: Int, m: Int): Array[Double] =
    Array.tabulate(8)(j =>
      -100.0 + (if (((bMasks(c) >> j) & 1) == 1) 0.8 else -0.8) +
        0.01 * ((m * 5 + j) % 3))

  private lazy val batchB = (for { c <- 0 until 12; m <- 0 until 8 }
    yield ((1000 + c * 8 + m).toLong, bMember(c, m)))
    .toDF("vec_id", "embedding")

  test("drift alarm + rebuild: stale-quantizer recall collapses on a " +
    "drifted batch; re-train + swap restores recall >= 0.9") {
    val union = corpusA.unionByName(batchB)
    // queries from the drifted region (skip the lowest-id clusters:
    // the stale index's all-tied ADC shortlist is resolved by the
    // ascending-c_id tiebreak, which would hand those clusters their
    // own members for free and understate the collapse)
    val queries = (4 until 12)
      .map(c => ((1000 + c * 8).toLong, bMember(c, 0)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(queries, union, "vec_id",
      "embedding", 3)

    def recallOf(idx: Similarity.PqIndex): Double =
      Similarity.recallAtK(exact,
          Similarity.pqTopKWith(idx, queries, union, "vec_id",
            "embedding", 3, rerank = 8), "pq")
        .select("recall").as[Double].head()

    val store = tmpStore()
    // life before the drift: index built (and published) on A only,
    // then B folded in with the FROZEN codebook — the documented
    // append trade
    val published = IM.rebuildPqIndex(store, corpusA, "vec_id",
      "embedding", m = 4, ksub = 32)
    val stale = Similarity.appendToAnnIndex(published, batchB, "vec_id",
      "embedding")
    val staleRecall = recallOf(stale)
    assert(staleRecall <= 0.3,
      s"fixture lost its teeth: stale recall $staleRecall")

    // the alarm fired; rebuild re-trains on A ∪ B and swaps
    val rebuilt = IM.rebuildPqIndex(store, union, "vec_id", "embedding",
      m = 4, ksub = 32)
    assert(store.currentVersion() == 1L)
    val restoredRecall = recallOf(rebuilt)
    assert(restoredRecall >= 0.9,
      s"rebuild did not restore recall: $restoredRecall (stale was " +
        s"$staleRecall)")

    // append-then-rebuild == fresh build over the same rows: the
    // published artifact is row-identical to building from scratch on
    // A ∪ B (training is deterministic, parquet round-trip exact)
    val fresh = Similarity.pqIndex(union, "vec_id", "embedding",
      m = 4, ksub = 32, persistIndex = false)
    assert(rebuilt.codebook.map(_.toSeq).toSeq ==
      fresh.codebook.map(_.toSeq).toSeq)
    assert(rebuilt.encoded.select("c_id", "codes")
        .as[(Long, Seq[Int])].collect().toSet ==
      fresh.encoded.select("c_id", "codes")
        .as[(Long, Seq[Int])].collect().toSet)
  }

  test("maintainPqIndex: healthy index is audit-only (no swap); " +
    "drifted index triggers rebuild + swap and clears the floor") {
    val store = tmpStore()
    val published = IM.rebuildPqIndex(store, corpusA, "vec_id",
      "embedding", m = 4, ksub = 32)
    assert(store.currentVersion() == 0L)

    // healthy: the corpus IS what the codebook trained on — the
    // audit passes and the store is untouched
    val healthy = IM.maintainAnnIndex(store, corpusA, "vec_id",
      "embedding", published, recallFloor = 0.9, k = 3, rerank = 16)
    assert(!healthy.rebuilt && healthy.recall >= 0.9,
      s"healthy audit recall ${healthy.recall}")
    assert(store.currentVersion() == 0L, "no-op must not bump version")

    // drift: batch B appended under the frozen codebook; the audit
    // sample now includes collapsed-code vectors, recall falls below
    // the floor, and maintain rebuilds + swaps atomically
    val union = corpusA.unionByName(batchB)
    val stale = Similarity.appendToAnnIndex(published, batchB, "vec_id",
      "embedding")
    val out = IM.maintainAnnIndex(store, union, "vec_id", "embedding",
      stale, recallFloor = 0.9, k = 3, rerank = 16)
    assert(out.rebuilt, s"drifted audit recall ${out.recall} must " +
      "trigger a rebuild")
    assert(out.recall < 0.9)
    assert(store.currentVersion() == 1L, "rebuild must publish v1")
    // the returned (published) index clears the floor on the same
    // deterministic audit
    val after = IM.maintainAnnIndex(store, union, "vec_id", "embedding",
      out.index, recallFloor = 0.9, k = 3, rerank = 16)
    assert(!after.rebuilt && after.recall >= 0.9,
      s"post-rebuild audit recall ${after.recall}")
    assert(store.currentVersion() == 1L)
  }

  test("a forced maintain keeps the current index's quantizer shape: " +
    "PQ m and ksub, IVF-PQ residual") {
    // a recall-floor rebuild must publish the index it replaces
    // re-trained, not the builder defaults (8 subspaces x 16
    // codewords, raw codes): the shape is read from `current`, never
    // repeated by the caller
    def shape(cb: Array[Array[Seq[Double]]]) = (cb.length, cb.head.length)
    val pqStore = tmpStore()
    val pq0 = IM.rebuildPqIndex(pqStore, corpusA, "vec_id", "embedding",
      m = 4, ksub = 32)
    val pq = IM.maintainAnnIndex(pqStore, corpusA, "vec_id", "embedding",
      pq0, recallFloor = 1.01)
    assert(pq.rebuilt && pqStore.currentVersion() == 1L)
    assert(shape(pq.index.codebook) === ((4, 32)))

    val ipqStore = tmpStore()
    val ipq0 = IM.rebuildIvfPqIndex(ipqStore, corpusA, "vec_id",
      "embedding", nCentroids = 4, m = 4, ksub = 32, residual = true)
    val ipq = IM.maintainAnnIndex(ipqStore, corpusA, "vec_id",
      "embedding", ipq0, recallFloor = 1.01, nCentroids = 4)
    assert(ipq.rebuilt && ipqStore.currentVersion() == 1L)
    assert(ipq.index.residual)
    assert(shape(ipq.index.codebook) === ((4, 32)))
  }

  test("a maintain whose ADC shortlist is shallower than k fails " +
    "loudly and leaves the store untouched") {
    val store = tmpStore()
    val pq0 = IM.rebuildPqIndex(store, corpusA, "vec_id", "embedding",
      m = 4, ksub = 32)
    val e = intercept[IllegalArgumentException] {
      IM.maintainAnnIndex(store, corpusA, "vec_id", "embedding", pq0,
        recallFloor = 1.01, k = 8, rerank = 4)
    }
    assert(e.getMessage.contains("rerank (4) must be >= k (8)"))
    assert(store.currentVersion() == 0L)
  }

  test("maintain covers all four index families: healthy no-op and " +
    "forced rebuild+swap wiring") {
    // recall restoration is pinned by the PQ drift test; this pins
    // the WIRING per family — a passing audit touches nothing, and a
    // failing one (forced via an unattainable floor) publishes a new
    // version whose loaded index is returned
    val ivfStore = tmpStore()
    val ivf0 = IM.rebuildIvfIndex(ivfStore, clustered, "vec_id",
      "embedding", nCentroids = 2)
    val ivfOk = IM.maintainAnnIndex(ivfStore, clustered, "vec_id",
      "embedding", ivf0, recallFloor = 0.5, nProbe = 2,
      nCentroids = 2)
    assert(!ivfOk.rebuilt && ivfStore.currentVersion() == 0L)
    val ivfForced = IM.maintainAnnIndex(ivfStore, clustered, "vec_id",
      "embedding", ivf0, recallFloor = 1.01, nProbe = 2,
      nCentroids = 2)
    assert(ivfForced.rebuilt && ivfStore.currentVersion() == 1L)
    assert(ivfForced.index.cents == ivf0.cents) // same corpus, same build

    val lshStore = tmpStore()
    val lsh0 = IM.rebuildLshIndex(lshStore, clustered, "vec_id",
      "embedding", nPlanes = 4)
    val lshForced = IM.maintainAnnIndex(lshStore, clustered, "vec_id",
      "embedding", lsh0, recallFloor = 1.01)
    assert(lshForced.rebuilt && lshStore.currentVersion() == 1L)

    val ipqStore = tmpStore()
    val ipq0 = IM.rebuildIvfPqIndex(ipqStore, clustered, "vec_id",
      "embedding", nCentroids = 2, m = 2, ksub = 4)
    val ipqForced = IM.maintainAnnIndex(ipqStore, clustered,
      "vec_id", "embedding", ipq0, recallFloor = 1.01,
      nCentroids = 2)
    assert(ipqForced.rebuilt && ipqStore.currentVersion() == 1L)
  }

  test("maintain with retention: audit→rebuild→swap→GC is ONE call — " +
    "healthy audits never delete; GC keeps CURRENT + n readable") {
    def dirExists(store: IM.VersionedIndexStore, v: Long) =
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(store.versionDir(v)))
    val store = tmpStore()
    val v0 = IM.rebuildPqIndex(store, corpusA, "vec_id", "embedding",
      m = 4, ksub = 32)
    // healthy path with retention configured: audit-only — GC must
    // NOT run (a passing audit is read-only, retention or not)
    val healthy = IM.maintainAnnIndex(store, corpusA, "vec_id",
      "embedding", v0, recallFloor = 0.9, k = 3, rerank = 16,
      retain = Some(0))
    assert(!healthy.rebuilt && healthy.gcVersions.isEmpty)
    assert(dirExists(store, 0L) && store.currentVersion() == 0L)
    // forced rebuild, retain = 1: v1 publishes; v0 is CURRENT−1 and
    // survives for the straddling reader
    val r1 = IM.maintainAnnIndex(store, corpusA, "vec_id", "embedding",
      healthy.index, recallFloor = 1.01, k = 3, rerank = 16,
      retain = Some(1))
    assert(r1.rebuilt && store.currentVersion() == 1L)
    assert(r1.gcVersions.isEmpty && dirExists(store, 0L))
    // second forced rebuild, retain = 1: v2 publishes; GC prunes
    // exactly v0, keeps v1 (the window) + v2 (CURRENT), both loadable
    val r2 = IM.maintainAnnIndex(store, corpusA, "vec_id", "embedding",
      r1.index, recallFloor = 1.01, k = 3, rerank = 16,
      retain = Some(1))
    assert(r2.gcVersions == Seq(0L), s"gc: ${r2.gcVersions}")
    assert(!dirExists(store, 0L) && dirExists(store, 1L) &&
      dirExists(store, 2L))
    assert(IM.loadAnnIndexLike(spark, store.versionDir(1L), v0)
      .codebook.length == 4)
    // aggressive keep-only-CURRENT: v3 publishes, v1 and v2 pruned
    val r3 = IM.maintainAnnIndex(store, corpusA, "vec_id", "embedding",
      r2.index, recallFloor = 1.01, k = 3, rerank = 16,
      retain = Some(0))
    assert(r3.gcVersions == Seq(1L, 2L), s"gc: ${r3.gcVersions}")
    assert(store.currentVersion() == 3L && dirExists(store, 3L))
    assert(store.currentDir().map(IM.loadAnnIndexLike(spark, _, v0)).get
      .codebook.length == 4)
  }

  test("concurrent-reader soak: readers interleaved with rebuild+publish " +
    "stay version-consistent; superseded dirs remain readable") {
    // The store's reader contract is RESOLVE ONCE: a reader takes
    // currentDir() and loads every artifact from that immutable
    // directory, so a publish landing mid-load can never hand it
    // version-N codes with version-M codebooks. This soaks that
    // contract against real concurrent swaps: three distinct corpora
    // are rebuilt/published while reader threads resolve + (slowly)
    // load + answer; every answer must equal the precomputed answer
    // of exactly the version the reader resolved — never a blend —
    // and the observed version sequence per reader must be monotone.
    def corpusShift(dx: Float) = {
      val base = Seq(
        Array(1.0f + dx, 0.02f, 0.01f, 0.0f),
        Array(0.0f, 0.01f + dx, 0.02f, 1.0f))
      (0 until 40).map { i =>
        val c = base(i % 2)
        (i.toLong, c.zipWithIndex.map { case (x, j) =>
          x + 0.001f * ((i * 7 + j) % 5) })
      }.toDF("vec_id", "embedding")
    }
    val corpora = Seq(corpusShift(0.0f), corpusShift(0.4f),
      corpusShift(0.9f))
    val q = clustered.filter(col("vec_id") < 4)
    def answerOf(idx: Similarity.IvfIndex) =
      topkSet(Similarity.ivfTopKWith(idx, q, "vec_id", "embedding", 3,
        nProbe = 2))
    // expected answer PER VERSION from deterministic in-memory builds
    // (rebuild == in-memory build is pinned by the first test)
    val expected = corpora.map(c => answerOf(Similarity.ivfIndex(
      c, "vec_id", "embedding", nCentroids = 4,
      persistIndex = false))).toIndexedSeq

    val store = tmpStore()
    IM.rebuildIvfIndex(store, corpora(0), "vec_id", "embedding",
      nCentroids = 4) // v0 published before readers start
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until 2).map { r =>
      new Thread(() => {
        var lastSeen = -1L
        while (!stop.get()) {
          try {
            val v = store.currentVersion()
            val dir = store.versionDir(v)
            if (v < lastSeen)
              failures.add(s"reader $r: pointer regressed $lastSeen -> $v")
            lastSeen = math.max(lastSeen, v)
            Thread.sleep(5) // widen the resolve->load window
            val ans = answerOf(loadIvf(dir))
            if (ans != expected(v.toInt))
              failures.add(s"reader $r: version $v answered a blend")
          } catch {
            case e: Throwable =>
              failures.add(s"reader $r: ${e.getClass.getName}: ${e.getMessage}")
          }
        }
      })
    }
    readers.foreach(_.start())
    try {
      // two live swaps while the readers churn
      IM.rebuildIvfIndex(store, corpora(1), "vec_id", "embedding",
        nCentroids = 4)
      IM.rebuildIvfIndex(store, corpora(2), "vec_id", "embedding",
        nCentroids = 4)
      assert(store.currentVersion() == 2L)
    } finally {
      stop.set(true)
      readers.foreach(_.join(120000))
    }
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    // superseded version dirs stay readable (GC is opt-in via
    // retainVersions, not automatic): a straggler holding v0
    // mid-query still completes correctly
    assert(answerOf(loadIvf(store.versionDir(0L))) ==
      expected(0))
    assert(answerOf(loadIvf(store.versionDir(1L))) ==
      expected(1))
  }

  // tmpStore roots are plain local paths, so java.io.File sees them
  private def dirExists(store: IM.VersionedIndexStore, v: Long): Boolean =
    new java.io.File(store.versionDir(v)).exists()

  test("retention GC: retainVersions keeps CURRENT + n, deletes older, " +
    "and never touches staging or the published version") {
    val store = tmpStore()
    // publish v0..v3
    (0 until 4).foreach { _ =>
      IM.rebuildIvfIndex(store, clustered, "vec_id", "embedding",
        nCentroids = 4)
    }
    assert(store.currentVersion() == 3L)
    // plus an in-flight staging dir ABOVE the pointer (a rebuild in
    // progress / crashed before publish)
    IM.saveAnnIndex(Similarity.ivfIndex(clustered, "vec_id",
      "embedding", nCentroids = 4, persistIndex = false),
      store.versionDir(7L))

    val deleted = store.retainVersions(1)
    assert(deleted == Seq(0L, 1L))
    assert(!dirExists(store, 0L) && !dirExists(store, 1L))
    // CURRENT and the retained predecessor both still load + answer
    val q = clustered.filter(col("vec_id") < 4)
    Seq(2L, 3L).foreach { v =>
      val idx = loadIvf(store.versionDir(v))
      assert(topkSet(Similarity.ivfTopKWith(idx, q, "vec_id",
        "embedding", 3, nProbe = 2)).nonEmpty)
    }
    // staging survived, and version allocation still skips past it
    assert(dirExists(store, 7L))
    assert(store.nextVersion() == 8L)

    // releaseBelow clamps at the published version: even an absurd
    // cutoff never deletes CURRENT (or the staging dir above it)
    val deleted2 = store.releaseBelow(Long.MaxValue)
    assert(deleted2 == Seq(2L))
    assert(dirExists(store, 3L) && dirExists(store, 7L))
    assert(store.currentVersion() == 3L)
    assert(currentIvf(store).nonEmpty)
  }

  test("retention GC: no-op before anything is published; idempotent; " +
    "crash mid-GC leaves a loadable store") {
    val fresh = tmpStore()
    // unpublished store: every dir is potential staging — GC refuses
    IM.saveAnnIndex(Similarity.ivfIndex(clustered, "vec_id",
      "embedding", nCentroids = 4, persistIndex = false),
      fresh.versionDir(0L))
    assert(fresh.releaseBelow(Long.MaxValue) == Nil)
    assert(fresh.retainVersions(0) == Nil)
    assert(dirExists(fresh, 0L))

    val store = tmpStore()
    (0 until 3).foreach { _ =>
      IM.rebuildIvfIndex(store, clustered, "vec_id", "embedding",
        nCentroids = 4)
    }
    // simulate a crash mid-GC: v0 half-deleted (one artifact gone)
    val v0cents = new org.apache.hadoop.fs.Path(
      store.versionDir(0L), "cents")
    val fs = v0cents.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(v0cents, true))
    // the store is still loadable at CURRENT, and the next GC pass
    // finishes the job
    assert(currentIvf(store).nonEmpty)
    assert(store.retainVersions(1) == Seq(0L))
    assert(!dirExists(store, 0L))
    // idempotent: nothing left below the window
    assert(store.retainVersions(1) == Nil)
    assert(store.currentVersion() == 2L)
  }

  test("concurrent-reader soak with GC interleaved: readers stay " +
    "green while old versions are released behind them") {
    def corpusShift(dx: Float) = {
      val base = Seq(
        Array(1.0f + dx, 0.02f, 0.01f, 0.0f),
        Array(0.0f, 0.01f + dx, 0.02f, 1.0f))
      (0 until 40).map { i =>
        val c = base(i % 2)
        (i.toLong, c.zipWithIndex.map { case (x, j) =>
          x + 0.001f * ((i * 7 + j) % 5) })
      }.toDF("vec_id", "embedding")
    }
    val corpora = Seq(corpusShift(0.0f), corpusShift(0.4f),
      corpusShift(0.9f))
    val q = clustered.filter(col("vec_id") < 4)
    def answerOf(idx: Similarity.IvfIndex) =
      topkSet(Similarity.ivfTopKWith(idx, q, "vec_id", "embedding", 3,
        nProbe = 2))
    val expected = corpora.map(c => answerOf(Similarity.ivfIndex(
      c, "vec_id", "embedding", nCentroids = 4,
      persistIndex = false))).toIndexedSeq

    val store = tmpStore()
    IM.rebuildIvfIndex(store, corpora(0), "vec_id", "embedding",
      nCentroids = 4)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // readers publish the version they RESOLVED most recently; the GC
    // below waits until every reader has moved to the final version
    // before releasing old dirs — the "retention window >= longest
    // read" contract made concrete
    val observed = new java.util.concurrent.atomic.AtomicLongArray(2)
    val readers = (0 until 2).map { r =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val v = store.currentVersion()
            observed.set(r, v)
            Thread.sleep(5)
            val ans = answerOf(loadIvf(
              store.versionDir(v)))
            if (ans != expected(v.toInt))
              failures.add(s"reader $r: version $v answered a blend")
          } catch {
            case e: Throwable =>
              failures.add(s"reader $r: ${e.getClass.getName}: " +
                e.getMessage)
          }
        }
      })
    }
    readers.foreach(_.start())
    try {
      IM.rebuildIvfIndex(store, corpora(1), "vec_id", "embedding",
        nCentroids = 4)
      IM.rebuildIvfIndex(store, corpora(2), "vec_id", "embedding",
        nCentroids = 4)
      assert(store.currentVersion() == 2L)
      // wait until both readers have resolved v2 — their in-flight
      // loads are then v2 loads, so releasing v0 cannot race a read
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((observed.get(0) < 2L || observed.get(1) < 2L) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(observed.get(0) == 2L && observed.get(1) == 2L,
        "readers never reached v2")
      val deleted = store.retainVersions(1)
      assert(deleted == Seq(0L))
      // let the readers churn over the post-GC store for a few more
      // iterations
      Thread.sleep(400)
    } finally {
      stop.set(true)
      readers.foreach(_.join(120000))
    }
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    assert(!dirExists(store, 0L))
    assert(answerOf(loadIvf(store.versionDir(1L))) ==
      expected(1))
    assert(answerOf(currentIvf(store).get) == expected(2))
  }

  test("explicit-planes LSH round-trips the versioned store: planes " +
    "survive save/load and the loaded index probes identically") {
    import spark.implicits._
    val planes: Seq[Seq[Double]] =
      Seq(Seq(1.0d, 0.1d, 0.0d, -0.2d), Seq(-0.3d, 0.9d, 0.2d, 0.1d))
    val ix = Similarity.lshIndexWithPlanes(clustered, "vec_id",
      "embedding", planes, bucketCap = Int.MaxValue,
      persistIndex = false)
    val store = tmpStore()
    IM.saveAnnIndex(ix, store.versionDir(store.nextVersion()))
    store.publish(0L)
    val loaded = IM.loadAnnIndexLike(spark, store.versionDir(0L), ix)
    assert(loaded.nPlanes === 2 && loaded.planes === planes,
      "the quantizer parameters must round-trip exactly")
    val q = clustered.filter(col("vec_id") < 2)
    def probe(i: Similarity.LshIndex) =
      Similarity.lshTopKWith(i, q, "vec_id", "embedding", k = 3)
        .select("q_id", "rank", "c_id")
        .as[(Long, Int, Long)].collect().toSet
    val want = probe(ix)
    assert(want.nonEmpty && probe(loaded) === want)
    // the pseudo-random tense round-trips an EMPTY planes list (the
    // seeded-hyperplane marker), not a crash or a corrupt artifact
    val pr = Similarity.lshIndex(clustered, "vec_id", "embedding",
      nPlanes = 2, persistIndex = false)
    IM.saveAnnIndex(pr, store.versionDir(store.nextVersion()))
    store.publish(1L)
    val prLoaded = IM.loadAnnIndexLike(spark, store.versionDir(1L), pr)
    assert(prLoaded.planes.isEmpty && prLoaded.nPlanes === 2)
    assert(probe(prLoaded) === probe(pr))
    // a recall-floor rebuild INHERITS the explicit planes — without
    // that, maintenance would silently publish a pseudo-random index
    // in a different hash space than the frozen-quantizer contract
    val m = IM.maintainAnnIndex(store, clustered, "vec_id",
      "embedding", loaded, recallFloor = 2.0)
    assert(m.rebuilt, "recallFloor=2.0 must force the rebuild")
    assert(m.index.planes === planes && m.index.nPlanes === 2,
      "the rebuilt index must keep the frozen explicit planes")
    assert(probe(m.index) === want)
  }

  test("takedown audit SURVIVES a crashed-rebuild partial version " +
    "dir: the unloadable version is skipped from the counts and " +
    "reported as its own row, never a crash") {
    import graft.operators.Retrieval
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => (((i * 13 + j * 7) % 9) - 4).toFloat)))
      .toDF("doc_id", "embedding")
    val ivf = Similarity.ivfIndex(vecs, "doc_id", "embedding",
      nCentroids = 2, persistIndex = false)
    val store = tmpStore()
    IM.saveAnnIndex(ivf, store.versionDir(store.nextVersion()))
    store.publish(0L)
    // a rebuild that died mid-save: v1 exists on disk with only the
    // cents artifact written — versionsPresent() sees it, its load
    // throws. This is exactly the crashed-rebuild scenario the
    // compliance audit must expose rather than crash in.
    val partial = new org.apache.hadoop.fs.Path(store.versionDir(1L))
    val fs = partial.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(partial)
    import spark.implicits._
    Seq((0L, Seq(1.0d))).toDF("cent_id", "cent_vec").write
      .parquet(new org.apache.hadoop.fs.Path(partial, "cents").toString)
    val rows = Retrieval.takedownAuditAll(spark,
        Seq(0L, 3L).toDF("doc_id"), "doc_id",
        ann = Seq(Retrieval.AnnAuditSurface("ivf", ivf, Some(store))))
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    val bySurf = rows.groupBy(_._1)
    // live surface unaffected: both requested ids counted normally
    assert(bySurf("ivf").map(r => r._2 -> r._3).toMap
      === Map(0L -> 1L, 3L -> 1L))
    assert(bySurf("ivf").forall(_._5 === 0L),
      "the partial version must not count as retained rows")
    // and the skipped version is surfaced, not silently clean
    assert(bySurf("ivf:unloadable").map(_._2).toSeq === Seq(1L))
  }

  test("cross-surface takedown audit lifecycle: ONE report over " +
    "postings + all four ANN families + landing, through delete → " +
    "publish → retention GC → compaction") {
    import graft.operators.{Retrieval, TextAnalysis => TA}
    import graft.streaming.StreamingOps
    // shared id space: text + vector per doc, ids 0..11; victims 0, 7
    def vecOf(i: Long) = Array.tabulate(4)(j =>
      (((i * 13 + j * 7) % 9) - 4).toFloat)
    val ids = (0L until 12L)
    val docs = ids.map(i =>
      (i, s"word${i % 5} word${i % 3} filler$i")).toDF("doc_id", "text")
    val vecs = ids.map(i => (i, vecOf(i))).toDF("doc_id", "embedding")
    val victims = Seq(0L, 7L).toDF("doc_id")
    val prefix = "graft_audit_lifecycle"
    val root = java.nio.file.Files.createTempDirectory("graft-audit")
    val landing = s"$root/landing"
    try {
      // lexical surface + gated delete
      Retrieval.createPostingsIndexTable(docs, "doc_id",
        TA.tokens(col("text")), prefix, buckets = 2)
      assert(Retrieval.deleteFromPostingsIndexTable(spark, victims,
        "doc_id", prefix, buckets = 2, batchId = Some(0L)) === 2L)
      // four dense families, deleted per family
      val ivfFull = Similarity.ivfIndex(vecs, "doc_id", "embedding",
        nCentroids = 2, persistIndex = false)
      val ivf = Similarity.deleteFromAnnIndex(ivfFull, victims,
        "doc_id")
      val lsh = Similarity.deleteFromAnnIndex(
        Similarity.lshIndex(vecs, "doc_id", "embedding", nPlanes = 2,
          persistIndex = false), victims, "doc_id")
      val pq = Similarity.deleteFromAnnIndex(
        Similarity.pqIndex(vecs, "doc_id", "embedding", m = 2,
          ksub = 2, persistIndex = false), victims, "doc_id")
      val ivfpq = Similarity.deleteFromAnnIndex(
        Similarity.ivfPqIndex(vecs, "doc_id", "embedding",
          nCentroids = 2, m = 2, ksub = 2, persistIndex = false),
        victims, "doc_id")
      // the documented ANN takedown protocol on the store: v0 is the
      // pre-delete publish, the delete lands as v1 — v0 is exactly
      // the straggling-reader exposure until retention GC
      val store = new IM.VersionedIndexStore(s"$root/store")
      IM.saveAnnIndex(ivfFull, store.versionDir(store.nextVersion()))
      store.publish(0L)
      IM.saveAnnIndex(ivf, store.versionDir(store.nextVersion()))
      store.publish(1L)
      // landing written batch-partitioned, then purged
      vecs.withColumn("batch_id", (col("doc_id") % 3).cast("long"))
        .write.partitionBy("batch_id").parquet(landing)
      assert(StreamingOps.purgeFromLanding(spark, landing, victims,
        "doc_id") === 2L)
      def audit(): Map[(String, Long), (Long, Long, Long, Boolean)] =
        Retrieval.takedownAuditAll(spark,
            ids.toDF("doc_id"), "doc_id",
            postingsPrefix = Some(prefix),
            ann = Seq(
              Retrieval.AnnAuditSurface("ivf", ivf, Some(store)),
              Retrieval.AnnAuditSurface("lsh", lsh),
              Retrieval.AnnAuditSurface("pq", pq),
              Retrieval.AnnAuditSurface("ivfpq", ivfpq)),
            landingDir = Some(landing))
          .as[(String, Long, Long, Long, Long, Boolean)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
      val a1 = audit()
      // victims: serving 0 on EVERY surface
      for (s <- Seq("postings", "ivf", "lsh", "pq", "ivfpq", "landing");
           v <- Seq(0L, 7L))
        assert(a1((s, v))._1 === 0L, s"victim $v must not serve on $s")
      // postings: silenced-not-erased (physical > 0, tombstoned) for
      // victims; a live doc serves
      assert(a1(("postings", 0L))._2 > 0L && a1(("postings", 0L))._4)
      assert(a1(("postings", 1L)) === ((1L, a1(("postings", 1L))._2,
        0L, false)) && a1(("postings", 1L))._2 > 0L)
      // ivf store: CURRENT (v1) no longer holds victims, but the
      // RETAINED v0 still does — the number retention GC must erase
      assert(a1(("ivf", 0L)) === ((0L, 0L, 1L, false)))
      assert(a1(("ivf", 1L)) === ((1L, 1L, 1L, false)))
      // storeless families report live == physical, no retained
      for (s <- Seq("lsh", "pq", "ivfpq")) {
        assert(a1((s, 0L)) === ((0L, 0L, 0L, false)))
        assert(a1((s, 1L)) === ((1L, 1L, 0L, false)))
      }
      // landing: victims' bytes gone, survivors intact
      assert(a1(("landing", 0L)) === ((0L, 0L, 0L, false)))
      assert(a1(("landing", 1L)) === ((1L, 1L, 0L, false)))
      // retention GC (keep only CURRENT) erases the straggler window
      assert(store.retainVersions(0) === Seq(0L))
      val a2 = audit()
      assert(a2(("ivf", 0L)) === ((0L, 0L, 0L, false)),
        "after GC no retained version may hold the victim")
      assert(a2(("ivf", 1L)) === ((1L, 1L, 0L, false)))
      // postings compaction applies the tombstones: fully erased
      assert(Retrieval.maintainPostingsIndexTable(spark, prefix, 2))
      val a3 = audit()
      assert(a3(("postings", 0L)) === ((0L, 0L, 0L, false)),
        "post-compaction the victim must read fully erased")
      assert(a3(("postings", 1L))._1 === 1L)
    } finally Retrieval.indexTableNames(prefix)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
