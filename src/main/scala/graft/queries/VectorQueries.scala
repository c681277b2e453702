package graft.queries

import graft.{QueryFn, Tables, rnd}
import graft.operators.{Dedup, Pca, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search surface over `embeddings` (ArrayType(FloatType)):
  * exact brute-force cosine top-k (oracle-checked), kNN label vote
  * (oracle-checked), embedding-cosine near-dup (oracle-checked, bounded
  * candidates), and the LSH-bucketed ANN scale path (rows-only check —
  * the bucketing hash is not oracle-expressible).
  *
  * The oracle SQL computes the identical double-precision kernel by
  * indexing list elements with generate_series, so both engines widen
  * float32 -> float64 exactly and round to 4 decimals.
  */
object VectorQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  private val nQueries = 20

  /** Drop BOTH the catalog entries and the warehouse locations
    * ([[graft.sources.BucketedTables.dropTableAndDir]] — the shared
    * cross-JVM staging-cleanup helper). */
  private def dropTables(s: SparkSession, names: Seq[String]): Unit =
    // independent catalog+fs drops — overlapped (guide §2.6)
    graft.operators.Concurrent.inParallel(names.map(t =>
      () => graft.sources.BucketedTables.dropTableAndDir(s, t)))

  /** The 16 smallest non-null vec_ids' vectors — the explicit
    * quantizer both IVF tenses and the PQ codebook derive from (ONE
    * definition, so the staged query can share the in-memory query's
    * oracle verbatim). */
  private def explicitCents(s: SparkSession, emb: DataFrame)
  : Seq[(Long, Seq[Double])] = {
    import s.implicits._
    emb.filter(col("embedding").isNotNull)
      .orderBy("vec_id").limit(16)
      .select(col("vec_id").cast("long"),
        Similarity.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().toSeq
  }

  /** The 4 smallest non-null vec_ids' vectors as explicit LSH
    * hyperplanes — a prefix of [[explicitCents]]' table, so the
    * id-picked-subset convention has ONE definition across every
    * explicit-quantizer oracle. */
  private def explicitPlanes(s: SparkSession, emb: DataFrame)
  : Seq[Seq[Double]] =
    explicitCents(s, emb).take(4).map(_._2)

  /** Driver-side recompute of the quantizer contracts the parity
    * verdicts check (the q_pca_project pattern): plain Scala over
    * collected sample rows, sharing no code with Similarity's
    * broadcast scans, so a transport fault cannot cancel itself out.
    * Vectors are null-preserving (a null element is `null`); doubles
    * compare in Spark SQL order (NaN largest). */
  private object Recompute {
    type Vec = IndexedSeq[java.lang.Double]

    def vec(xs: scala.collection.Seq[Any]): Vec =
      xs.map(x => if (x == null) null
        else java.lang.Double.valueOf(x.asInstanceOf[Number].doubleValue()))
        .toIndexedSeq

    private def gt(a: Double, b: Double): Boolean =
      if (a.isNaN) !b.isNaN else !b.isNaN && a > b

    /** `a` sorts strictly before `b` under ORDER BY x DESC (NULLS
      * LAST, NaN largest) */
    def before(a: Option[Double], b: Option[Double]): Boolean =
      (a, b) match {
        case (Some(x), Some(y)) => gt(x, y)
        case (Some(_), None)    => true
        case _                  => false
      }

    /** index-order dot; None on a dim mismatch or a null element */
    def dot(a: Vec, b: Seq[Double]): Option[Double] =
      if (a.length != b.length || a.contains(null)) None
      else Some(a.indices.foldLeft(0.0d)((s, i) => s + a(i) * b(i)))

    private def norm(c: Seq[Double]) =
      math.sqrt(c.foldLeft(0.0d)((s, x) => s + x * x))

    /** top-`n` centroid ids by (dot/‖c‖ desc, id asc); a zero-norm
      * centroid scores 0.0, an unscoreable one is skipped */
    def ranks(v: Vec, cents: Seq[(Long, Seq[Double])], n: Int): Seq[Long] = {
      val scored = cents.flatMap { case (id, c) =>
        val nc = norm(c)
        (if (nc == 0.0d) Some(0.0d) else dot(v, c).map(_ / nc))
          .map(s => (id, s))
      }
      scored.sortWith { case ((ia, a), (ib, b)) =>
        gt(a, b) || (!gt(b, a) && ia < ib) }.take(n).map(_._1)
    }

    /** cosine with safeCosDiv's zero-denominator 0.0; None = NULL */
    def cosine(a: Vec, b: Vec): Option[Double] =
      if (a.contains(null) || b.contains(null)) None
      else {
        val bd = b.map(_.doubleValue)
        val d = norm(a.map(_.doubleValue)) * norm(bd)
        if (d == 0.0d) Some(0.0d) else dot(a, bd).map(_ / d)
      }

    /** first-minimum index by index-order d2, or -1 */
    def argminD2(v: Vec, cents: Seq[Seq[Double]]): Int = {
      var best = -1
      var bestD = Double.MaxValue
      cents.indices.foreach { i =>
        val c = cents(i)
        if (c.length == v.length && !v.contains(null)) {
          val d = c.indices.foldLeft(0.0d) { (s, j) =>
            val x = v(j) - c(j); s + x * x }
          if (d < bestD) { bestD = d; best = i }
        }
      }
      best
    }

    /** PQ codes: per subspace, argminD2 over its codewords; a short
      * slice or a null element encodes -1 */
    def codes(v: Vec, book: Array[Array[Seq[Double]]]): Seq[Int] =
      book.indices.map { s =>
        val sub = book(s)(0).length
        if (s * sub + sub > v.length) -1
        else argminD2(v.slice(s * sub, s * sub + sub), book(s).toSeq)
      }
  }

  val queries: Map[String, QueryFn] = Map(

    "q_sim_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_knn_label" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.knnLabel(q, emb, "vec_id", "embedding", "label", 5)
        .select(col("q_id"), col("pred_label").cast("long").as("pred_label"))
        .orderBy("q_id")
    }),

    "q_mine_hard_negatives" -> ((s, d) => {
      // Contrastive-training data prep: for each anchor, the 5 most
      // cosine-similar vectors with a DIFFERENT label — the negatives
      // that sit closest to the decision boundary. Exact (oracle
      // twin); corpus-wide mining rides any staged ANN index with a
      // group-filtered overfetch.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.hardNegatives(q, emb, "vec_id", "embedding", "label", 5)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_embed_rproject" -> ((s, d) => {
      // JL random projection 64 -> 16 dims with the deterministic
      // md5-coin ±1 matrix: micro-quantized inputs make every
      // component an exact BIGINT. Emitted one row per component
      // (the harness compare is scalar-column), so the oracle checks
      // EVERY projected value, not a summary. The shrink feeds ANN
      // (see the rproject recall row in q_sim_ann_recall for the
      // measured ranking cost of 4x fewer dims).
      Similarity.randomProject(t(s, d, "embeddings"), "vec_id",
          "embedding", dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "yj")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("yj"))
        .orderBy("vec_id", "j")
    }),

    "q_pca_moments" -> ((s, d) => {
      // The distributed half of PCA: exact micro-unit covariance
      // moments, one row per dimension pair. Every value is an exact
      // integer (BIGINT-safe at driver scales per the §7.4 rule —
      // the operator itself carries DECIMAL(38,0)), so the fitted
      // basis downstream is a pure function of the data.
      Pca.covMoments(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("i"), col("j"), col("n"),
          col("s_i").cast("long").as("s_i"),
          col("s_j").cast("long").as("s_j"),
          col("s_ij").cast("long").as("s_ij"),
          col("cov_num").cast("long").as("cov_num"))
        .orderBy("i", "j")
    }),

    "q_pca_project" -> ((s, d) => {
      // Round 14: ORACLE-CHECKED verdict row (was rows-only). The
      // eigensolve isn't oracle-expressible (PcaSpec pins planted-axis
      // recovery / orthonormality / partitioning invariance, and the
      // exact-moment INPUT is oracle-checked via q_pca_moments), but
      // the PROJECTION's contracts are (the q_sim_ann_xl_parity
      // shape):
      //  - transport parity on a deterministic id-spread sample: the
      //    Catalyst zip_with/aggregate literal-matrix fold vs a
      //    driver JVM recompute in the same index order — exact
      //    double equality, bit for bit (catches codegen/literal
      //    serialization divergence, the xl_parity failure class);
      //  - row parity: every non-null vector projects exactly once,
      //    always to k components.
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val model = Pca.fit(emb, "vec_id", "embedding", dim = 64, k = 4)
      val proj = Pca.project(emb, "embedding", model)
        .select(col("vec_id").cast("long").as("id"), col("proj"))
      val nIn = emb.filter(col("embedding").isNotNull).count()
      val nOut = proj.count()
      val nBadLen = proj.filter(size(col("proj")) =!= 4).count()
      val samStep = math.max(1L, nIn / 512L)
      val sample = proj
        .join(emb.select(col("vec_id").cast("long").as("id"),
          col("embedding")), "id")
        .filter(pmod(col("id"), lit(samStep)) === 0)
        .select(col("id"), col("proj"), col("embedding"))
        .as[(Long, Seq[Double], Seq[Float])].collect()
      // the JVM twin of Pca.project: micro-quantize in doubles, fold
      // component·x in index order, subtract the mean offset — the
      // exact arithmetic the Catalyst fold runs
      val offsets = model.components.map(vv =>
        vv.indices.map(i => vv(i) * model.mean(i)).sum)
      var nProjDiff = 0L
      sample.foreach { case (_, p, x) =>
        val xq = x.map(f =>
          math.floor(f.toDouble * 1000000.0d + 0.5d))
        val want = model.components.zipWithIndex.map { case (vv, c) =>
          var acc = 0.0d
          var i = 0
          while (i < vv.length) { acc += vv(i) * xq(i); i += 1 }
          acc - offsets(c)
        }
        if (p.length != want.length ||
            p.zip(want).exists { case (a, b) => a != b })
          nProjDiff += 1
      }
      Seq((if (nIn > 0 && sample.nonEmpty) 1L else 0L,
          nIn - nOut, nBadLen, nProjDiff))
        .toDF("checked_nonzero", "n_missing_rows", "n_bad_len",
          "n_transport_diff")
    }),

    "q_dedup_embedding" -> ((s, d) => {
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, maxIdGap = 50L)
        .orderBy("id_a", "id_b")
    }),

    "q_sim_ann_lsh" -> ((s, d) => {
      // Round 15: ORACLE-CHECKED (was rows-only). The hyperplanes are
      // an explicit id-picked corpus subset (the 4 smallest non-null
      // vec_ids — lshIndexWithPlanes, the ivfIndexWithCentroids
      // stance), so the ENTIRE probe is DuckDB-expressible: bucket =
      // the 4 sign bits of dot(v, plane_p), same-bucket candidates
      // (self excluded), exact cosine top-3 (ties → c_id asc). The
      // skew census is disabled for this tense (cap = Int.MaxValue):
      // the census's build-subset-dependent drop set is the one part
      // a census-free oracle can't express; the cap stays spec-covered
      // on the pseudo-random build (SimilaritySpec).
      val emb = t(s, d, "embeddings")
      val ix = Similarity.lshIndexWithPlanes(emb, "vec_id",
        "embedding", explicitPlanes(s, emb),
        bucketCap = Int.MaxValue, persistIndex = false)
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.lshTopKWith(ix, q, "vec_id", "embedding", 3)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_ann_lsh_staged" -> ((s, d) => {
      // The TABLE tense of q_sim_ann_lsh, hash-matched against the
      // SAME SQL (one probe definition for all tenses — the
      // q_sim_ann_ivf_staged stance): create the (batch_id, bucket)-
      // partitioned, c_id-bucketed tables over 90% of the corpus
      // under the explicit frozen planes, gated-append the
      // vec_id % 10 == 9 remainder (append == rebuild THROUGH the
      // oracle), probe through loadLshIndexTable — the serving layout
      // whose probe dynamically prunes to its own bucket directory
      // (ScaleSpec pins the dynamicpruningexpression).
      val emb = t(s, d, "embeddings")
      val planes = explicitPlanes(s, emb)
      val prefix = "graft_lsh_serving"
      dropTables(s, Similarity.lshIndexTableNames(prefix))
      Similarity.createLshIndexTable(
        Similarity.lshIndexWithPlanes(
          emb.filter(col("vec_id") % 10 =!= 9), "vec_id", "embedding",
          planes, bucketCap = Int.MaxValue, persistIndex = false),
        prefix, buckets = 8)
      Similarity.appendToLshIndexTable(
        emb.filter(col("vec_id") % 10 === 9), "vec_id", "embedding",
        prefix, buckets = 8, batchId = Some(0L))
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.lshTopKWith(
          Similarity.loadLshIndexTable(s, prefix),
          q, "vec_id", "embedding", 3)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_ann_ivf" -> ((s, d) => {
      // Round 14: ORACLE-CHECKED (was rows-only). The quantizer is an
      // explicit id-picked centroid table (the 16 smallest non-null
      // vec_ids — the externally-trained-quantizer deployment shape,
      // ivfIndexWithCentroids), so the ENTIRE probe is
      // DuckDB-expressible: assignment argmax over dot/‖cent‖, probe
      // ranking by full cosine (ties → cent_id asc), exact cosine
      // rerank inside the nProbe=4 probed lists. Hash-exact at 4dp —
      // the hash-sampled-quantizer build stays covered by
      // q_sim_ann_recall/q_sim_ann_xl_parity and the specs.
      val emb = t(s, d, "embeddings")
      val ix = Similarity.ivfIndexWithCentroids(emb, "vec_id",
        "embedding", explicitCents(s, emb), persistIndex = false)
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.ivfTopKWith(ix, q, "vec_id", "embedding", 3,
          nProbe = 4)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_ann_ivf_staged" -> ((s, d) => {
      // The TABLE tense of q_sim_ann_ivf, hash-matched against the
      // SAME SQL (one probe definition for all tenses — the
      // q_text_bm25_staged stance): create the (batch_id, cent_id)-
      // partitioned, c_id-bucketed tables over 90% of the corpus
      // under the explicit frozen quantizer, gated-append the
      // vec_id % 10 == 9 remainder (append == rebuild THROUGH the
      // oracle), probe through loadIvfIndexTable. This is the serving
      // path the semantic door / hybrid funnel run against at 100 TB:
      // probes prune to their own cent_id directories, the tombstone
      // anti-join keys on the c_id bucketing.
      val emb = t(s, d, "embeddings")
      val cents = explicitCents(s, emb)
      val prefix = "graft_ivf_serving"
      dropTables(s, Similarity.ivfIndexTableNames(prefix))
      Similarity.createIvfIndexTable(
        Similarity.ivfIndexWithCentroids(
          emb.filter(col("vec_id") % 10 =!= 9), "vec_id", "embedding",
          cents, persistIndex = false),
        prefix, buckets = 8)
      Similarity.appendToIvfIndexTable(
        emb.filter(col("vec_id") % 10 === 9), "vec_id", "embedding",
        prefix, buckets = 8, batchId = Some(0L))
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.ivfTopKWith(
          Similarity.loadIvfIndexTable(s, prefix),
          q, "vec_id", "embedding", 3, nProbe = 4)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_ann_pq" -> ((s, d) => {
      // Round 14: ORACLE-CHECKED (was rows-only). Like q_sim_ann_ivf,
      // the quantizer is explicit: codebook(s)(c) = subspace s of the
      // (c+1)-th smallest non-null vec_id's vector (the
      // externally-trained-codebook deployment shape — FAISS trains
      // codebooks offline, the engine encodes/serves). The ENTIRE
      // two-stage probe is then DuckDB-expressible: per-subspace
      // L2-argmin codes (ties → smallest code), the per-query LUT,
      // ADC = Σ lut[s][code_s] / (‖q‖·‖c‖), rerank-deep shortlist by
      // (adc desc, c_id asc), exact cosine top-k. The 128 codewords
      // encode on the broadcast transport. The TRAINED-codebook
      // build stays covered by q_sim_ann_recall + xl_parity's encode
      // parity + SimilaritySpec.
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val base = emb.filter(col("embedding").isNotNull)
        .orderBy("vec_id").limit(16)
        .select(Similarity.toDouble(col("embedding")))
        .as[Seq[Double]].collect().toSeq
      val codebook: Array[Array[Seq[Double]]] =
        Array.tabulate(8)(sub =>
          base.map(v => v.slice(sub * 8, sub * 8 + 8)).toArray)
      val ix = Similarity.PqIndex(codebook,
        Similarity.pqEncode(emb, "vec_id", "embedding", codebook))
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.pqTopKWith(ix, q, emb, "vec_id", "embedding", 3)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_ann_ivfpq" -> ((s, d) => {
      // Round 14: ORACLE-CHECKED (was rows-only). The composed FAISS
      // IVFPQ layout under BOTH explicit quantizers — the coarse
      // centroid table AND the PQ codebook are the 16 smallest
      // non-null vectors (id-picked, the externally-trained
      // deployment shape) — so the full pipeline is
      // DuckDB-expressible: coarse argmax assignment, top-4 probe
      // lists per query by cosine, per-subspace L2-argmin codes, ADC
      // within the probed lists only, 32-deep shortlist, exact cosine
      // top-3. Raw codes (residual = false, the measured default).
      // The Lloyd-trained build stays covered by q_sim_ann_recall +
      // SimilaritySpec recall floors + ScaleSpec plan pins.
      val emb = t(s, d, "embeddings")
      val cents = explicitCents(s, emb)
      val codebook: Array[Array[Seq[Double]]] =
        Array.tabulate(8)(sub =>
          cents.map(_._2.slice(sub * 8, sub * 8 + 8)).toArray)
      val asg = Similarity.ivfIndexWithCentroids(emb, "vec_id",
          "embedding", cents, persistIndex = false)
        .assigned.select("c_id", "cent_id")
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding",
        codebook)
      val ix = Similarity.IvfPqIndex(cents, codebook,
        enc.join(asg, "c_id"), residual = false)
      val q = emb.filter(col("vec_id") < nQueries)
      Similarity.ivfPqTopKWith(ix, q, emb, "vec_id", "embedding", 3,
          nProbe = 4)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id"), rnd(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    "q_sim_ann_recall" -> ((s, d) => {
      // recall@k of all five ANN/dim-reduction paths vs the exact
      // brute-force twin on the SAME queries — the approximation
      // error as a first-class number. Round 16: ORACLE-CHECKED
      // verdict rows (was rows-only) — the recall VALUES are not
      // oracle-expressible (the index structures are the sketch), but
      // each method's recall is deterministic (pinned seeds, exact
      // integer hit counts) and must clear a per-method floor, so the
      // row folds to (method, checked_nonzero, below_floor) under a
      // constant 5-row oracle. Duplicate-pair emission by an ANN
      // producer cannot inflate the ratio: recallAtK dedups both
      // sides on (q_id, c_id) before the hit join, so hits <= n_exact
      // holds structurally. Floors are corpus-calibrated SMOKE floors on
      // the shipped unstructured embeddings — far below the >= 0.9
      // quality floors OperatorsSpec pins on clustered vectors, but
      // fatally above the ~k/N ≈ 0.005 a structurally broken probe
      // (e.g. hashing queries into a foreign bucket space, the
      // q_sim_ann_lsh r15 failure mode) would score. Measured recall
      // per SF: lsh .13/.15/1.0, ivf .45/.40/1.0, pq .70/.73/1.0,
      // ivfpq .60/.57/1.0, rproject .067/.067/1.0 at
      // sf0.001/sf0.01/derived-sf1.
      val floors = Seq(("lsh", 0.08), ("ivf", 0.25), ("pq", 0.5),
        ("ivfpq", 0.4), ("rproject", 0.03))
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < nQueries)
      val k = 3
      // the brute-force twin feeds both recall rows — persist its
      // (tiny, |queries|*k) result so the corpus-wide NLJ runs once,
      // not once per method (lifecycle: session clearCache, like the
      // other operators' narrow indexes)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // each ANN index (the expensive artifact) is built/persisted
      // ONCE via the staged entry points and feeds its top-k list;
      // the three recall aggregates union into one plan, so a single
      // action materializes everything (r4 action item #3). The four
      // builds' EAGER halves (centroid collects, the PQ/IVFPQ Lloyd
      // trains) are independent driver-launched job chains —
      // overlapped (guide §2.6); the probe frames stay lazy.
      var lshIx: Similarity.LshIndex = null
      var ivfIx: Similarity.IvfIndex = null
      var pqIx: Similarity.PqIndex = null
      var ivfpqIx: Similarity.IvfPqIndex = null
      graft.operators.Concurrent.inParallel(Seq(
        () => lshIx = Similarity.lshIndex(emb, "vec_id", "embedding",
          nPlanes = 4),
        () => ivfIx = Similarity.ivfIndex(emb, "vec_id", "embedding"),
        () => pqIx = Similarity.pqIndex(emb, "vec_id", "embedding"),
        () => ivfpqIx = Similarity.ivfPqIndex(emb, "vec_id",
          "embedding", trainCoarse = true)))
      val lsh = Similarity.lshTopKWith(lshIx,
        q, "vec_id", "embedding", k)
      val ivf = Similarity.ivfTopKWith(ivfIx,
        q, "vec_id", "embedding", k, nProbe = 4)
      val pq = Similarity.pqTopKWith(pqIx,
        q, emb, "vec_id", "embedding", k)
      val ivfpq = Similarity.ivfPqTopKWith(ivfpqIx,
        q, emb, "vec_id", "embedding", k, nProbe = 4)
      // the dim-reduction path measured on the same axis: brute force
      // in the 16-dim projected space vs the 64-dim exact twin — the
      // ranking cost of a 4x storage/compute shrink as a number
      val projected = Similarity.randomProject(emb, "vec_id",
        "embedding", dim = 64, outDim = 16).select("vec_id", "proj")
      val rp = Similarity.bruteForceTopK(
        projected.filter(col("vec_id") < nQueries), projected,
        "vec_id", "proj", k)
      import s.implicits._
      val rec = Similarity.recallAtK(exact, lsh, "lsh")
        .unionByName(Similarity.recallAtK(exact, ivf, "ivf"))
        .unionByName(Similarity.recallAtK(exact, pq, "pq"))
        .unionByName(Similarity.recallAtK(exact, ivfpq, "ivfpq"))
        .unionByName(Similarity.recallAtK(exact, rp, "rproject"))
      rec.join(broadcast(floors.toDF("method", "floor")), "method")
        .select(col("method"),
          (col("n_exact") > 0).cast("long").as("checked_nonzero"),
          (col("recall") < col("floor")).cast("long").as("below_floor"))
        .orderBy("method")
    }),

    "q_sim_ann_xl_parity" -> ((s, d) => {
      // Quantizer parity audit (round 10; re-pointed when the
      // plan-literal folds were retired): the broadcast assignment,
      // probe and PQ encode must agree EXACTLY with a driver-side
      // recompute over collected rows ([[Recompute]] — the
      // q_pca_project pattern), at √N sizing, and the two-level
      // hierarchy at full wProbe must agree with the flat transports.
      // One-row verdict with a CONSTANT oracle — the *_precision
      // audit shape: any divergence flips a diff counter, an empty
      // corpus OR an empty compare sample flips checked_nonzero, so
      // it cannot pass vacuously.
      import s.implicits._
      val emb = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      val n = emb.count()
      val k = Similarity.suggestedNCentroids(n)
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", k)
      val cands = emb.select(col("vec_id").cast("long").as("c_id"),
        Similarity.toDouble(col("embedding")).as("c_vec"))
      // the recomputes run on the driver, so they read a
      // deterministic id-spread sample (≤2048 rows — parity is
      // per-row, so the sample is coverage, not an estimate); full
      // corpus wherever n ≤ 2048
      val samStep = math.max(1L, n / 2048L)
      def inSample(c: String) = pmod(col(c).cast("long"), lit(samStep)) === 0
      val sample = cands.filter(inSample("c_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the non-vacuous guard must cover the SAMPLE, not just the
      // corpus: an id distribution that misses every residue-0 id
      // would zero the diffs with nothing compared
      val nSample = sample.count()
      // the index build's own assignment of the sample rows
      val exact = idx.assigned.filter(inSample("c_id"))
        .select(col("c_id"), col("c_vec"), col("cent_id").as("cent_bc"))
      val q = emb.filter(col("vec_id") < nQueries)
      val xl3 = Similarity.ivfTopKWith(idx, q, "vec_id", "embedding",
        3, nProbe = 4).select("q_id", "rank", "c_id")
      // two-level contract checkable at ANY corpus: full-probe
      // routing is EXACT (narrow-wProbe agreement is a corpus-shape
      // property — ~0.98 at wProbe=4 on sf0.01 but needing
      // wProbe ≈ 2/3·k1 on the structureless sf1 embeddings, the
      // measured curve in docs/SCALE.md — so it is data, not a gate)
      val tlq = Similarity.twoLevelQuantizer(idx.cents)
      val two = Similarity.ivfAssignTwoLevel(sample, tlq,
        wProbe = tlq.supers.size)
        .select(col("c_id"), col("cent_id").as("cent_tl"))
      // round 11: the hierarchical PROBE twin (the TwoLevelRankKernel
      // through ivfTopKHier) at full wProbe must return exactly the
      // flat probe's results
      val hier3 = Similarity.ivfTopKHier(idx, q, "vec_id", "embedding",
        3, tlq, nProbe = 4, wProbe = tlq.supers.size)
        .select("q_id", "rank", "c_id")
      // the five diff counters are INDEPENDENT read-only probes over
      // already-staged state (persisted sample + idx, or their own
      // cheap train) — overlapped from the driver (guide §2.6). The
      // two frames consumed by MORE THAN ONE thunk (`exact`, `xl3`)
      // are eagerly checkpointed first — the Concurrent
      // SHARED-LINEAGE CONTRACT wants LogicalRDDs for cross-thunk
      // sharing, and both are tiny (≤ sample / |q|·k rows).
      val shared = graft.operators.Concurrent.inParallel(Seq(
        () => exact.localCheckpoint(true),
        () => xl3.localCheckpoint(true)))
      val (exactC, xl3C) = (shared(0), shared(1))
      val diffs = graft.operators.Concurrent.inParallel[Long](Seq(
        () => exactC.collect().count { r =>
          val want = Recompute.ranks(Recompute.vec(r.getSeq[Any](1)),
            idx.cents, 1).headOption.getOrElse(-1L)
          r.getLong(2) != want
        }.toLong,
        () => {
          // the probe recomputed end to end: top-4 lists per query,
          // then exact cosine top-3 over their members
          val qs = q.select(col("vec_id").cast("long"),
              Similarity.toDouble(col("embedding")))
            .collect().map(r => (r.getLong(0), Recompute.vec(r.getSeq[Any](1))))
          val lists = qs.map { case (id, v) =>
            id -> Recompute.ranks(v, idx.cents, 4) }.toMap
          val members = idx.assigned
            .filter(col("cent_id").isin(lists.values.flatten.toSeq.distinct: _*))
            .select("c_id", "c_vec", "cent_id").collect()
            .map(r => (r.getLong(0), Recompute.vec(r.getSeq[Any](1)),
              r.getLong(2)))
          val want = qs.flatMap { case (qid, v) =>
            members.filter(m => m._1 != qid && lists(qid).contains(m._3))
              .map(m => (m._1, Recompute.cosine(v, m._2)))
              .sortWith { case ((ia, a), (ib, b)) =>
                Recompute.before(a, b) ||
                  (!Recompute.before(b, a) && ia < ib) }
              .take(3).zipWithIndex.map { case ((cid, _), i) =>
                (qid, i + 1, cid) }
          }.toSet
          val got = xl3C.as[(Long, Int, Long)].collect().toSet
          (got.diff(want).size + want.diff(got).size).toLong
        },
        () => exactC.join(two, "c_id")
          .filter(!(col("cent_bc") <=> col("cent_tl"))).count(),
        () => hier3.exceptAll(xl3C).count() +
          xl3C.exceptAll(hier3).count(),
        () => {
          // PQ encode at the DEFAULT m=8 × ksub=16 shape; transport
          // parity holds for ANY codebook, so train cheaply: 2 Lloyd
          // rounds on a 2048 sample, not the production 5/4096
          val book = Similarity.pqTrain(emb, "vec_id", "embedding",
            8, 16, 2, 2048)
          val sampleEmb = emb.filter(inSample("vec_id"))
          Similarity.pqEncode(sampleEmb, "vec_id", "embedding", book)
            .join(sampleEmb.select(col("vec_id").as("c_id"),
              Similarity.toDouble(col("embedding")).as("v")), "c_id")
            .select("codes", "c_norm", "v").collect().count { r =>
              val v = Recompute.vec(r.getSeq[Any](2))
              val norm = if (v.contains(null)) None
                else Some(math.sqrt(v.foldLeft(0.0d)((a, x) => a + x * x)))
              val gotNorm = if (r.isNullAt(1)) None else Some(r.getDouble(1))
              r.getSeq[Int](0) != Recompute.codes(v, book) ||
                gotNorm.map(java.lang.Double.doubleToLongBits) !=
                  norm.map(java.lang.Double.doubleToLongBits)
            }.toLong
        }))
      val Seq(assignDiff, probeDiff, tlDiff, hierDiff, pqDiff) = diffs
      // every compare above is eager, so nothing still needs the
      // caches — release them here rather than letting them pile up
      // across a 132-query sweep (the sweep-inflation failure mode
      // Bench.scala documents)
      sample.unpersist()
      idx.assigned.unpersist()
      Seq((if (n > 0 && nSample > 0) 1L else 0L,
          assignDiff, probeDiff, tlDiff, hierDiff, pqDiff))
        .toDF("checked_nonzero", "n_assign_diff", "n_probe_diff",
          "n_twolevel_fullprobe_diff", "n_hier_probe_diff",
          "n_pq_encode_diff")
    }),

    "q_embed_cluster" -> ((s, d) => {
      // Round 14: ORACLE-CHECKED verdict row (was a rows-only
      // per-cluster summary — that summary lives on in
      // q_embed_cluster_audit + KMeansSpec). The iterative clustering
      // itself isn't oracle-expressible, but its CONTRACTS are
      // exact-integer checkable (the q_sim_ann_xl_parity shape):
      //  - the result's assignment under the FINAL centroids agrees,
      //    per row, with a driver-side d2 argmin recompute over a
      //    deterministic id-spread sample ([[Recompute]], the
      //    q_pca_project pattern);
      //  - every non-null vector is assigned exactly once, none
      //    unplaced (cluster −1);
      //  - per-round inertia is monotone non-increasing within the
      //    documented micro-unit quantization slack.
      // checked_nonzero guards vacuity (empty corpus ⇒ 0 ⇒ mismatch).
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val res = Similarity.kmeansWithAudit(emb, "vec_id", "embedding",
        k = 8, maxIter = 5)
      val v = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("id"),
          Similarity.toDouble(col("embedding")).as("v"))
      val n = v.count()
      val samStep = math.max(1L, n / 2048L)
      val nDiff = res.assignments.filter(pmod(col("id"), lit(samStep)) === 0)
        .join(v, "id").select("cluster", "v").collect().count { r =>
          r.getLong(0) != Recompute.argminD2(
            Recompute.vec(r.getSeq[Any](1)), res.centroids).toLong
        }.toLong
      val nMissing = n - res.assignments.count()
      val nUnplaced =
        res.assignments.filter(col("cluster") === -1L).count()
      val dim =
        if (n == 0) 0
        else v.selectExpr("size(v)").first().getInt(0)
      val slack = n * dim * 2.5e-13 * 10 + 1e-12
      val j = res.audit.map(_.inertia)
      val monotone = j.zip(j.tail)
        .forall { case (a, b) => b <= a + slack }
      Seq((if (n > 0) 1L else 0L, nDiff, nMissing, nUnplaced,
          monotone))
        .toDF("checked_nonzero", "n_transport_diff", "n_missing_rows",
          "n_unplaced", "inertia_monotone")
    }),

    "q_embed_cluster_audit" -> ((s, d) => {
      // Convergence as a query result (the clustering twin of
      // q_sim_ann_recall). Round 16: ORACLE-CHECKED verdict row (was
      // the rows-only per-round (inertia, moved) listing) — the
      // iterative clustering is still not SQL-expressible, but every
      // contract Lloyd's guarantees about the audit trail is an
      // exact-arithmetic check under a constant oracle:
      //  - per-round inertia is monotone non-increasing within the
      //    documented micro-unit quantization slack (centroids snap
      //    to 1e-6 units; per-row d2 is DECIMAL(.,6)-rounded), the
      //    kmeansWithAudit scaladoc bound;
      //  - no round reports a negative centroid displacement;
      //  - the FINAL assignment's inertia (assignBroadcastD2's d2,
      //    summed — an independent code path from the RDD kernel
      //    that produced the audit numbers) does not
      //    exceed the last round's inertia plus slack: both Lloyd
      //    steps between those two measurements only lower it;
      //  - the loop terminated legitimately: converged (last moved
      //    <= tol) or ran the full maxIter rounds.
      // The raw per-round trail stays available via kmeansWithAudit;
      // q_embed_cluster holds the transport/completeness verdicts.
      import s.implicits._
      val emb = t(s, d, "embeddings")
      // the termination verdict below re-states these two — bind them
      // through shared vals so tuning the call cannot silently
      // desynchronize the check
      val kMaxIter = 5
      val kTol = 1e-6
      val res = Similarity.kmeansWithAudit(emb, "vec_id", "embedding",
        k = 8, maxIter = kMaxIter, tol = kTol)
      val v = emb.filter(col("embedding").isNotNull)
      val n = v.count()
      val dim =
        if (n == 0) 0
        else v.selectExpr("size(embedding)").first().getInt(0)
      // quantization slack: the q_embed_cluster monotonicity bound
      // plus the per-row DECIMAL(.,6) rounding term (n rows x 5e-7
      // each, doubled for the two sums being compared)
      val slack = n * dim * 2.5e-13 * 10 + n * 1e-6 + 1e-9
      val j = res.audit.map(_.inertia)
      val nBadRound = j.zip(j.tail)
        .count { case (a, b) => b > a + slack }.toLong
      val nMovedNeg = res.audit.count(_.moved < 0).toLong
      val finalJ = res.assignments
        .agg(coalesce(sum(col("d2")), lit(0.0d))).first().getDouble(0)
      val finalConsistent =
        res.audit.isEmpty || finalJ <= j.last + slack
      val terminated = res.audit.isEmpty ||
        res.audit.last.moved <= kTol || res.audit.size == kMaxIter
      Seq((if (n > 0 && res.audit.nonEmpty) 1L else 0L, nBadRound,
          nMovedNeg, finalConsistent, terminated))
        .toDF("checked_nonzero", "n_inertia_increase",
          "n_moved_negative", "final_inertia_consistent",
          "terminated_legitimately")
    }),

    "q_semdedup" -> ((s, d) => {
      // Cluster-then-dedup curation capstone. Round 15:
      // ORACLE-CHECKED (was rows-only) — the clusters come from an
      // explicit id-picked centroid table (the 8 smallest non-null
      // vec_ids — semDedupWithCentroids, the ivfIndexWithCentroids
      // stance), so the WHOLE pipeline is DuckDB-expressible:
      // L2-argmin assignment (ties → smallest cluster id),
      // within-cluster cosine pairs >= 0.99, transitive duplicate
      // groups via recursive-CTE reachability (min-id root, the
      // connectedComponents contract), per-cluster keep/drop counts.
      // The k-means tense stays covered by SemDedupSpec +
      // q_embed_cluster's verdict row.
      // clusterCap disabled for the oracle tense (the q_sim_ann_lsh
      // census stance): the cap's skip set depends on cluster sizes
      // the recursive-CTE twin does not model, and at 8 fixed
      // centroids a large-enough corpus WOULD trip the default cap
      // and silently diverge; the cap behavior stays spec-covered
      // (SemDedupSpec's clusterCap test).
      val emb = t(s, d, "embeddings")
      graft.operators.SemDedup
        .semDedupWithCentroids(emb, "vec_id", "embedding",
          explicitCents(s, emb).take(8).map(_._2), cosThreshold = 0.99,
          clusterCap = Long.MaxValue)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
        .orderBy("cluster")
    }),

    "q_embed_quantize" -> ((s, d) => {
      // Int8 storage quantization, summarized per vector (scalar
      // outputs keep the oracle hash exact while covering every code).
      val q = Similarity.quantizeInt8(
        Similarity.toDouble(col("embedding")))
      t(s, d, "embeddings").select(col("vec_id"), q.as("q"))
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          element_at(col("q"), 1).as("q_first"))
        .orderBy("vec_id")
    }),

    "q_ann_takedown_audit" -> ((s, d) => {
      // The ONE erasure report across every surface (round 14): build
      // all four dense index families + the postings tables + a
      // landed corpus over the SAME id space, take down vec_id % 7
      // == 0 on every surface through each family's own delete path
      // (plus delete → save → publish on a versioned IVF store, v0
      // full / v1 survivors, NO retention GC yet), then audit a mixed
      // request set. Counts are quantizer-independent (one id-keyed
      // row per indexed vector), so the report is exactly the
      // null/victim logic DuckDB can mirror: a victim reads serving 0
      // on EVERY surface; the store's retained v0 still holds it
      // (retained_rows 1) until retainVersions GC — the
      // straggling-reader exposure as a number; the postings surface
      // reads the takedownAudit triple. LSH census is disabled
      // (bucketCap = MaxValue) so census drops cannot enter the
      // oracle's row arithmetic; the census path is spec-covered.
      import graft.operators.{IndexMaintenance, Retrieval}
      val emb = t(s, d, "embeddings")
      val docs = t(s, d, "documents")
      // eagerly checkpointed: five parallel surface branches below
      // consume this frame — the Concurrent SHARED-LINEAGE CONTRACT
      // wants a LogicalRDD (and the checkpoint also stops five
      // concurrent re-scans of the filter; per-call state the
      // ContextCleaner reclaims, the deleteFromPostingsIndexTable
      // stance)
      val victims = emb.filter(col("vec_id") % 7 === 0)
        .select("vec_id")
        .localCheckpoint(true)
      val req = emb
        .filter(col("vec_id") % 7 === 0 || col("vec_id") % 50 === 0)
        .select("vec_id")
      val prefix = "graft_ann_audit_bm25"
      val fsRoot = new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"), "graft_ann_audit")
      val fs = fsRoot.getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(fsRoot, true)
      val storeRoot = new org.apache.hadoop.fs.Path(fsRoot, "store")
      val store = new IndexMaintenance.VersionedIndexStore(
        storeRoot.toString)
      val landing = new org.apache.hadoop.fs.Path(fsRoot, "landing")
        .toString
      // the five surfaces write DISJOINT state (postings tables, the
      // IVF store dirs, the landing dir; LSH/PQ/IVFPQ handles are
      // in-memory builds) — independent job chains, overlapped from
      // the driver (guide §2.6) instead of serializing five build
      // tails. Handles land in vars; inParallel joins before any read.
      var ivf: Similarity.IvfIndex = null
      var lsh: Similarity.LshIndex = null
      var pq: Similarity.PqIndex = null
      var ivfpq: Similarity.IvfPqIndex = null
      graft.operators.Concurrent.inParallel(Seq(
        () => { // lexical surface: postings tables + gated tombstone delete
          dropTables(s, Retrieval.indexTableNames(prefix))
          Retrieval.createPostingsIndexTable(docs, "doc_id",
            graft.operators.TextAnalysis.tokens(col("text")), prefix,
            buckets = 8)
          Retrieval.deleteFromPostingsIndexTable(s,
            docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
            "doc_id", prefix, buckets = 8, batchId = Some(0L))
          ()
        },
        () => { // IVF family + the versioned-store lifecycle: v0 full
          // published, then the takedown's delete → save → publish as
          // v1; v0 stays on disk (retained) until a retention GC
          val ivfFull = Similarity.ivfIndex(emb, "vec_id", "embedding",
            persistIndex = false)
          ivf = Similarity.deleteFromAnnIndex(ivfFull, victims,
            "vec_id")
          val v0 = store.nextVersion()
          IndexMaintenance.saveAnnIndex(ivfFull, store.versionDir(v0))
          store.publish(v0)
          val v1 = store.nextVersion()
          IndexMaintenance.saveAnnIndex(ivf, store.versionDir(v1))
          store.publish(v1)
        },
        () => lsh = Similarity.deleteFromAnnIndex(
          Similarity.lshIndex(emb, "vec_id", "embedding", nPlanes = 4,
            bucketCap = Int.MaxValue, persistIndex = false),
          victims, "vec_id"),
        () => pq = Similarity.deleteFromAnnIndex(
          Similarity.pqIndex(emb, "vec_id", "embedding",
            persistIndex = false), victims, "vec_id"),
        () => ivfpq = Similarity.deleteFromAnnIndex(
          Similarity.ivfPqIndex(emb, "vec_id", "embedding",
            persistIndex = false), victims, "vec_id"),
        () => { // the landing surface: batch_id-partitioned corpus, purged
          emb.withColumn("batch_id", (col("vec_id") % 5).cast("long"))
            .write.partitionBy("batch_id").mode("overwrite")
            .parquet(landing)
          graft.streaming.StreamingOps.purgeFromLanding(s, landing,
            victims, "vec_id")
        }))
      Retrieval.takedownAuditAll(s, req, "vec_id",
          postingsPrefix = Some(prefix),
          ann = Seq(
            Retrieval.AnnAuditSurface("ivf", ivf, Some(store)),
            Retrieval.AnnAuditSurface("lsh", lsh),
            Retrieval.AnnAuditSurface("pq", pq),
            Retrieval.AnnAuditSurface("ivfpq", ivfpq)),
          landingDir = Some(landing))
        .select(col("surface"), col("doc").as("vec_id"),
          col("serving_rows"), col("physical_rows"),
          col("retained_rows"), col("tombstoned"))
        .orderBy("surface", "vec_id")
    }),

    "q_embed_outliers" -> ((s, d) => {
      // Per-label centroid outliers (D4-style prune signal): the 10
      // farthest vectors from their own group's centroid, distances
      // in exact micro² integer units.
      graft.operators.EmbeddingStats
        .centroidOutliers(t(s, d, "embeddings"), "vec_id", "embedding",
          "label", k = 10)
        .select(col("grp").cast("long").as("label"), col("rank"),
          col("id").as("vec_id"), col("dist2_micro"))
        .orderBy("label", "rank")
    })
  )

  /** Shared DuckDB kernel: dot & norms via 1-indexed list access. */
  private def duckCosine(aTbl: String, bTbl: String,
                         aFilter: String, pairCond: String): String =
    s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
       |na AS (SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
       |         * CAST(embedding[i] AS DOUBLE))) AS nrm
       |       FROM embeddings, dims
       |       WHERE embedding IS NOT NULL GROUP BY vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot
       |  FROM $aTbl a JOIN $bTbl b ON $pairCond, dims
       |  WHERE ($aFilter)
       |    AND a.embedding IS NOT NULL AND b.embedding IS NOT NULL
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.q_id, p.c_id,
       |    CASE WHEN x.nrm * y.nrm = 0 THEN 0
       |         ELSE p.dot / (x.nrm * y.nrm) END AS cos
       |  FROM pairs p JOIN na x ON x.vec_id = p.q_id
       |               JOIN na y ON y.vec_id = p.c_id)""".stripMargin

  /** The explicit-quantizer IVF probe, recomputed end to end —
    * shared by q_sim_ann_ivf (in-memory tense) and
    * q_sim_ann_ivf_staged (TABLE tense): centroids = the 16 smallest
    * non-null vec_ids; assignment = argmax over dot(v, cent)/‖cent‖
    * (ties → smallest cent_id); probe = top-4 centroid lists per
    * query by full cosine; rerank = exact cosine inside the probed
    * lists, self excluded, top-3 by (cos desc, c_id asc), 4dp. */
  private val ivfExplicitOracleSql: String =
    s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16),
       |cn AS (
       |  SELECT c.cent_id, sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
       |    * CAST(c.embedding[i] AS DOUBLE))) AS nrm
       |  FROM cents c, dims GROUP BY 1),
       |vn AS (
       |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
       |    * CAST(embedding[i] AS DOUBLE))) AS nrm
       |  FROM embeddings, dims
       |  WHERE embedding IS NOT NULL GROUP BY 1),
       |vdot AS (
       |  SELECT e.vec_id, c.cent_id,
       |    sum(CAST(e.embedding[i] AS DOUBLE)
       |      * CAST(c.embedding[i] AS DOUBLE)) AS dot
       |  FROM embeddings e, cents c, dims
       |  WHERE e.embedding IS NOT NULL
       |  GROUP BY 1, 2),
       |assign AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT v.vec_id, v.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY (CASE WHEN n.nrm = 0 THEN 0
       |          ELSE v.dot / n.nrm END) DESC, v.cent_id ASC) AS rn
       |    FROM vdot v JOIN cn n ON n.cent_id = v.cent_id) a
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cent_id FROM (
       |    SELECT v.vec_id, v.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY (CASE WHEN qn.nrm * n.nrm = 0 THEN 0
       |          ELSE v.dot / (qn.nrm * n.nrm) END) DESC,
       |          v.cent_id ASC) AS rn
       |    FROM vdot v JOIN cn n ON n.cent_id = v.cent_id
       |                JOIN vn qn ON qn.vec_id = v.vec_id
       |    WHERE v.vec_id < $nQueries) p
       |  WHERE rn <= 4),
       |pairs AS (
       |  SELECT p.q_id, a.vec_id AS c_id,
       |    sum(CAST(qe.embedding[i] AS DOUBLE)
       |      * CAST(ce.embedding[i] AS DOUBLE)) AS dot
       |  FROM probes p
       |    JOIN assign a ON a.cent_id = p.cent_id
       |      AND a.vec_id <> p.q_id
       |    JOIN embeddings qe ON qe.vec_id = p.q_id
       |    JOIN embeddings ce ON ce.vec_id = a.vec_id, dims
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT s.q_id, s.c_id,
       |    CASE WHEN x.nrm * y.nrm = 0 THEN 0
       |         ELSE s.dot / (x.nrm * y.nrm) END AS cos
       |  FROM pairs s JOIN vn x ON x.vec_id = s.q_id
       |               JOIN vn y ON y.vec_id = s.c_id)
       |SELECT q_id, rank, c_id,
       |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT q_id, c_id, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id ASC) AS rank
       |  FROM scored) r
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** The explicit-planes LSH probe, recomputed end to end — shared
    * by q_sim_ann_lsh (in-memory tense) and q_sim_ann_lsh_staged
    * (TABLE tense): planes = the 4 smallest non-null vec_ids' vectors;
    * bucket = the 4 sign bits of dot(v, plane_p) packed as a long;
    * probe = exact cosine over same-bucket candidates, self excluded,
    * top-3 by (cos desc, c_id asc), 4dp. */
  private val lshExplicitOracleSql: String =
    s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
       |planes AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS p,
       |    embedding
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4)),
       |pdot AS (
       |  SELECT e.vec_id, pl.p,
       |    sum(CAST(e.embedding[i] AS DOUBLE)
       |      * CAST(pl.embedding[i] AS DOUBLE)) AS dot
       |  FROM embeddings e, planes pl, dims
       |  WHERE e.embedding IS NOT NULL
       |  GROUP BY 1, 2),
       |bkt AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p)
       |        ELSE CAST(0 AS BIGINT) END) AS bucket
       |  FROM pdot GROUP BY 1),
       |vn AS (
       |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
       |    * CAST(embedding[i] AS DOUBLE))) AS nrm
       |  FROM embeddings, dims
       |  WHERE embedding IS NOT NULL GROUP BY 1),
       |pairs AS (
       |  SELECT qb.vec_id AS q_id, cb.vec_id AS c_id,
       |    sum(CAST(qe.embedding[i] AS DOUBLE)
       |      * CAST(ce.embedding[i] AS DOUBLE)) AS dot
       |  FROM bkt qb
       |    JOIN bkt cb ON cb.bucket = qb.bucket
       |      AND cb.vec_id <> qb.vec_id
       |    JOIN embeddings qe ON qe.vec_id = qb.vec_id
       |    JOIN embeddings ce ON ce.vec_id = cb.vec_id, dims
       |  WHERE qb.vec_id < $nQueries
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.q_id, p.c_id,
       |    CASE WHEN x.nrm * y.nrm = 0 THEN 0
       |         ELSE p.dot / (x.nrm * y.nrm) END AS cos
       |  FROM pairs p JOIN vn x ON x.vec_id = p.q_id
       |               JOIN vn y ON y.vec_id = p.c_id)
       |SELECT q_id, rank, c_id,
       |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT q_id, c_id, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id ASC) AS rank
       |  FROM scored) r
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(

    // the explicit-planes LSH probe (round 15 — was rows-only); the
    // staged-TABLES tense is result-identical through create + gated
    // append, so it shares the same SQL
    "q_sim_ann_lsh" -> lshExplicitOracleSql,
    "q_sim_ann_lsh_staged" -> lshExplicitOracleSql,

    // the explicit-centroid semantic dedup, recomputed end to end
    // (round 15 — was rows-only): centroids = the 8 smallest non-null
    // vec_ids; assignment = L2 argmin (ties → smallest cluster id);
    // duplicates = within-cluster pairs at cosine >= 0.99; transitive
    // groups via recursive reachability over the duplicate edges
    // (root = the group's min id, the connectedComponents contract);
    // verdict = per-cluster member/dropped counts
    "q_semdedup" ->
      """WITH RECURSIVE dims AS (
        |  SELECT unnest(generate_series(1, 64)) AS i),
        |cents AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
        |    embedding
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
        |d2 AS (
        |  SELECT e.vec_id, c.cluster,
        |    sum((CAST(e.embedding[i] AS DOUBLE)
        |           - CAST(c.embedding[i] AS DOUBLE))
        |      * (CAST(e.embedding[i] AS DOUBLE)
        |           - CAST(c.embedding[i] AS DOUBLE))) AS d2
        |  FROM embeddings e, cents c, dims
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY 1, 2),
        |assign AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY d2 ASC, cluster ASC) AS rn
        |    FROM d2) a
        |  WHERE rn = 1),
        |vn AS (
        |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
        |    * CAST(embedding[i] AS DOUBLE))) AS nrm
        |  FROM embeddings, dims
        |  WHERE embedding IS NOT NULL GROUP BY 1),
        |pdot AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    sum(CAST(ea.embedding[i] AS DOUBLE)
        |      * CAST(eb.embedding[i] AS DOUBLE)) AS dot
        |  FROM assign a
        |    JOIN assign b ON b.cluster = a.cluster
        |      AND a.vec_id < b.vec_id
        |    JOIN embeddings ea ON ea.vec_id = a.vec_id
        |    JOIN embeddings eb ON eb.vec_id = b.vec_id, dims
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT p.id_a, p.id_b FROM pdot p
        |    JOIN vn x ON x.vec_id = p.id_a
        |    JOIN vn y ON y.vec_id = p.id_b
        |  WHERE (CASE WHEN x.nrm * y.nrm = 0 THEN 0
        |         ELSE p.dot / (x.nrm * y.nrm) END) >= 0.99),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM dup
        |  UNION ALL SELECT id_b, id_a FROM dup),
        |reach(node, r) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.node, e.b
        |  FROM reach JOIN edges e ON e.a = reach.r),
        |roots AS (
        |  SELECT node, min(r) AS mr FROM reach GROUP BY node)
        |SELECT a.cluster, count(*) AS n_vecs,
        |  CAST(coalesce(sum(CASE WHEN r.mr < a.vec_id
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped
        |FROM assign a LEFT JOIN roots r ON r.node = a.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // constant verdict row, the *_precision audit shape: the index
    // structures are not oracle-enumerable, but the cross-transport
    // parity contract is still hash-checkable
    "q_sim_ann_xl_parity" ->
      ("SELECT CAST(1 AS BIGINT) AS checked_nonzero, " +
        "CAST(0 AS BIGINT) AS n_assign_diff, " +
        "CAST(0 AS BIGINT) AS n_probe_diff, " +
        "CAST(0 AS BIGINT) AS n_twolevel_fullprobe_diff, " +
        "CAST(0 AS BIGINT) AS n_hier_probe_diff, " +
        "CAST(0 AS BIGINT) AS n_pq_encode_diff"),

    // verdict rows (round 14): exact-integer contract counters over
    // iterative/trained state, constant oracles — the xl_parity shape
    "q_embed_cluster" ->
      ("SELECT CAST(1 AS BIGINT) AS checked_nonzero, " +
        "CAST(0 AS BIGINT) AS n_transport_diff, " +
        "CAST(0 AS BIGINT) AS n_missing_rows, " +
        "CAST(0 AS BIGINT) AS n_unplaced, " +
        "TRUE AS inertia_monotone"),

    // round 16 verdict conversions (were rows-only):
    // Lloyd audit-trail contracts — monotone inertia within the
    // quantization slack, non-negative displacement, cross-transport
    // final-inertia consistency, legitimate termination
    "q_embed_cluster_audit" ->
      ("SELECT CAST(1 AS BIGINT) AS checked_nonzero, " +
        "CAST(0 AS BIGINT) AS n_inertia_increase, " +
        "CAST(0 AS BIGINT) AS n_moved_negative, " +
        "TRUE AS final_inertia_consistent, " +
        "TRUE AS terminated_legitimately"),
    // per-method recall floors vs the exact brute-force twin (floors
    // documented at the query; below_floor also catches hit counts
    // exceeding the exact denominator)
    "q_sim_ann_recall" ->
      ("SELECT method, CAST(1 AS BIGINT) AS checked_nonzero, " +
        "CAST(0 AS BIGINT) AS below_floor " +
        "FROM (VALUES ('ivf'), ('ivfpq'), ('lsh'), ('pq'), " +
        "('rproject')) t(method) ORDER BY method"),

    "q_pca_project" ->
      ("SELECT CAST(1 AS BIGINT) AS checked_nonzero, " +
        "CAST(0 AS BIGINT) AS n_missing_rows, " +
        "CAST(0 AS BIGINT) AS n_bad_len, " +
        "CAST(0 AS BIGINT) AS n_transport_diff"),

    // the explicit-codebook PQ probe, recomputed end to end:
    // codebook(s)(c) = subspace s of the (c+1)-th smallest non-null
    // vec_id's vector; codes = per-subspace L2 argmin (ties → smallest
    // code); ADC = Σ_s lut[s][code_s] / (‖q‖·‖c‖) over non-self pairs;
    // 32-deep shortlist by (adc desc, c_id asc); exact cosine top-3
    "q_sim_ann_pq" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |subs AS (SELECT unnest(generate_series(0, 7)) AS s),
         |js AS (SELECT unnest(generate_series(1, 8)) AS j),
         |base AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         |cw AS (
         |  SELECT s.s, b.code, j.j,
         |    CAST(b.embedding[s.s * 8 + j.j] AS DOUBLE) AS w
         |  FROM base b, subs s, js j),
         |vn AS (
         |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
         |    * CAST(embedding[i] AS DOUBLE))) AS nrm
         |  FROM embeddings, dims
         |  WHERE embedding IS NOT NULL GROUP BY 1),
         |codes AS (
         |  SELECT vec_id, s, code FROM (
         |    SELECT d.vec_id, d.s, d.code,
         |      row_number() OVER (PARTITION BY d.vec_id, d.s
         |        ORDER BY d.d2 ASC, d.code ASC) AS rn
         |    FROM (
         |      SELECT e.vec_id, c.s, c.code,
         |        sum((CAST(e.embedding[c.s * 8 + c.j] AS DOUBLE) - c.w)
         |          * (CAST(e.embedding[c.s * 8 + c.j] AS DOUBLE) - c.w))
         |          AS d2
         |      FROM embeddings e, cw c
         |      WHERE e.embedding IS NOT NULL
         |      GROUP BY 1, 2, 3) d) r
         |  WHERE rn = 1),
         |lut AS (
         |  SELECT e.vec_id AS q_id, c.s, c.code,
         |    sum(CAST(e.embedding[c.s * 8 + c.j] AS DOUBLE) * c.w)
         |      AS dotv
         |  FROM embeddings e, cw c
         |  WHERE e.vec_id < $nQueries AND e.embedding IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |adc AS (
         |  SELECT l.q_id, k.vec_id AS c_id, sum(l.dotv) AS num
         |  FROM codes k
         |    JOIN lut l ON l.s = k.s AND l.code = k.code
         |      AND l.q_id <> k.vec_id
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT a.q_id, a.c_id,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY a.num / (qn.nrm * cn.nrm) DESC, a.c_id ASC)
         |        AS rn
         |    FROM adc a JOIN vn qn ON qn.vec_id = a.q_id
         |               JOIN vn cn ON cn.vec_id = a.c_id) r
         |  WHERE rn <= 32),
         |pairs AS (
         |  SELECT t.q_id, t.c_id,
         |    sum(CAST(qe.embedding[i] AS DOUBLE)
         |      * CAST(ce.embedding[i] AS DOUBLE)) AS dot
         |  FROM short t
         |    JOIN embeddings qe ON qe.vec_id = t.q_id
         |    JOIN embeddings ce ON ce.vec_id = t.c_id, dims
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.q_id, p.c_id,
         |    CASE WHEN x.nrm * y.nrm = 0 THEN 0
         |         ELSE p.dot / (x.nrm * y.nrm) END AS cos
         |  FROM pairs p JOIN vn x ON x.vec_id = p.q_id
         |               JOIN vn y ON y.vec_id = p.c_id)
         |SELECT q_id, rank, c_id,
         |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, c_id ASC) AS rank
         |  FROM scored) r
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // the composed IVFPQ probe under BOTH explicit quantizers: the
    // IVF oracle's assignment/probes + the PQ oracle's codes/lut,
    // ADC confined to each query's 4 probed lists, 32-deep
    // shortlist, exact cosine top-3
    "q_sim_ann_ivfpq" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |subs AS (SELECT unnest(generate_series(0, 7)) AS s),
         |js AS (SELECT unnest(generate_series(1, 8)) AS j),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16),
         |base AS (
         |  SELECT row_number() OVER (ORDER BY cent_id) - 1 AS code,
         |    embedding
         |  FROM cents),
         |cw AS (
         |  SELECT s.s, b.code, j.j,
         |    CAST(b.embedding[s.s * 8 + j.j] AS DOUBLE) AS w
         |  FROM base b, subs s, js j),
         |cn AS (
         |  SELECT c.cent_id, sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
         |    * CAST(c.embedding[i] AS DOUBLE))) AS nrm
         |  FROM cents c, dims GROUP BY 1),
         |vn AS (
         |  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE)
         |    * CAST(embedding[i] AS DOUBLE))) AS nrm
         |  FROM embeddings, dims
         |  WHERE embedding IS NOT NULL GROUP BY 1),
         |vdot AS (
         |  SELECT e.vec_id, c.cent_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE)
         |      * CAST(c.embedding[i] AS DOUBLE)) AS dot
         |  FROM embeddings e, cents c, dims
         |  WHERE e.embedding IS NOT NULL
         |  GROUP BY 1, 2),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, v.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY (CASE WHEN n.nrm = 0 THEN 0
         |          ELSE v.dot / n.nrm END) DESC, v.cent_id ASC) AS rn
         |    FROM vdot v JOIN cn n ON n.cent_id = v.cent_id) a
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id FROM (
         |    SELECT v.vec_id, v.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY (CASE WHEN qn.nrm * n.nrm = 0 THEN 0
         |          ELSE v.dot / (qn.nrm * n.nrm) END) DESC,
         |          v.cent_id ASC) AS rn
         |    FROM vdot v JOIN cn n ON n.cent_id = v.cent_id
         |                JOIN vn qn ON qn.vec_id = v.vec_id
         |    WHERE v.vec_id < $nQueries) p
         |  WHERE rn <= 4),
         |codes AS (
         |  SELECT vec_id, s, code FROM (
         |    SELECT d.vec_id, d.s, d.code,
         |      row_number() OVER (PARTITION BY d.vec_id, d.s
         |        ORDER BY d.d2 ASC, d.code ASC) AS rn
         |    FROM (
         |      SELECT e.vec_id, c.s, c.code,
         |        sum((CAST(e.embedding[c.s * 8 + c.j] AS DOUBLE) - c.w)
         |          * (CAST(e.embedding[c.s * 8 + c.j] AS DOUBLE) - c.w))
         |          AS d2
         |      FROM embeddings e, cw c
         |      WHERE e.embedding IS NOT NULL
         |      GROUP BY 1, 2, 3) d) r
         |  WHERE rn = 1),
         |lut AS (
         |  SELECT e.vec_id AS q_id, c.s, c.code,
         |    sum(CAST(e.embedding[c.s * 8 + c.j] AS DOUBLE) * c.w)
         |      AS dotv
         |  FROM embeddings e, cw c
         |  WHERE e.vec_id < $nQueries AND e.embedding IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT p.q_id, a.vec_id AS c_id
         |  FROM probes p
         |    JOIN assign a ON a.cent_id = p.cent_id
         |      AND a.vec_id <> p.q_id),
         |adc AS (
         |  SELECT x.q_id, x.c_id, sum(l.dotv) AS num
         |  FROM cand x
         |    JOIN codes k ON k.vec_id = x.c_id
         |    JOIN lut l ON l.q_id = x.q_id AND l.s = k.s
         |      AND l.code = k.code
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT a.q_id, a.c_id,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY a.num / (qn.nrm * cnn.nrm) DESC, a.c_id ASC)
         |        AS rn
         |    FROM adc a JOIN vn qn ON qn.vec_id = a.q_id
         |               JOIN vn cnn ON cnn.vec_id = a.c_id) r
         |  WHERE rn <= 32),
         |pairs AS (
         |  SELECT t.q_id, t.c_id,
         |    sum(CAST(qe.embedding[i] AS DOUBLE)
         |      * CAST(ce.embedding[i] AS DOUBLE)) AS dot
         |  FROM short t
         |    JOIN embeddings qe ON qe.vec_id = t.q_id
         |    JOIN embeddings ce ON ce.vec_id = t.c_id, dims
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.q_id, p.c_id,
         |    CASE WHEN x.nrm * y.nrm = 0 THEN 0
         |         ELSE p.dot / (x.nrm * y.nrm) END AS cos
         |  FROM pairs p JOIN vn x ON x.vec_id = p.q_id
         |               JOIN vn y ON y.vec_id = p.c_id)
         |SELECT q_id, rank, c_id,
         |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, c_id ASC) AS rank
         |  FROM scored) r
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // the explicit-quantizer IVF probe, recomputed end to end:
    // centroids = the 16 smallest non-null vec_ids; assignment =
    // argmax over dot(v, cent)/‖cent‖ (ties → smallest cent_id);
    // probe = top-4 centroid lists per query by full cosine; rerank =
    // exact cosine inside the probed lists, self excluded, top-3 by
    // (cos desc, c_id asc), 4dp
    "q_sim_ann_ivf" -> ivfExplicitOracleSql,

    // the staged-TABLES serving path (create + gated append through
    // loadIvfIndexTable) is result-identical — one probe definition
    // for all tenses — so it shares the same SQL
    "q_sim_ann_ivf_staged" -> ivfExplicitOracleSql,

    // every surface's count is pure null/victim logic over the shared
    // id space (counts are quantizer-independent — one id-keyed row
    // per indexed non-null vector), so DuckDB mirrors the whole
    // report: victims serve 0 everywhere; the IVF store's retained v0
    // (pre-delete, no GC yet) still holds every non-null vector; the
    // postings surface is the takedownAudit triple (registry row + nt
    // distinct terms, tombstoned = victim); landing holds null-vec
    // rows too (purge removes victims, not nulls)
    "q_ann_takedown_audit" ->
      """WITH req AS (
        |  SELECT vec_id AS id, (vec_id % 7 = 0) AS victim,
        |         (embedding IS NOT NULL) AS hv
        |  FROM embeddings WHERE vec_id % 7 = 0 OR vec_id % 50 = 0),
        |t AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |nterms AS (
        |  SELECT doc_id, count(DISTINCT term) AS nt FROM t GROUP BY 1),
        |ann AS (
        |  SELECT id, victim, hv,
        |    CAST(CASE WHEN NOT victim AND hv THEN 1 ELSE 0 END
        |      AS BIGINT) AS s
        |  FROM req)
        |SELECT surface, vec_id, serving_rows, physical_rows,
        |  retained_rows, tombstoned FROM (
        |  SELECT 'ivf' AS surface, id AS vec_id, s AS serving_rows,
        |    s AS physical_rows,
        |    CAST(CASE WHEN hv THEN 1 ELSE 0 END AS BIGINT)
        |      AS retained_rows,
        |    FALSE AS tombstoned FROM ann
        |  UNION ALL
        |  SELECT 'ivfpq', id, s, s, CAST(0 AS BIGINT), FALSE FROM ann
        |  UNION ALL
        |  SELECT 'lsh', id, s, s, CAST(0 AS BIGINT), FALSE FROM ann
        |  UNION ALL
        |  SELECT 'pq', id, s, s, CAST(0 AS BIGINT), FALSE FROM ann
        |  UNION ALL
        |  SELECT 'landing', id,
        |    CAST(CASE WHEN victim THEN 0 ELSE 1 END AS BIGINT),
        |    CAST(CASE WHEN victim THEN 0 ELSE 1 END AS BIGINT),
        |    CAST(0 AS BIGINT), FALSE FROM req
        |  UNION ALL
        |  SELECT 'postings', r.id,
        |    CAST(CASE WHEN r.victim THEN 0 ELSE 1 END AS BIGINT),
        |    CAST(COALESCE(n.nt, 0) + 1 AS BIGINT),
        |    CAST(0 AS BIGINT), r.victim
        |  FROM req r LEFT JOIN nterms n ON n.doc_id = r.id
        |) ORDER BY surface, vec_id""".stripMargin,

    "q_sim_cosine_topk" ->
      (duckCosine("embeddings", "embeddings",
        s"a.vec_id < $nQueries", "a.vec_id <> b.vec_id") +
        """
          |SELECT q_id, rank, c_id, floor((cos) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
          |  SELECT q_id, c_id, cos,
          |    row_number() OVER (PARTITION BY q_id
          |      ORDER BY cos DESC, c_id ASC) AS rank
          |  FROM scored) r
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    "q_sim_knn_label" ->
      (duckCosine("embeddings", "embeddings",
        s"a.vec_id < $nQueries", "a.vec_id <> b.vec_id") +
        """,
          |topk AS (
          |  SELECT q_id, c_id FROM (
          |    SELECT q_id, c_id,
          |      row_number() OVER (PARTITION BY q_id
          |        ORDER BY cos DESC, c_id ASC) AS rank
          |    FROM scored) r
          |  WHERE rank <= 5),
          |votes AS (
          |  SELECT t.q_id, e.label, count(*) AS v
          |  FROM topk t JOIN embeddings e ON e.vec_id = t.c_id
          |  GROUP BY 1, 2)
          |SELECT q_id, CAST(label AS BIGINT) AS pred_label FROM (
          |  SELECT q_id, label,
          |    row_number() OVER (PARTITION BY q_id
          |      ORDER BY v DESC, label ASC) AS rn
          |  FROM votes) f
          |WHERE rn = 1 ORDER BY q_id""".stripMargin),

    "q_mine_hard_negatives" ->
      (duckCosine("embeddings", "embeddings",
        s"a.vec_id < $nQueries", "a.label <> b.label") +
        """
          |SELECT q_id, rank, c_id, floor((cos) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
          |  SELECT q_id, c_id, cos,
          |    row_number() OVER (PARTITION BY q_id
          |      ORDER BY cos DESC, c_id ASC) AS rank
          |  FROM scored) r
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    "q_embed_rproject" ->
      // Mirrors Similarity.randomProject exactly: micro-unit longs,
      // md5-first-hex-digit coin (0-7 -> +1) keyed "rp_<seed>_<j>_<i-1>"
      // (i-1: SQL list index is 1-based, the sign key 0-based), exact
      // BIGINT component sums reassembled in j order.
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |outs AS (SELECT unnest(generate_series(0, 15)) AS j),
        |m AS (
        |  SELECT e.vec_id, d.i,
        |    CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS mi
        |  FROM embeddings e, dims d
        |  WHERE e.embedding IS NOT NULL),
        |s AS (
        |  SELECT o.j, d.i,
        |    CASE WHEN strpos('01234567',
        |      substring(md5('rp_7_' || o.j || '_' || (d.i - 1)), 1, 1)) > 0
        |    THEN 1 ELSE -1 END AS sgn
        |  FROM outs o, dims d),
        |p AS (
        |  SELECT m.vec_id, s.j, CAST(sum(s.sgn * m.mi) AS BIGINT) AS yj
        |  FROM m JOIN s ON s.i = m.i
        |  GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS BIGINT) AS j, yj
        |FROM p ORDER BY vec_id, j""".stripMargin,

    "q_pca_moments" ->
      // Mirrors Pca.covMoments exactly: micro-unit longs (the shared
      // floor(x*1e6+0.5) convention), upper-triangle pair sums, and
      // the centered numerator n*s_ij - s_i*s_j — all exact BIGINT
      // at sf0.01 (|mi| < 6e5, n = 500 keeps every product < 2^63).
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |m AS (
        |  SELECT e.vec_id, d.i,
        |    CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS mi
        |  FROM embeddings e, dims d
        |  WHERE e.embedding IS NOT NULL),
        |p AS (
        |  SELECT a.i - 1 AS i, b.i - 1 AS j, count(*) AS n,
        |    CAST(sum(a.mi) AS BIGINT) AS s_i,
        |    CAST(sum(b.mi) AS BIGINT) AS s_j,
        |    CAST(sum(a.mi * b.mi) AS BIGINT) AS s_ij
        |  FROM m a JOIN m b ON b.vec_id = a.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
        |  s_i, s_j, s_ij, n * s_ij - s_i * s_j AS cov_num
        |FROM p ORDER BY i, j""".stripMargin,

    "q_dedup_embedding" ->
      (duckCosine("embeddings", "embeddings",
        "TRUE", "a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 50") +
        """
          |SELECT q_id AS id_a, c_id AS id_b, floor((cos) * 10000.0 + 0.5) / 10000.0 AS cos
          |FROM scored WHERE floor((cos) * 10000.0 + 0.5) / 10000.0 >= 0.35
          |ORDER BY id_a, id_b""".stripMargin),

    "q_embed_quantize" ->
      // Mirrors Similarity.quantizeInt8's integer-exact pipeline:
      // micro-unit longs -> exact integer sum of squares (order-
      // independent) -> single correctly-rounded IEEE divide/multiply
      // per code. See the operator's Scaladoc.
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |m AS (
        |  SELECT e.vec_id, d.i,
        |    CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS mi
        |  FROM embeddings e, dims d),
        |n AS (
        |  SELECT vec_id, sqrt(CAST(sum(mi * mi) AS DOUBLE)) AS nrm_micro
        |  FROM m GROUP BY vec_id),
        |q AS (
        |  SELECT m.vec_id, m.i,
        |    CAST(floor(CASE WHEN n.nrm_micro = 0
        |      THEN CAST(m.mi AS DOUBLE) / 1000000.0 * 127.0
        |      ELSE CAST(m.mi AS DOUBLE) * 127.0 / n.nrm_micro END + 0.5) AS BIGINT) AS qi
        |  FROM m JOIN n ON n.vec_id = m.vec_id)
        |SELECT vec_id, CAST(sum(qi) AS BIGINT) AS q_sum, min(qi) AS q_min, max(qi) AS q_max,
        |  max(CASE WHEN i = 1 THEN qi END) AS q_first
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_embed_outliers" ->
      // Micro-unit quantized vectors and midpoint-rounded centroids:
      // every sum is exact BIGINT, the single s/n division is one
      // correctly-rounded IEEE op (see EmbeddingStats Scaladoc).
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |m AS (
        |  SELECT e.vec_id, e.label, d.i,
        |    CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS mi
        |  FROM embeddings e, dims d
        |  WHERE e.embedding IS NOT NULL),
        |c AS (
        |  SELECT label, i,
        |    CAST(floor(CAST(sum(mi) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
        |  FROM m GROUP BY 1, 2),
        |dist AS (
        |  SELECT m.vec_id, m.label,
        |    CAST(sum((m.mi - c.c) * (m.mi - c.c)) AS BIGINT) AS dist2_micro
        |  FROM m JOIN c ON c.label = m.label AND c.i = m.i
        |  GROUP BY 1, 2)
        |SELECT CAST(label AS BIGINT) AS label, CAST(rank AS BIGINT) AS rank,
        |  vec_id, dist2_micro
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY dist2_micro DESC, vec_id ASC) AS rank
        |  FROM dist) r
        |WHERE rank <= 10 ORDER BY label, rank""".stripMargin
  )
}
