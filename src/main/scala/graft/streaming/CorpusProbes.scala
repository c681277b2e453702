package graft.streaming

import java.lang.ref.WeakReference

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DotProduct
import graft.operators.{Dedup, Similarity}

/** The door's corpus gates as row-local probes of a packed corpus
  * snapshot. Each gate column is a [[CorpusProbe]] marker holding the
  * corpus side's analyzed plan; every time a plan containing it is
  * optimized (once per micro-batch on a stream, once per action on a
  * static frame) the marker becomes a [[CorpusHit]] kernel bound to
  * the broadcast snapshot of that corpus version, built by
  * [[CorpusSnapshots]] only when the corpus changed. A gate returns
  * TRUE when the arrival has a corpus match, and a NULL input never
  * matches: exactly the rows a LEFT ANTI join on the same condition
  * drops (CorpusProbeSpec holds the join forms as the oracle). */
object CorpusProbes {

  /** `digest` (an [[Dedup.exactDigest]]) equals a corpus `digest`. */
  private[graft] def digestHit(digest: Column,
                               corpusDigests: DataFrame): Column =
    probe(Seq(digest), DigestGate, corpusDigests.select(col("digest")))

  /** Some band `b` of `sim` equals the `bits` of a corpus row of band
    * `b` whose `sim` is within `maxHamming` bits of it. */
  private[graft] def bandHit(sim: Column, corpusBands: DataFrame,
                             maxHamming: Int): Column =
    probe(Seq(sim), BandGate(maxHamming), corpusBands.select(
      col("band").cast("long"), col("bits").cast("long"),
      col("sim").cast("long")))

  /** A corpus vector in one of the `ranks` lists of `assigned` has
    * [[Similarity.cosine]] `>= cosThreshold` with `vec` (SQL order: a
    * NaN cosine counts). */
  private[graft] def semanticHit(vec: Column, ranks: Column,
                                 assigned: DataFrame,
                                 cosThreshold: Double): Column = {
    require(assigned.schema("c_vec").dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }, "the IVF index's c_vec must be array<double>")
    probe(Seq(vec, ranks), SemanticGate(cosThreshold),
      assigned.select(col("cent_id").cast("long"), col("c_vec")))
  }

  private def probe(args: Seq[Column], gate: CorpusGate,
                    corpus: DataFrame): Column = {
    val plan = corpus.queryExecution.analyzed
    GraftBridge.column(CorpusProbe(args.map(GraftBridge.expression), gate,
      plan, CorpusSnapshots.slotFor(gate.kind, plan)))
  }
}

/** One corpus gate: how its corpus columns pack into a [[CorpusSide]],
  * and the probe's parameters. The snapshot depends only on `kind`
  * and the corpus plan, never on the parameters. */
sealed trait CorpusGate extends Serializable {
  def kind: String
  def build(corpus: DataFrame): CorpusSide
}

case object DigestGate extends CorpusGate {
  val kind = "digest"
  def build(corpus: DataFrame): CorpusSide =
    DigestSide(Array.concat(corpus.queryExecution.toRdd.mapPartitions {
      rows =>
        val out = ArrayBuffer.empty[Long]
        rows.filterNot(_.isNullAt(0)).map(_.getUTF8String(0))
          .filter(DigestSide.isDigest).foreach { d =>
            out += DigestSide.word(d, 0)
            out += DigestSide.word(d, 16)
          }
        Iterator(out.toArray)
    }.collect(): _*))
}

final case class BandGate(maxHamming: Int) extends CorpusGate {
  def kind = "band"
  def build(corpus: DataFrame): CorpusSide = {
    // (band << 16 | bits, sim) pairs; a row outside the 4 x 16-bit
    // layout can never equal an arrival's band bits, so it is dropped
    val kv = Array.concat(corpus.queryExecution.toRdd.mapPartitions {
      rows =>
        val out = ArrayBuffer.empty[Long]
        rows.foreach { r =>
          if (!r.anyNull && r.getLong(0) >= 0 &&
              r.getLong(0) < Dedup.HammingBands &&
              r.getLong(1) >= 0 && r.getLong(1) <= 0xFFFFL) {
            out += (r.getLong(0) << 16 | r.getLong(1))
            out += r.getLong(2)
          }
        }
        Iterator(out.toArray)
    }.collect(): _*)
    val (offsets, order) = CorpusSide.csr(
      Array.tabulate(kv.length / 2)(i => kv(2 * i).toInt),
      Dedup.HammingBands << 16)
    new BandSide(offsets, order.map(i => kv(2 * i + 1)))
  }
}

final case class SemanticGate(cosThreshold: Double) extends CorpusGate {
  def kind = "semantic"
  def build(corpus: DataFrame): CorpusSide = {
    // a NULL vector or one with a NULL element has a NULL norm, so
    // its cosine is NULL against every arrival: never a match
    val parts = corpus.queryExecution.toRdd.mapPartitions { rows =>
      val cents = ArrayBuffer.empty[Long]
      val vecs = ArrayBuffer.empty[UnsafeArrayData]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) &&
            DotProduct.dotOrNull(r.getArray(1), r.getArray(1)) != null) {
          cents += r.getLong(0)
          vecs += UnsafeArrayData.fromPrimitiveArray(
            r.getArray(1).toDoubleArray())
        }
      }
      Iterator((cents.toArray, vecs.toArray))
    }.collect()
    val cents = Array.concat(parts.map(_._1): _*)
    val vecs = Array.concat(parts.map(_._2): _*)
    val ids = cents.distinct.sorted
    val (offsets, order) = CorpusSide.csr(
      cents.map(java.util.Arrays.binarySearch(ids, _)), ids.length)
    val sorted = order.map(vecs(_))
    new SemanticSide(ids, offsets, sorted,
      sorted.map(v => math.sqrt(DotProduct.dotOrNull(v, v))))
  }
}

/** A packed corpus side: entries grouped by a dense key, entries of
  * key k at `offsets(k) until offsets(k + 1)`. */
sealed trait CorpusSide extends Serializable {
  def rows: Long
  def bytes: Long
}

object CorpusSide {
  /** Offsets over `nKeys` dense keys, and the entry order that groups
    * equal keys (a counting sort). */
  def csr(keys: Array[Int], nKeys: Int): (Array[Int], Array[Int]) = {
    val offsets = new Array[Int](nKeys + 1)
    keys.foreach(k => offsets(k + 1) += 1)
    var k = 0
    while (k < nKeys) { offsets(k + 1) += offsets(k); k += 1 }
    val fill = offsets.clone()
    val order = new Array[Int](keys.length)
    var i = 0
    while (i < keys.length) {
      order(fill(keys(i))) = i; fill(keys(i)) += 1; i += 1
    }
    (offsets, order)
  }
}

/** Corpus digests as (hi, lo) longs of the md5, grouped by the top
  * `bits` bits of hi (about one entry per group). */
final class DigestSide(bits: Int, offsets: Array[Int], hi: Array[Long],
                       lo: Array[Long]) extends CorpusSide {
  def rows: Long = hi.length
  def bytes: Long = 16L * hi.length + 4L * offsets.length

  def contains(d: UTF8String): Boolean = DigestSide.isDigest(d) && {
    val h = DigestSide.word(d, 0)
    val l = DigestSide.word(d, 16)
    val k = (h >>> (64 - bits)).toInt
    var i = offsets(k)
    while (i < offsets(k + 1) && !(hi(i) == h && lo(i) == l)) i += 1
    i < offsets(k + 1)
  }
}

object DigestSide {
  /** From interleaved (hi, lo) words. */
  def apply(words: Array[Long]): DigestSide = {
    val n = words.length / 2
    val bits = math.min(30, math.max(1, 64 - java.lang.Long
      .numberOfLeadingZeros(n.toLong)))
    val (offsets, order) = CorpusSide.csr(
      Array.tabulate(n)(i => (words(2 * i) >>> (64 - bits)).toInt),
      1 << bits)
    new DigestSide(bits, offsets, order.map(i => words(2 * i)),
      order.map(i => words(2 * i + 1)))
  }

  private def nibble(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else -1

  /** 32 lowercase hex digits: the only form `md5` produces, so any
    * other string can never equal an arrival's digest. */
  def isDigest(d: UTF8String): Boolean = d.numBytes == 32 && {
    var i = 0
    while (i < 32 && nibble(d.getByte(i)) >= 0) i += 1
    i == 32
  }

  def word(d: UTF8String, from: Int): Long = {
    var w = 0L
    var i = from
    while (i < from + 16) { w = w << 4 | nibble(d.getByte(i)); i += 1 }
    w
  }
}

/** Corpus fingerprints keyed by (band, bits). */
final class BandSide(offsets: Array[Int], sims: Array[Long])
  extends CorpusSide {
  def rows: Long = sims.length
  def bytes: Long = 8L * sims.length + 4L * offsets.length

  def near(sim: Long, maxHamming: Int): Boolean = {
    var b = 0
    while (b < Dedup.HammingBands) {
      val k = b << 16 | Dedup.bandBitsOf(sim, b)
      var i = offsets(k)
      while (i < offsets(k + 1)) {
        if (java.lang.Long.bitCount(sim ^ sims(i)) <= maxHamming) return true
        i += 1
      }
      b += 1
    }
    false
  }
}

/** Corpus vectors grouped by IVF list, with their norms. */
final class SemanticSide(cents: Array[Long], offsets: Array[Int],
                         vecs: Array[UnsafeArrayData],
                         norms: Array[Double])
  extends CorpusSide {
  def rows: Long = vecs.length
  def bytes: Long = vecs.iterator.map(_.getSizeInBytes + 16L).sum +
    16L * vecs.length + 8L * cents.length + 4L * offsets.length

  /** [[Similarity.cosine]] term for term: sqrt(normSq(a)) *
    * sqrt(normSq(b)) as the denominator, 0 when it is 0, NULL (no
    * match) when a norm or the dot is NULL. */
  def near(v: ArrayData, ranks: ArrayData, threshold: Double): Boolean = {
    val vv = DotProduct.dotOrNull(v, v)
    if (vv == null) return false
    val sv = math.sqrt(vv)
    var p = 0
    while (p < ranks.numElements()) {
      val k = if (ranks.isNullAt(p)) -1
              else java.util.Arrays.binarySearch(cents, ranks.getLong(p))
      if (k >= 0) {
        var j = offsets(k)
        while (j < offsets(k + 1)) {
          val den = sv * norms(j)
          val cos: java.lang.Double =
            if (den == 0.0d) 0.0d
            else {
              val d = DotProduct.dotOrNull(v, vecs(j))
              if (d == null) null else d / den
            }
          if (cos != null && !Similarity.gtSqlDouble(threshold, cos))
            return true
          j += 1
        }
      }
      p += 1
    }
    false
  }
}

/** The executor half of a gate: the broadcast handle of its snapshot
  * (the snapshot itself never rides in the task; each task reads it
  * once) and the gate's parameters. Generated code calls the `hit`
  * overload of the gate's argument types; `hitRow` is the interpreted
  * path, over non-null arguments. */
final class CorpusKernel(side: Broadcast[CorpusSide], gate: CorpusGate)
  extends Serializable {
  @transient private lazy val s = side.value

  def hit(digest: UTF8String): Boolean =
    s.asInstanceOf[DigestSide].contains(digest)
  def hit(sim: Long): Boolean = s.asInstanceOf[BandSide]
    .near(sim, gate.asInstanceOf[BandGate].maxHamming)
  def hit(vec: ArrayData, ranks: ArrayData): Boolean =
    s.asInstanceOf[SemanticSide].near(vec, ranks,
      gate.asInstanceOf[SemanticGate].cosThreshold)

  def hitRow(args: Seq[Any]): Boolean = args match {
    case Seq(digest: UTF8String) => hit(digest)
    case Seq(sim: Long) => hit(sim)
    case Seq(vec: ArrayData, ranks: ArrayData) => hit(vec, ranks)
  }
}

/** The bound gate: FALSE when any argument is NULL, else the
  * kernel's verdict. Interpreted and generated code share `hit`. */
case class CorpusHit(children: Seq[Expression], kernel: CorpusKernel)
  extends Expression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_corpus_hit"

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input))
    !args.contains(null) && kernel.hitRow(args)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val k = ctx.addReferenceObj("graftCorpusKernel", kernel,
      classOf[CorpusKernel].getName)
    val anyNull = args.map(_.isNull.toString).mkString(" || ")
    val values = args.map(_.value.toString).mkString(", ")
    ev.copy(isNull = FalseLiteral, code = args.map(_.code).reduce(_ + _) +
      code"boolean ${ev.value} = !($anyNull) && $k.hit($values);")
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** The driver-side marker: the optimizer's `ReplaceExpressions` swaps
  * it for a [[CorpusHit]] over the snapshot current at that moment,
  * so each micro-batch's planning checks the corpus version once.
  * Analysis, canonicalization and printing never touch the corpus. */
case class CorpusProbe(children: Seq[Expression], gate: CorpusGate,
                       corpus: LogicalPlan, slot: CorpusSlot)
  extends Expression with RuntimeReplaceable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = s"graft_${gate.kind}_probe"
  override lazy val canonicalized: Expression = copy(
    children = children.map(_.canonicalized),
    corpus = corpus.canonicalized)
  override protected def flatArguments: Iterator[Any] =
    children.iterator ++ Iterator(gate)
  override def stringArgs: Iterator[Any] = flatArguments

  override def replacement: Expression =
    CorpusHit(children,
      new CorpusKernel(CorpusSnapshots.current(slot, gate, corpus), gate))

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** One snapshot build, as logged. */
final case class SnapshotBuild(gate: String, rows: Long, bytes: Long,
                               buildMs: Long, cause: String)

/** One cached snapshot: its broadcast and the token it was built at.
  * Each [[CorpusProbe]] holds its slot, so a slot lives as long as a
  * plan that can probe it. */
final class CorpusSlot private[streaming] () {
  private[streaming] var token: Option[Seq[Any]] = None
  private[streaming] var side: Broadcast[CorpusSide] = _
}

/** The snapshot cache, one per SparkContext (so a query, its stream
  * clones and the static frames of the same session share it), keyed
  * by (gate kind, canonicalized corpus plan). The cache holds its
  * slots weakly: once no plan can probe a snapshot it is dropped, and
  * Spark's ContextCleaner removes its broadcast. A snapshot is rebuilt
  * when the corpus's version token differs from the one it was built
  * at; the token is read on the driver before each build:
  *
  *  - file-backed leaves: (path, length, mtime) of every file under
  *    the relation's root paths and catalog partition locations, read
  *    from the file system (a caller's cached listing can be stale);
  *  - `InMemoryRelation` / `LogicalRDD` leaves: their identity;
  *  - `LocalRelation` / `Range` leaves: nothing, the key pins them;
  *  - any other leaf, or a nondeterministic plan: no token, so the
  *    snapshot is rebuilt on every use.
  *
  * A replaced snapshot's broadcast is unpersisted, never destroyed:
  * another running query may still hold its handle. */
object CorpusSnapshots {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val slots = new java.util.WeakHashMap[SparkContext,
    java.util.HashMap[(String, LogicalPlan), WeakReference[CorpusSlot]]]()
  @volatile private var last = Map.empty[String, SnapshotBuild]

  /** The latest build of each gate kind in this JVM. */
  def lastBuilds: Map[String, SnapshotBuild] = last

  /** The live slot of an equal corpus plan, or a new one. */
  private[streaming] def slotFor(kind: String,
                                 corpus: LogicalPlan): CorpusSlot =
    slots.synchronized {
      val bySc = slots.computeIfAbsent(SparkSession.active.sparkContext,
        _ => new java.util.HashMap())
      bySc.values.removeIf(_.get == null)
      val key = (kind, corpus.canonicalized)
      Option(bySc.get(key)).map(_.get).filter(_ != null).getOrElse {
        val slot = new CorpusSlot
        bySc.put(key, new WeakReference(slot))
        slot
      }
    }

  /** The slot's snapshot, rebuilt first if the corpus changed. */
  private[streaming] def current(slot: CorpusSlot, gate: CorpusGate,
                                 corpus: LogicalPlan): Broadcast[CorpusSide] = {
    val spark = SparkSession.active
    slot.synchronized {
      val token = tokenOf(spark, corpus)
      if (slot.side == null || token.isEmpty || token != slot.token) {
        val cause = if (slot.side == null) "first use"
          else if (token.isEmpty) "unversioned corpus" else "token change"
        val t0 = System.nanoTime()
        corpus.foreach {
          case r: LogicalRelation => r.relation match {
            case fs: HadoopFsRelation => fs.location.refresh()
            case _ =>
          }
          case _ =>
        }
        val side = gate.build(GraftBridge.ofRows(spark, corpus))
        val bc = spark.sparkContext.broadcast(side)
        Option(slot.side).foreach(_.unpersist())
        slot.side = bc
        slot.token = token
        val b = SnapshotBuild(gate.kind, side.rows, side.bytes,
          (System.nanoTime() - t0) / 1000000L, cause)
        synchronized(last += gate.kind -> b)
        log.info(s"door corpus snapshot built: gate=${b.gate} " +
          s"rows=${b.rows} bytes=${b.bytes} build_ms=${b.buildMs} " +
          s"cause=${b.cause}")
      }
      slot.side
    }
  }

  private final class Ident(val ref: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case i: Ident => i.ref eq ref
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(ref)
  }

  private def tokenOf(spark: SparkSession,
                      corpus: LogicalPlan): Option[Seq[Any]] =
    if (!corpus.deterministic) None
    else {
      val parts = GraftBridge.useCachedData(spark, corpus)
        .collectLeaves().map {
          case r: InMemoryRelation => Some(new Ident(r.cacheBuilder))
          case r: LogicalRDD => Some(new Ident(r.rdd))
          case _: LocalRelation | _: Range | _: OneRowRelation => Some(())
          case r: LogicalRelation => r.relation match {
            case fs: HadoopFsRelation => listing(spark, fs.location)
            case _ => None
          }
          case _ => None
        }
      if (parts.forall(_.isDefined)) Some(parts.flatten) else None
    }

  private def listing(spark: SparkSession,
                      index: FileIndex): Option[Seq[(String, Long, Long)]] =
    scala.util.Try {
      graft.sources.NioLocalFileSystem.install(spark)
      val roots = index.rootPaths
      val under = roots.map(_.toUri.getPath.stripSuffix("/") + "/")
      val partitions = index match {
        case c: CatalogFileIndex =>
          spark.sessionState.catalog.listPartitions(c.table.identifier)
            .flatMap(_.storage.locationUri).map(new Path(_))
            .filterNot(p => under.exists(p.toUri.getPath.startsWith))
        case _ => Nil
      }
      val conf = spark.sparkContext.hadoopConfiguration
      (roots ++ partitions).flatMap { r =>
        val it = r.getFileSystem(conf).listFiles(r, /* recursive = */ true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      }.sorted
    }.toOption
}
