package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.CurveRanges
import graft.dedup.Dedup
import graft.layout.Layout

/** What every family needs: the session, the tracer and a scratch dir. */
final class Ctx(val spark: SparkSession, val work: String, val cores: Int) {
  val trace = new Tracer(spark.sparkContext)
  private val inputs = mutable.ArrayBuffer[DataFrame]()

  /** Caches `df` and keeps it cached across [[clearCaches]]. */
  def input(df: DataFrame): DataFrame = {
    inputs += df
    df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  /** Drops every cache the library left behind (its documented release
    * is clearCache) and refills the generated inputs, outside any timing. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    inputs.foreach { df => df.persist(StorageLevel.MEMORY_ONLY); df.count() }
  }

  val heapMb = mutable.ArrayBuffer[Double]()

  /** Heap in use right after a full collection. Called only after
    * untimed warm-up ops, so every timed op starts from the same state.
    * Collects twice: the first collection hands the previous op's
    * broadcasts and shuffles to Spark's ContextCleaner, which frees
    * their blocks within a few hundred ms. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    heapMb += (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Runs one op's timed part inside a `bench` span named after its
    * family; returns the result and the op's [[Timing]]. */
  def timed[T](family: String)(body: => T): (T, Timing) =
    trace("bench", family + ".op") {
      val c0 = Timing.processCpuNs()
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      (r, Timing((t1 - t0) / 1e6, (Timing.processCpuNs() - c0) / 1e6))
    }
}

/** One op's wall time and the CPU time the JVM spent during it, both in
  * ms. CPU time counts every thread (driver, executor tasks, GC) except
  * the JIT compiler's, whose background work lands in whichever op it
  * overlaps. */
final case class Timing(wallMs: Double, cpuMs: Double)

object Timing {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = new File("/proc/self/task")
  private val tickNs = 10000000L // USER_HZ = 100 on Linux

  /** Process CPU time minus the JIT compiler threads'. run.py starts the
    * JVM with a fixed set of compiler threads, so none exits and takes
    * its count along. Without /proc, the whole process. */
  def processCpuNs(): Long = os.getProcessCpuTime - jitCpuNs()

  def jitCpuNs(): Long = Option(tasks.listFiles()).fold(0L)(_.iterator.map { t =>
    scala.util.Try {
      val st = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
      if (!st.substring(st.indexOf('(') + 1, st.lastIndexOf(')')).contains("CompilerThre")) 0L
      else {
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) * tickNs // utime, stime
      }
    }.getOrElse(0L)
  }.sum)
}

/** One kind of timed op over generated inputs. `op` runs one op and
  * returns its timing and whether its output was correct; the
  * correctness check is not timed. */
trait Family {
  def name: String
  /** Input rows (points or docs) one op covers. */
  def rowsPerOp: Long
  def op(): (Timing, Boolean)
}

/** Footer facts of one written layout. */
final case class Written(shape: Shape, path: String, rows: Long, rowGroups: Int, bytes: Long,
    ordered: Boolean)

object Written {
  /** Writes the point table curve-indexed for every shape under `dir`. */
  def write(ctx: Ctx, pts: PointData, dir: String): Seq[(Shape, String)] =
    Shape.All.map { s =>
      val p = s"$dir/${s.name}"
      ctx.trace("layout", "Layout.writeHilbertIndexed") {
        Layout.writeHilbertIndexed(pts.table.select(("id" +: s.dims :+ "payload").map(col): _*),
          s.dims, p, elemType = s.elemType)
      }
      s -> p
    }

  /** Reads back a written layout's footers. */
  def inspect(s: Shape, p: String): Written = {
    val rg = Layout.rowGroupRanges(p, Layout.openIndexed(p).keyName)
    val bytes = new File(p).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Written(s, p, rg.map(_._3).sum, rg.size, bytes,
      rg.zip(rg.drop(1)).forall { case (a, b) => a._2 <= b._1 })
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** `layout_write`: both key shapes written with Layout.writeHilbertIndexed. */
final class WriteFamily(ctx: Ctx, pts: PointData) extends Family {
  val name = "layout_write"
  val rowsPerOp: Long = pts.rows * Shape.All.size
  val written = mutable.ArrayBuffer[Written]()
  private var seq = 0

  def op(): (Timing, Boolean) = {
    seq += 1
    val dir = s"${ctx.work}/write-$seq"
    val (paths, t) = ctx.timed(name)(Written.write(ctx, pts, dir))
    val ws = paths.map { case (s, p) => Written.inspect(s, p) }
    written ++= ws
    Written.delete(new File(dir))
    (t, ws.forall(w => w.rows == pts.rows && w.ordered))
  }
}

/** `box_query`: one client issuing seeded boxes against both layouts,
  * built at construction with the expected counts. Not a workload of its
  * own (see perfbench/README.md); the traced run uses it for the read
  * side of the layout layer. */
final class QueryFamily(ctx: Ctx, pts: PointData, boxCount: Int) extends Family {
  val name = "box_query"
  val rowsPerOp: Long = pts.rows
  val layouts: Map[Shape, Written] = Written.write(ctx, pts, s"${ctx.work}/indexed")
    .map { case (s, p) => s -> Written.inspect(s, p) }.toMap
  val boxes: IndexedSeq[Box] = pts.boxes(boxCount)
  val expected: Array[Long] = pts.bruteCounts(boxes)
  /** Per shape and row group: (key min, key max, then per dim min, max). */
  private val footers: Map[Shape, IndexedSeq[Array[Long]]] = layouts.map { case (s, w) =>
    val cols = (Layout.openIndexed(w.path).keyName +: s.dims).map(c => Layout.rowGroupRanges(w.path, c))
    s -> cols.head.indices.map(g => cols.flatMap(c => Seq(c(g)._1, c(g)._2)).toArray)
  }
  var rowGroupsRead = 0L
  var rowGroupsTotal = 0L
  var rangesIssued = 0L
  var queries = 0L
  private var next = 0

  def op(): (Timing, Boolean) = {
    val i = next % boxes.size
    next += 1
    val b = boxes(i)
    val path = layouts(b.shape).path
    val ((n, rs), t) = ctx.timed(name) {
      val (desc, df) = ctx.trace("layout", "layout.open") {
        (Layout.openIndexed(path), ctx.spark.read.parquet(path))
      }
      val rs = ctx.trace("core", "CurveRanges.ranges") {
        CurveRanges.ranges(desc.curve == "hilbert", b.lo, b.hi, desc.elemBits, maxRanges = 16)
      }
      val pred = ctx.trace("layout", "Layout.curveRangePredicate") {
        Layout.curveRangePredicate(col(desc.keyName), rs)
      }
      val q = df.filter(pred && b.predicate).groupBy().count()
      ctx.trace("layout", "layout.plan")(q.queryExecution.executedPlan)
      (ctx.trace("layout", "layout.exec")(q.collect()(0).getLong(0)), rs)
    }
    val groups = footers(b.shape)
    rowGroupsTotal += groups.size
    rowGroupsRead += groups.count(g => read(g, rs, b))
    rangesIssued += rs.size
    queries += 1
    (t, n == expected(i))
  }

  /** A reader reads a row group unless its footer stats exclude every
    * key range or some dimension of the box. Stored keys are u64 ^
    * Long.MinValue, so footer min/max compare as signed longs. */
  private def read(g: Array[Long], rs: Seq[(Long, Long)], b: Box): Boolean =
    rs.exists { case (a, z) => (a ^ Long.MinValue) <= g(1) && (z ^ Long.MinValue) >= g(0) } &&
      b.lo.indices.forall(d => b.lo(d) <= g(3 + 2 * d) && b.hi(d) >= g(2 + 2 * d))
}

/** `dedup`: Dedup.connectedComponents(Dedup.minhashPairs(docs)) as the
  * library's own callers run it, so the pair pipeline executes inside
  * the component solve; labels into noop. */
final class DedupFamily(ctx: Ctx, docs: DocData) extends Family {
  val name = "dedup"
  val rowsPerOp: Long = docs.docs
  private val members: Iterable[Array[Int]] =
    docs.clusterOf.indices.filter(docs.clusterOf(_) >= 0).toArray.groupBy(docs.clusterOf(_)).values
  private var labelHash: Option[Int] = None
  var recall = 0.0
  var precision = 0.0
  var pairs = 0L
  var rounds = 0

  /** Drops the previous op's caches first, untimed, so a heap sample
    * taken after an op still sees what the op left cached. */
  def op(): (Timing, Boolean) = {
    ctx.clearCaches()
    val (labels, t) = ctx.timed(name) {
      val pf = ctx.trace("dedup", "Dedup.minhashPairs")(Dedup.minhashPairs(docs.table))
      val labels = ctx.trace("dedup", "Dedup.connectedComponents")(Dedup.connectedComponents(pf))
      ctx.trace("bench", "labels.noop")(labels.write.format("noop").mode("overwrite").save())
      labels
    }
    val lbl = labelArray(labels)
    recall = members.map { m =>
      m.groupBy(lbl(_)).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    }.sum.toDouble / docs.plantedPairs
    val h = java.util.Arrays.hashCode(lbl)
    val stable = labelHash.forall(_ == h)
    labelHash = Some(h)
    (t, stable && recall >= DedupFamily.RecallFloor)
  }

  /** Untimed, for the ledger: the pair frame materialised on its own,
    * then both component solves over it, the driver-side union-find the
    * library picks at this size and the distributed label propagation
    * forced with localSolveEdges = 0. Correct when both give the labels
    * of [[op]]. */
  def probe(): Boolean = {
    ctx.clearCaches()
    val pf = ctx.trace("dedup", "Dedup.minhashPairs")(Dedup.minhashPairs(docs.table))
      .select("doc_a", "doc_b").persist()
    pairs = ctx.trace("dedup", "pairs.exec")(pf.count())
    val inCluster = pf.collect().count { r =>
      val c = docs.clusterOf(r.getLong(0).toInt)
      c >= 0 && c == docs.clusterOf(r.getLong(1).toInt)
    }
    precision = inCluster.toDouble / math.max(1L, pairs)
    val local = ctx.trace("dedup", "cc.local")(labelArray(Dedup.connectedComponents(pf)))
    val dist = ctx.trace("dedup", "cc.distributed")(
      labelArray(Dedup.connectedComponents(pf, localSolveEdges = 0)))
    rounds = Dedup.lastConvergenceRounds
    ctx.clearCaches()
    val h = java.util.Arrays.hashCode(local)
    java.util.Arrays.equals(local, dist) && labelHash.forall(_ == h)
  }

  /** Component label per doc id; a doc in no pair gets a label of its own. */
  private def labelArray(labels: DataFrame): Array[Long] = {
    val lbl = Array.tabulate(docs.docs)(i => -1L - i)
    labels.collect().foreach(r => lbl(r.getLong(0).toInt) = r.getLong(1))
    lbl
  }
}

object DedupFamily {
  /** Lowest planted-pair recall accepted as correct. Seeds 1-5 give
    * 0.90-0.93 on the 16k-doc corpus; a pass below this has lost
    * planted duplicates. */
  val RecallFloor = 0.8
}
