package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.SFC
import graft.dedup.Dedup
import graft.functions.Curves

/** The repository benchmark. One run builds one workload's inputs from
  * a seed, times its ops in a closed loop with one client for a fixed
  * number of seconds, checks every op's output, and prints a
  * `RESULT {json}` line: end-to-end metrics, or with --trace 1 the
  * per-layer ledger. perfbench/run.py is the entry point; it builds this
  * code and attaches units from BENCHMARK.json.
  *
  * Usage: Main --workload layout_write|dedup --seed N
  *   --seconds S --trace 0|1 --work DIR [--spans FILE]
  */
object Main {
  /** Point-table rows; one layout_write op writes them once per shape. */
  val PointRows = 125000L
  /** Boxes box_query sizes and counts in set-up; a traced run issues
    * each once. */
  val Boxes = 24
  /** Corpus docs. Sized so a dedup op takes about as long as a
    * layout_write op and a run fits its warm-up. */
  val Docs = 16000
  /** Untimed ops before the timed loop. Op times fall over the first
    * six or so while the JIT compiles the driver's planning paths. */
  val WarmOps = 7
  /** Warm-up ops after which the heap is sampled; heap_after_gc_mb is
    * their median. The last warm-up op follows the last sample, so no
    * timed op starts on a freshly collected heap. A fixed count, because
    * Spark's status store keeps every finished job, so the heap grows
    * with the op count. */
  val HeapSamples = 3
  /** Set-ups timed after the loop, when Spark's classes are loaded and
    * compiled; setup_s is their median. The run's first set-up, cold,
    * is printed but not counted. */
  val SetupReps = 3
  /** Ops each family runs in a traced run of another workload. */
  val ForeignOps = Map("layout_write" -> 2, "box_query" -> Boxes, "dedup" -> 2)
  val Workloads = Seq("layout_write", "dedup")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    info(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"cores=$cores master=local[$cores] closed_loop_clients=1")
    val run = new Run(workload, seed, cores, work)
    val (attempted, failed, metrics) =
      if (traced) run.ledger(seconds, opts.get("spans")) else run.endToEnd(seconds)
    run.stop()
    info(f"jvm_uptime_s: stopped=${uptimeS()}%.1f")
    val ms = metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
    sys.exit(0)
  }

  def info(s: String): Unit = println("perfbench: " + s)

  def uptimeS(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Run(workload: String, seed: Long, cores: Int, work: String) {
  import Main._

  private var ctx: Ctx = _
  private var points: Option[PointData] = None
  private var docs: Option[DocData] = None
  private var attempted = 0
  private var failed = 0

  def stop(): Unit = if (ctx != null) ctx.spark.stop()

  private def start(): Unit = {
    stop()
    points = None
    docs = None
    ctx = new Ctx(session(cores, work), work, cores)
  }

  private def pts: PointData = points.getOrElse {
    val p = new PointData(ctx, seed, PointRows)
    info(s"points: seed=$seed ${p.describe}")
    points = Some(p)
    p
  }

  private def corpus: DocData = docs.getOrElse {
    val d = new DocData(ctx, seed, Docs)
    info(s"docs: seed=$seed ${d.describe}")
    docs = Some(d)
    d
  }

  private def family(name: String): Family = name match {
    case "layout_write" => new WriteFamily(ctx, pts)
    case "box_query" =>
      val q = new QueryFamily(ctx, pts, Boxes)
      val byTarget = q.boxes.indices.groupBy(i => (q.boxes(i).shape.name, q.boxes(i).target))
        .toSeq.sortBy(_._1).map { case ((s, t), is) =>
          f"$s@$t%.4f:${median(is.map(q.expected(_).toDouble)) / pts.rows}%.5f"
        }
      info(s"boxes=${q.boxes.size} median_selected_share_by_shape@target: ${byTarget.mkString(" ")}")
      q
    case "dedup" => new DedupFamily(ctx, corpus)
  }

  /** One op, counted. */
  private def once(f: Family): Timing = {
    val (t, ok) = f.op()
    attempted += 1
    if (!ok) failed += 1
    t
  }

  private def warm(f: Family, heapSamples: Int = 0): Unit = (1 to WarmOps).foreach { i =>
    once(f)
    if (i <= heapSamples) ctx.sampleHeap()
  }

  /** Ops for `seconds`. With `interleave`, spans are recorded on every
    * other op only; each op says whether it was traced. */
  private def loop(f: Family, seconds: Double, interleave: Boolean = false): Seq[(Timing, Boolean)] = {
    val out = mutable.ArrayBuffer[(Timing, Boolean)]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      ctx.trace.op += 1
      ctx.trace.enabled = interleave && out.size % 2 == 1
      out += (once(f) -> ctx.trace.enabled)
    }
    ctx.trace.op = 0
    out.toSeq
  }

  def endToEnd(seconds: Double): (Int, Int, Seq[(String, Double)]) = {
    def setUp(): (Family, Timing) = {
      val c0 = Timing.processCpuNs()
      val t0 = System.nanoTime()
      start()
      val f = family(workload)
      (f, Timing((System.nanoTime() - t0) / 1e6, (Timing.processCpuNs() - c0) / 1e6))
    }
    val (f, cold) = setUp()
    val setupDone = uptimeS()
    warm(f, HeapSamples)
    val warmDone = uptimeS()
    val cpu0 = HostCpu.sample()
    val ts = loop(f, seconds).map(_._1)
    val steal = HostCpu.stealShare(cpu0, HostCpu.sample())
    val loopDone = uptimeS()
    val heapMb = ctx.heapMb.toSeq
    val setups = cold +: (1 to SetupReps).map(_ => setUp()._2)
    val counted = setups.tail
    info(f"jvm_uptime_s: cold_setup_done=$setupDone%.1f warmup_done=$warmDone%.1f " +
      f"loop_done=$loopDone%.1f setups_done=${uptimeS()}%.1f")
    val wall = median(ts.map(_.wallMs))
    val rowsPerS = f.rowsPerOp / (wall / 1e3)
    info(f"ops=${ts.size} op_ms_each=${ts.map(t => f"${t.wallMs}%.1f").mkString(",")} " +
      f"op_cpu_ms_each=${ts.map(t => f"${t.cpuMs}%.0f").mkString(",")} " +
      f"setup_wall_s_each=${setups.map(t => f"${t.wallMs / 1e3}%.3f").mkString(",")} " +
      f"setup_cpu_s_each=${setups.map(t => f"${t.cpuMs / 1e3}%.2f").mkString(",")} " +
      f"host_cpu_steal_share=$steal%.3f")
    val specific = f match {
      case w: WriteFamily =>
        f"write_rows_per_s=$rowsPerS%.1f stored_bytes_per_row=${w.written.map(_.bytes).sum.toDouble / w.written.map(_.rows).sum}%.3f"
      case d: DedupFamily =>
        f"dedup_docs_per_s=$rowsPerS%.1f dup_pair_recall=${d.recall}%.5f"
    }
    info(f"op_ms_p50=$wall%.1f setup_wall_s=${median(counted.map(_.wallMs)) / 1e3}%.3f $specific error_rate=${failed.toDouble / attempted} ($failed/$attempted) " +
      s"heap_after_gc_mb_each=${heapMb.map(x => f"$x%.1f").mkString(",")}")
    (attempted, failed, Seq(
      "setup_s" -> median(counted.map(_.cpuMs)) / 1e3,
      "op_cpu_ms_p50" -> median(ts.map(_.cpuMs)),
      "heap_after_gc_mb" -> median(heapMb)))
  }

  /** The traced run: the workload's own loop with spans on every other
    * op (the p50 of traced minus untraced ops is the tracing overhead),
    * then a few traced ops of the other two families, the dedup probe
    * (pair frame and both component solves on their own) and the
    * single-layer probes, so every ledger row is filled. */
  def ledger(seconds: Double, spansFile: Option[String]): (Int, Int, Seq[(String, Double)]) = {
    start()
    val own = family(workload)
    warm(own)
    val listener = new SpanListener
    ctx.spark.sparkContext.addSparkListener(listener)
    val (traced, untraced) = loop(own, seconds, interleave = true).partition(_._2)
    ctx.trace.enabled = true
    val fams = mutable.Map(workload -> own)
    ForeignOps.keys.toSeq.sorted.filter(_ != workload).foreach { w =>
      val f = family(w)
      fams(w) = f
      (1 to ForeignOps(w)).foreach { _ => ctx.trace.op += 1; once(f) }
      ctx.trace.op = 0
    }
    val df = fams("dedup").asInstanceOf[DedupFamily]
    attempted += 1
    if (!df.probe()) failed += 1
    val probes = probeLayers()
    val spans = ctx.trace.spans
    val counters = listener.snapshot(ctx.spark.sparkContext)
    spansFile.foreach { path =>
      new File(path).getParentFile.mkdirs()
      val w = new PrintWriter(path)
      try spans.foreach(s => w.println(Tracer.toJson(s, counters.get(s.id)))) finally w.close()
      info(s"spans written to $path")
    }
    val l = new Ledger(spans, counters, cores)
    val wf = fams("layout_write").asInstanceOf[WriteFamily]
    val qf = fams("box_query").asInstanceOf[QueryFamily]
    val written = wf.written ++ qf.layouts.values
    val writeOps = written.size.toDouble / Shape.All.size
    val dedupOps = l.named("dedup.op")
    val queryOps = l.named("box_query.op")
    val writeGroups = l.named("Layout.writeHilbertIndexed").groupBy(_.op).values.toSeq
    val writeSum = l.sum(l.named("Layout.writeHilbertIndexed"))
    val dedupSum = l.sum(dedupOps)
    (attempted, failed, probes ++ Seq(
      "core.ranges_us_per_box" -> l.medianMs("CurveRanges.ranges") * 1e3,
      "core.ranges_per_box" -> qf.rangesIssued.toDouble / qf.queries,
      "layout.write_s" -> median(writeGroups.map(g => g.map(_.ns).sum / 1e9)),
      "layout.write_shuffle_bytes" -> writeSum.shuffleWriteBytes / writeGroups.size.toDouble,
      "layout.write_spill_bytes" -> writeSum.spillBytes / writeGroups.size.toDouble,
      "layout.write_cpu_s" -> writeSum.cpuNs / 1e9 / writeGroups.size,
      "layout.write_busy_frac" -> l.busy(l.named("Layout.writeHilbertIndexed"), writeSum),
      "layout.row_groups_written" -> written.map(_.rowGroups).sum / writeOps,
      "layout.stored_bytes_per_row" -> written.map(_.bytes).sum.toDouble / written.map(_.rows).sum,
      "layout.open_ms" -> l.medianMs("layout.open"),
      "layout.plan_ms" -> l.medianMs("layout.plan"),
      "layout.exec_ms" -> l.medianMs("layout.exec"),
      "layout.jobs_per_query" -> l.sum(queryOps).jobs.toDouble / queryOps.size,
      "layout.row_groups_read" -> qf.rowGroupsRead.toDouble / qf.queries,
      "layout.scan_frac" -> qf.rowGroupsRead.toDouble / qf.rowGroupsTotal,
      "dedup.build_s" -> l.medianMs("Dedup.minhashPairs") / 1e3,
      "dedup.pairs_exec_s" -> l.medianMs("pairs.exec") / 1e3,
      "dedup.pairs_cc_s" -> l.medianMs("Dedup.connectedComponents") / 1e3,
      "dedup.cc_s" -> l.medianMs("cc.local") / 1e3,
      "dedup.cc_dist_s" -> l.medianMs("cc.distributed") / 1e3,
      "dedup.cc_rounds" -> df.rounds.toDouble,
      "dedup.pairs" -> df.pairs.toDouble,
      "dedup.pair_precision" -> df.precision,
      "dedup.dup_pair_recall" -> df.recall,
      "dedup.shuffle_bytes" -> dedupSum.shuffleWriteBytes / dedupOps.size.toDouble,
      "dedup.spill_bytes" -> dedupSum.spillBytes / dedupOps.size.toDouble,
      "dedup.jobs" -> dedupSum.jobs / dedupOps.size.toDouble,
      "dedup.busy_frac" -> l.busy(dedupOps, dedupSum),
      "bench.op_ms_p50" -> median(untraced.map(_._1.wallMs)),
      "bench.op_cpu_ms_p50" -> median(untraced.map(_._1.cpuMs)),
      "trace.overhead_ms_p50" ->
        (median(traced.map(_._1.wallMs)) - median(untraced.map(_._1.wallMs))),
      "trace.spans" -> spans.size.toDouble,
      "session.cores" -> cores.toDouble) ++
      Seq("core", "functions", "layout", "dedup", "bench").map(k => s"$k.self_s" -> l.selfS(k)))
  }

  /** Single-layer probes over the generated inputs: the codec on the
    * sampled points (one thread, pure JVM), and the sort-key and MinHash
    * expressions projected into the noop sink. */
  private def probeLayers(): Seq[(String, Double)] = {
    var sink = 0L
    def codec(name: String, pts: Array[Array[Long]], enc: Array[Long] => Long): Double =
      median((1 to 5).map { _ =>
        ctx.trace("core", name) {
          val t0 = System.nanoTime()
          var pass = 0
          while (pass < 10) { var i = 0; while (i < pts.length) { sink += enc(pts(i)); i += 1 }; pass += 1 }
          (System.nanoTime() - t0).toDouble / (10L * pts.length)
        }
      })
    def noop(name: String, rows: Long, frame: => org.apache.spark.sql.DataFrame): Double =
      median((1 to 3).map { _ =>
        ctx.trace("functions", name) {
          val t0 = System.nanoTime()
          frame.write.format("noop").mode("overwrite").save()
          rows / ((System.nanoTime() - t0) / 1e9)
        }
      })
    val s2 = pts.sample(Shape.TwoD.name)
    val s4 = pts.sample(Shape.FourD.name)
    val out = Seq(
      "core.hilbert_ns_2d32" -> codec("SFC.hilbertEncode", s2, p => SFC.hilbertEncode(p, 32).lo),
      "core.hilbert_ns_4d16" -> codec("SFC.hilbertEncode", s4, p => SFC.hilbertEncode(p, 16).lo),
      "core.morton_ns_2d32" -> codec("SFC.mortonEncode", s2, p => SFC.mortonEncode(p, 32).lo),
      "functions.sort_key_rows_per_s.2d" -> noop("Curves.hilbertSortKey", pts.rows,
        pts.table.select(Curves.hilbertSortKey(col("x").cast("int"), col("y").cast("int")))),
      "functions.sort_key_rows_per_s.4d" -> noop("Curves.hilbertSortKey", pts.rows,
        pts.table.select(Curves.hilbertSortKey(Shape.FourD.dims.map(c => col(c).cast("smallint")): _*))),
      "functions.minhash_sig_rows_per_s" -> noop("Dedup.minhashSignature", corpus.docs,
        corpus.table.select(Dedup.minhashSignature(col("text"), Dedup.MinHashParams()))))
    info(s"codec checksum=$sink")
    out
  }
}

/** Host CPU time from /proc/stat, to tell contention from other guests
  * (steal) apart from a slower program. */
object HostCpu {
  def sample(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
    (f.sum, f(7))
  }.toOption

  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => Double.NaN
  }
}

/** Span and counter arithmetic for the per-layer ledger. */
final class Ledger(spans: Seq[Span], counters: Map[Int, Counters], cores: Int) {
  private val children = spans.groupBy(_.parent)
  private val self = Tracer.selfNs(spans)

  def named(n: String): Seq[Span] = spans.filter(_.name == n)

  def medianMs(n: String): Double = Main.median(named(n).map(_.ns / 1e6))

  /** Counters of the spans and everything nested in them. */
  def sum(ss: Seq[Span]): Counters = {
    val c = new Counters
    def add(s: Span): Unit = {
      counters.get(s.id).foreach(c += _)
      children.getOrElse(s.id, Nil).foreach(add)
    }
    ss.foreach(add)
    c
  }

  /** Executor run time over the spans' wall time times the core count. */
  def busy(ss: Seq[Span], c: Counters): Double = c.runMs / 1e3 / (ss.map(_.ns).sum / 1e9 * cores)

  def selfS(layer: String): Double = spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1e9
}
