package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One key shape of the point table: the columns the curve key is built
  * from, their Spark type and the per-dimension grid width. */
final case class Shape(name: String, dims: Seq[String], elemType: String, bits: Int) {
  val domain: Long = 1L << (bits - 1) // keys are non-negative, so the top bit stays 0
  def typed(v: Long): Column = if (elemType == "int") lit(v.toInt) else lit(v.toShort)
}

object Shape {
  val TwoD = Shape("2d", Seq("x", "y"), "int", 32)
  val FourD = Shape("4d", Seq("a", "b", "c", "d"), "smallint", 16)
  val All = Seq(TwoD, FourD)
}

/** An inclusive per-dimension box; `target` is the share of rows it was
  * sized to select. */
final case class Box(shape: Shape, lo: Array[Long], hi: Array[Long], target: Double) {
  /** Whether the point at `p(off) .. p(off + rank - 1)` lies in the box. */
  def contains(p: Array[Long], off: Int = 0): Boolean = {
    var i = 0
    while (i < lo.length) { if (p(off + i) < lo(i) || p(off + i) > hi(i)) return false; i += 1 }
    true
  }
  def predicate: Column = shape.dims.indices
    .map(i => col(shape.dims(i)).between(shape.typed(lo(i)), shape.typed(hi(i)))).reduce(_ && _)
}

/** The point table every layout op reads: `rows` rows of 2-D int keys
  * (x, y), 4-D smallint keys (a..d) and a 64-byte payload, cached in
  * memory. Half the points are uniform and half fall in Gaussian blobs
  * of fixed centre and width, so the range exchange sees skew and
  * boxes of equal side select very different row counts. Every row is a
  * function of (seed, id), so the table does not depend on partitioning. */
final class PointData(ctx: Ctx, val seed: Long, val rows: Long) {
  import PointData._

  private val gen = PointGen(seed)

  val table: DataFrame = {
    val g = gen
    val rdd = ctx.spark.sparkContext.range(0L, rows, 1, ctx.cores).map { id =>
      val k = g.keys(id)
      Row(id, k(0).toInt, k(1).toInt, k(2).toShort, k(3).toShort, k(4).toShort, k(5).toShort,
        g.payload(id))
    }
    val keys = Shape.All.flatMap(s => s.dims.map(d =>
      StructField(d, if (s.elemType == "int") IntegerType else ShortType, nullable = false)))
    ctx.input(ctx.spark.createDataFrame(rdd, StructType(
      StructField("id", LongType, nullable = false) +: keys :+
        StructField("payload", StringType, nullable = false))))
  }

  /** Every `SampleStride`-th row's keys, per shape, on the driver: the
    * codec probe's input and the calibration set for box sizes. */
  val sample: Map[String, Array[Array[Long]]] = {
    val ks = (0L until rows by SampleStride.toLong).map(gen.keys).toArray
    Shape.All.map { s =>
      val o = Shape.All.takeWhile(_ != s).map(_.dims.size).sum
      s.name -> ks.map(_.slice(o, o + s.dims.size))
    }.toMap
  }

  /** Seeded boxes, cycling 2-D/4-D and the three target selectivities.
    * Each is an L-infinity cube around a sampled point whose half-side is
    * the distance to the k-th nearest sample point, k = target x sample. */
  def boxes(n: Int): IndexedSeq[Box] = {
    val r = new SplittableRandom(seed ^ 0x5eedb0e5L)
    (0 until n).map { i =>
      val s = Shape.All(i % Shape.All.size)
      val target = Selectivities((i / Shape.All.size) % Selectivities.size)
      val pts = sample(s.name)
      val c = pts(r.nextInt(pts.length))
      val dist = pts.map { p =>
        var m = 0L
        var j = 0
        while (j < p.length) { m = math.max(m, math.abs(p(j) - c(j))); j += 1 }
        m
      }
      java.util.Arrays.sort(dist)
      val h = dist(math.max(1, math.round(target * pts.length).toInt)) // dist(0) is the centre
      Box(s, c.map(v => math.max(0L, v - h)), c.map(v => math.min(s.domain - 1, v + h)), target)
    }
  }

  /** Exact count of every box, by brute force over the cached source. */
  def bruteCounts(bs: IndexedSeq[Box]): Array[Long] = {
    val cols = Shape.All.flatMap(_.dims)
    val offs = Shape.All.scanLeft(0)(_ + _.dims.size)
    val plan = bs.map(b => (offs(Shape.All.indexOf(b.shape)), b)).toArray
    table.select(cols.map(col): _*).rdd.mapPartitions { it =>
      val cnt = new Array[Long](plan.length)
      val p = new Array[Long](cols.size)
      it.foreach { row =>
        var j = 0
        while (j < p.length) { p(j) = row.getAs[Number](j).longValue(); j += 1 }
        var k = 0
        while (k < plan.length) { if (plan(k)._2.contains(p, plan(k)._1)) cnt(k) += 1; k += 1 }
      }
      Iterator(cnt)
    }.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
  }

  def describe: String =
    s"rows=$rows keys=2d_int32+4d_int16 uniform_share=$UniformShare gaussian_blobs=$Blobs " +
      "blob_sigma_share=0.002..0.02 " +
      s"payload_bytes=64 sample=${sample.head._2.length}"
}

object PointData {
  val Blobs = 8
  val UniformShare = 0.5
  val SampleStride = 10
  val Selectivities = Seq(1e-4, 1e-3, 1e-2)
}

/** The per-row generator behind [[PointData]]: each row from its own
  * seeded stream. */
final case class PointGen(seed: Long) {
  import PointData._

  /** Per shape, per blob: centre and sigma per dim, as domain shares.
    * Both are fixed (centres on a golden-ratio lattice, sigmas in even
    * steps), so every seed has the same skew: the seed changes the
    * points, not how much work they make. */
  private val blobs: Array[Array[(Array[Double], Array[Double])]] =
    Shape.All.map(s => Array.tabulate(Blobs) { j =>
      (Array.tabulate(s.dims.size) { i =>
        val x = (j + 0.5) / Blobs + (i + 1) * (j + 1) * 0.6180339887
        0.1 + 0.8 * (x - math.floor(x))
      }, Array.fill(s.dims.size)(0.002 + 0.018 * j / (Blobs - 1)))
    }).toArray

  /** x, y, a, b, c, d of row `id`. */
  def keys(id: Long): Array[Long] = {
    val r = new SplittableRandom(DocData.mix(seed, id))
    val out = new Array[Long](6)
    var o = 0
    Shape.All.zipWithIndex.foreach { case (s, si) =>
      val inBlob = r.nextDouble() >= UniformShare
      val (centre, sigma) = blobs(si)(r.nextInt(Blobs))
      s.dims.indices.foreach { i =>
        val share = if (inBlob) centre(i) + sigma(i) * r.nextGaussian() else r.nextDouble()
        out(o + i) = math.max(0L, math.min(s.domain - 1, math.floor(share * s.domain).toLong))
      }
      o += s.dims.size
    }
    out
  }

  def payload(id: Long): String = {
    val r = new SplittableRandom(DocData.mix(~seed, id))
    val c = new Array[Char](64)
    var i = 0
    while (i < 64) {
      val v = r.nextLong()
      var j = 0
      while (j < 16) { c(i + j) = Character.forDigit(((v >>> (4 * j)) & 15).toInt, 16); j += 1 }
      i += 16
    }
    new String(c)
  }
}

/** A document corpus with planted near-duplicate clusters. Cluster sizes
  * follow a Pareto law (alpha 1.2, 2..400 docs), so a few clusters
  * exceed the 64-doc LSH bucket cap; half the docs are cluster members,
  * the rest unrelated. A member is its cluster's base text with 2% of
  * tokens replaced. Ids are a seeded permutation, so clusters are not
  * id ranges. Text is a function of (seed, id), built on the executors
  * and written to Parquet, which every dedup pass reads. */
final class DocData(ctx: Ctx, val seed: Long, val docs: Int) {
  import DocData._

  /** Planted cluster of each doc id, -1 for a singleton. */
  val clusterOf: Array[Int] = {
    val r = new SplittableRandom(seed)
    val sizes = Iterator.from(0).map(k => Pareto(k)).scanLeft(0)(_ + _)
      .takeWhile(_ <= docs / 2).sliding(2).collect { case Seq(a, b) => b - a }.toSeq
    val perm = (0 until docs).toArray
    var i = docs - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    val out = Array.fill(docs)(-1)
    var next = 0
    sizes.zipWithIndex.foreach { case (s, c) =>
      (0 until s).foreach { k => out(perm(next + k)) = c }
      next += s
    }
    out
  }
  val clusters: Int = if (clusterOf.isEmpty) 0 else clusterOf.max + 1

  val table: DataFrame = {
    val co = clusterOf
    val sd = seed
    val rdd = ctx.spark.sparkContext.range(0L, docs.toLong, 1, ctx.cores)
      .map(id => Row(id, text(sd, id, co(id.toInt))))
    val path = s"${ctx.work}/docs-$seed-$docs"
    ctx.spark.createDataFrame(rdd, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))))
      .write.mode("overwrite").parquet(path)
    ctx.spark.read.parquet(path)
  }

  /** Planted duplicate pairs: sum over clusters of size choose 2. */
  val plantedPairs: Long = clusterOf.filter(_ >= 0).groupBy(identity).values
    .map(m => m.length.toLong * (m.length - 1) / 2).sum

  def describe: String = {
    val sizes = clusterOf.filter(_ >= 0).groupBy(identity).values.map(_.length).toSeq
    s"docs=$docs clusters=$clusters planted_pairs=$plantedPairs max_cluster=${sizes.max} " +
      s"clusters_over_64=${sizes.count(_ > 64)} tokens=$MinTokens..$MaxTokens edit_rate=$EditRate"
  }
}

object DocData {
  val Alpha = 1.2
  val MaxCluster = 400
  /** Cluster sizes: the Pareto law's quantiles, interleaved so that any
    * prefix holds small and large clusters alike. The same for every
    * seed, so the seed changes which docs and texts, not how much work. */
  private val Quantiles = 256
  def Pareto(k: Int): Int = {
    val q = (((k % Quantiles) * 97) % Quantiles + 0.5) / Quantiles
    math.min(MaxCluster, math.floor(2.0 * math.pow(1.0 - q, -1.0 / Alpha)).toInt)
  }
  val Vocab = 50000
  val MinTokens = 40
  val MaxTokens = 120
  val EditRate = 0.02

  def mix(a: Long, b: Long): Long = new SplittableRandom(a * 0x9e3779b97f4a7c15L + b).nextLong()

  private def word(r: SplittableRandom): String = "w" + Integer.toString(r.nextInt(Vocab), 36)

  def text(seed: Long, id: Long, cluster: Int): String =
    if (cluster < 0) {
      val r = new SplittableRandom(mix(seed, id))
      Seq.fill(MinTokens + r.nextInt(MaxTokens - MinTokens + 1))(word(r)).mkString(" ")
    } else {
      val base = new SplittableRandom(mix(seed, -1L - cluster))
      val edit = new SplittableRandom(mix(seed, id))
      Seq.fill(MinTokens + base.nextInt(MaxTokens - MinTokens + 1))(word(base))
        .map(w => if (edit.nextDouble() < EditRate) word(edit) else w).mkString(" ")
    }
}
