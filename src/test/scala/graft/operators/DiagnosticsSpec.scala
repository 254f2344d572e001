package graft.operators

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Behavioral contracts of the pre-flight diagnostics that the
  * oracle's value-hash can't state as an invariant: the skew profile
  * must rank by exact counts with a flat-profile identity, and the
  * snapshot diff classes must partition the id universe.
  */
class DiagnosticsSpec extends AnyFunSuite with LocalSparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("winsorize: hand-computed bounds, clip counts, winsorized sum; constant group degenerates") {
    import spark.implicits._
    // group a: cents 1..20 -> lo = rank ceil(1.0)=1 -> 1, hi = rank 19
    // group b: four identical 0.05 -> lo = hi = 5, nothing clips
    val rows = (1 to 20).map(i => ("a", i / 100.0)) ++
      Seq.fill(4)(("b", 0.05))
    val out = Diagnostics.winsorize(rows.toDF("event_type", "value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out("a") == ((20L, 1L, 19L, 0L, 1L, 209L)))
    assert(out("b") == ((4L, 5L, 5L, 0L, 0L, 20L)))
  }

  test("winsorize: null values are excluded before ranking") {
    import spark.implicits._
    val rows = Seq(("a", Some(0.01)), ("a", None), ("a", Some(0.03)))
    val out = Diagnostics.winsorize(rows.toDF("event_type", "value"))
      .collect()
    assert(out.length == 1 && out.head.getLong(1) == 2L)
  }

  test("skewProfile: ranks are 1..k, shares match exact recounts") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val prof = Diagnostics.skewProfile(ev, "user_id", 5).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(prof.map(_.getAs[Long]("rank")).toSeq == (1L to prof.length))
    // monotone non-increasing counts down the ranking
    prof.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n") >= b.getAs[Long]("n"))
      case _ =>
    }
    // every row carries the same global context, recounted exactly
    val nRows = ev.count()
    val nKeys = ev.select("user_id").distinct().count()
    prof.foreach { r =>
      assert(r.getAs[Long]("n_rows") == nRows)
      assert(r.getAs[Long]("n_keys") == nKeys)
      assert(r.getAs[Long]("share_ppm") ==
        r.getAs[Long]("n") * 1000000L / nRows)
      assert(r.getAs[Long]("skew_x_avg_ppm") ==
        r.getAs[Long]("n") * nKeys * 1000000L / nRows)
    }
    // the top key's count matches a direct recount
    val top = prof.head
    val recount = ev.filter(col("user_id").cast("string") === top.getAs[String]("key")).count()
    assert(top.getAs[Long]("n") == recount)
  }

  test("skewProfile: a perfectly flat key has skew_x_avg exactly 1e6") {
    import spark.implicits._
    val flat = (0 until 40).map(i => (i % 8, s"v$i")).toDF("k", "v")
    val prof = Diagnostics.skewProfile(flat, "k", 3).collect()
    assert(prof.nonEmpty)
    prof.foreach { r =>
      assert(r.getAs[Long]("skew_x_avg_ppm") == 1000000L)
    }
  }

  test("watermarkAudit: equals the naive global-window recount, bucket-invariant") {
    import spark.implicits._
    // hand-built arrival disorder: event 4 (t=100) arrives before
    // event 3 (t=40, 60 late), event 6 (t=90, 110 late after t=200)
    val rows = Seq(
      (1L, 10000L, 1L), (2L, 30000L, 2L), (4L, 100000L, 3L), (3L, 40000L, 4L),
      (5L, 200000L, 5L), (6L, 90000L, 6L))
    val df = rows.toDF("event_id", "ts", "arrival")
    def audit(nB: Int) = Diagnostics.watermarkAudit(
      df, Seq(50000L, 120000L), nBuckets = nB).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // naive recount: running max in arrival order (exclusive)
    val sorted = rows.sortBy(r => (r._3, r._1))
    def naive(w: Long) = sorted.zipWithIndex.count { case ((_, t, _), i) =>
      i > 0 && t < sorted.take(i).map(_._2).max - w
    }.toLong
    val a = audit(3)
    assert(a(50L) == ((6L, naive(50000L), naive(50000L) * 1000000L / 6)))
    assert(a(50L)._2 == 2L) // events 3 and 6 are >50µs behind the max seen
    // the wider watermark catches both stragglers: nothing dropped
    assert(a(120L)._2 == naive(120000L) && a(120L)._2 == 0L)
    // bucket decomposition is invisible: any nBuckets, same answer
    assert(audit(1) == a && audit(7) == a)
  }

  test("contingency: integer chi2_ppm tracks the float statistic within cell rounding") {
    val r = SparkEntry.queries("q_contingency")(spark, dir).collect().head
    val chi2Ppm = BigInt(r.getString(0))
    val df = r.getLong(1)
    val n = r.getLong(2)
    // independent exact recount from the raw rows, in BigInt
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "lang").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    val cells = docs.groupBy(identity).map { case (k, v) => k -> v.size }
    val rows = docs.groupBy(_._1).map { case (k, v) => k -> v.size }
    val cols = docs.groupBy(_._2).map { case (k, v) => k -> v.size }
    val bigN = BigInt(docs.size)
    val recount = (for (s <- rows.keys.toSeq; l <- cols.keys.toSeq) yield {
      val o = BigInt(cells.getOrElse((s, l), 0))
      val d = o * bigN - BigInt(rows(s)) * BigInt(cols(l))
      d * d * 1000000 / (BigInt(rows(s)) * BigInt(cols(l)) * bigN)
    }).sum
    assert(df == (rows.size - 1L) * (cols.size - 1L))
    assert(n == docs.size.toLong)
    assert(chi2Ppm == recount, s"chi2_ppm=$chi2Ppm recount=$recount")
  }

  test("corpusDiff classes partition the id universe and match set algebra") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
    val newSnap = docs.filter(col("doc_id") % 13 =!= 5)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(coalesce(col("text"), lit("")), lit(" v2")))
        .otherwise(col("text")))
    val byClass = Diagnostics.corpusDiff(oldSnap, newSnap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val oldIds = oldSnap.select("doc_id").collect().map(_.getLong(0)).toSet
    val newIds = newSnap.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byClass.getOrElse("added", 0L) == (newIds -- oldIds).size)
    assert(byClass.getOrElse("removed", 0L) == (oldIds -- newIds).size)
    val common = (oldIds & newIds).size
    assert(byClass.getOrElse("changed", 0L) +
      byClass.getOrElse("unchanged", 0L) == common)
    // changed is exactly the revised (%7==0) ids that survive both snapshots
    assert(byClass.getOrElse("changed", 0L) ==
      (oldIds & newIds).count(_ % 7 == 0))
    // totals partition the union
    assert(byClass.values.sum == (oldIds | newIds).size)
  }

  test("diffClassify emits exactly one row per id in either snapshot") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val oldSnap = docs.filter(col("doc_id") < 400)
    val newSnap = docs.filter(col("doc_id") >= 200)
    val cls = Diagnostics.diffClassify(oldSnap, newSnap, "doc_id", "text")
    assert(cls.count() == docs.count())
    assert(cls.select("id").distinct().count() == cls.count())
    // identical texts on the overlap: everything common is unchanged
    val m = cls.groupBy("class").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.getOrElse("changed", 0L) == 0L)
  }
}
