package graft.operators

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Behavioral contracts of the host-SQL event operators that the
  * oracle's value-hash can't state as an INVARIANT: SCD-2 intervals
  * must chain gaplessly per user, grouping-set flags must mirror the
  * set structure, and quality deciles must be balanced buckets.
  */
class EventOpsSpec extends AnyFunSuite with LocalSparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("anomaly_mad: median/MAD/flags match an independent driver recount") {
    val rows = SparkEntry.queries("q_events_anomaly_mad")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      // recompute the discrete lower median over (value, day) order
      def lowerMed(vs: Seq[Long]): Long = vs.sorted.apply((vs.length + 1) / 2 - 1)
      val med = lowerMed(rs.toSeq.sortBy(_.getLong(1)).map(_.getLong(2)))
      val mad = lowerMed(rs.toSeq.map(r => math.abs(r.getLong(2) - med)))
      rs.foreach { r =>
        assert(r.getLong(3) == med, s"median mismatch: $r")
        assert(r.getLong(4) == mad, s"mad mismatch: $r")
        assert(r.getBoolean(5) == (math.abs(r.getLong(2) - med) > 3 * mad),
          s"flag mismatch: $r")
      }
    }
  }

  test("sample_topk: exactly k, partitioning-invariant, a pure function of ids") {
    val a = SparkEntry.queries("q_sample_topk")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val expected = math.min(100L,
      spark.read.parquet(s"$dir/documents.parquet").count())
    assert(a.size.toLong == expected)
    // rerun sees the identical set (no RNG, no order dependence)
    val b = SparkEntry.queries("q_sample_topk")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("dedup_calibration: level counts sum to the unthresholded candidate total") {
    val levels = SparkEntry.queries("q_dedup_calibration")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val total = graft.dedup.Dedup.minhashPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      graft.dedup.Dedup.MinHashParams(minMatches = 0)).count()
    spark.catalog.clearCache()
    assert(levels.values.sum == total && total > 0)
    assert(levels.keys.forall(k => k >= 0 && k <= 12))
  }

  test("abtest: the integer inequality equals the float z-test away from the boundary") {
    val r = SparkEntry.queries("q_events_abtest")(spark, dir).collect().head
    val (n1, x1, n2, x2) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n1 > 0 && n2 > 0 && x1 <= n1 && x2 <= n2)
    // recompute the divide-free inequality in BigInt
    def intSig(n1: Long, x1: Long, n2: Long, x2: Long): Boolean = {
      val (bn1, bx1, bn2, bx2) = (BigInt(n1), BigInt(x1), BigInt(n2), BigInt(x2))
      val d = bx1 * bn2 - bx2 * bn1
      val nn = bn1 + bn2; val xx = bx1 + bx2
      d * d * nn * 10000 > BigInt(38416) * bn1 * bn2 * xx * (nn - xx)
    }
    assert(r.getBoolean(4) == intSig(n1, x1, n2, x2))
    // the rational form tracks the float z² on a grid of clear cases
    for ((a1, c1, a2, c2) <- Seq((100L, 50L, 100L, 90L), (100L, 50L, 100L, 52L),
      (1000L, 100L, 1000L, 200L), (50L, 10L, 50L, 11L))) {
      val p1 = c1.toDouble / a1; val p2 = c2.toDouble / a2
      val pp = (c1 + c2).toDouble / (a1 + a2)
      val z2 = math.pow(p1 - p2, 2) / (pp * (1 - pp) * (1.0 / a1 + 1.0 / a2))
      assert(intSig(a1, c1, a2, c2) == (z2 > 3.8416), s"($a1,$c1,$a2,$c2) z2=$z2")
    }
  }

  test("transitions: totals balance and probabilities partition each from-state") {
    val rows = SparkEntry.queries("q_events_transitions")(spark, dir).collect()
    assert(rows.nonEmpty)
    // per from-state: sum of floor-divided ppm is within (#rows) of 1e6
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val tot = rs.map(_.getLong(2)).sum
      rs.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000000L / tot))
      val ppmSum = rs.map(_.getLong(3)).sum
      assert(ppmSum <= 1000000L && ppmSum > 1000000L - rs.length)
    }
    // total transitions == total events minus one per active user
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expected)
  }

  test("scd2: per-user intervals chain gaplessly, exactly one current row") {
    val rows = SparkEntry.queries("q_events_scd2")(spark, dir)
      .select("user_id", "valid_from_us", "valid_to_us", "is_current")
      .collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (user, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      // every non-final interval closes at the next one's open
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(2) && a.getLong(2) == b.getLong(1),
            s"user $user: interval ${a.getLong(1)} closes at " +
              s"${if (a.isNullAt(2)) "NULL" else a.getLong(2)}, next opens ${b.getLong(1)}")
        case _ => ()
      }
      // the final interval is open-ended and is the ONLY current row
      assert(sorted.last.isNullAt(2), s"user $user: last interval not open")
      assert(sorted.count(_.getLong(3) == 1L) == 1, s"user $user: current-count != 1")
      assert(sorted.filter(_.getLong(3) == 1L).head.getLong(1) == sorted.last.getLong(1))
    }
  }

  test("grouping sets: flags mirror the declared sets; (0,0) rows == plain groupBy") {
    val df = SparkEntry.queries("q_agg_grouping_sets")(spark, dir)
      .select("g_type", "g_mod", "n").collect()
    // exactly the three declared sets appear — no grand total
    val flags = df.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags == Set((0L, 0L), (0L, 1L), (1L, 0L)), flags)
    // the fully-grouped stratum is the plain two-column groupBy
    val full = df.filter(r => r.getLong(0) == 0L && r.getLong(1) == 0L)
    val plain = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"), (col("user_id") % 10).as("user_mod"))
        .count().collect()
    }
    assert(full.length == plain.length)
    assert(full.map(_.getLong(2)).sum == plain.map(_.getLong(2)).sum)
  }

  test("quality deciles: balanced buckets, only the top-3 kept") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = SparkEntry.queries("q_quality_deciles")(spark, dir)
      .groupBy("source", "decile").count().collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sizes = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L)), s"$src: $sizes")
      // ntile buckets differ by at most one row
      assert(sizes.values.max - sizes.values.min <= 1, s"$src: $sizes")
      // and each is n/10 rounded — the balanced-bucket contract
      val n = perSource(src)
      assert(sizes.values.forall(s => s == n / 10 || s == n / 10 + 1), s"$src: $sizes n=$n")
    }
  }
}
