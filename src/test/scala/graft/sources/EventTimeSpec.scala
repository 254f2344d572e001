package graft.sources

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The event-time read boundary is TYPE-PARAMETRIC (round-10 verdict
  * ask #2): the driver's testdata has physically re-typed `events.ts`
  * once already (TIMESTAMP(NANOS) → timestamp[us]), which broke 17
  * queries and 14 tests at analysis time because consumers assumed one
  * shape. This spec pins the contract that prevents a recurrence: the
  * SAME event operators produce IDENTICAL rows whether `ts` arrives as
  * a nanos-since-epoch BIGINT or as a timestamp — so a future re-type
  * flips (at most) this one spec, not the suite.
  *
  * Both twin frames are synthesized from the real events table with
  * the nanos value derived ON THE DRIVER via java.time epoch
  * arithmetic — deliberately NOT via [[EventTime]], so the assertion
  * is against an independent implementation of the conversion.
  */
class EventTimeSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Independent driver-side nanos derivation for whatever physical
    * type the current testdata carries. */
  private def nsOf(r: Row, idx: Int, dt: DataType): Long = dt match {
    case LongType => r.getLong(idx)
    case TimestampNTZType =>
      val ldt = r.getAs[LocalDateTime](idx)
      ldt.toEpochSecond(ZoneOffset.UTC) * 1000000000L + ldt.getNano
    case TimestampType =>
      val inst = r.getAs[java.time.Instant](idx)
      inst.getEpochSecond * 1000000000L + inst.getNano
    case other => fail(s"unexpected ts type $other")
  }

  /** (long-ns twin, timestamp-µs twin) of the real events table —
    * identical values, different physical `ts` type. */
  private lazy val twins: (DataFrame, DataFrame) = {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("user_id", "event_id", "ts", "props")
    val dt = raw.schema("ts").dataType
    val base = raw.collect().map { r =>
      (r.getLong(0), r.getLong(1), nsOf(r, 2, dt), r.getString(3))
    }.toSeq
    val longRows = base.map { case (u, e, ns, p) => Row(u, e, ns, p) }
    val ntzRows = base.map { case (u, e, ns, p) =>
      Row(u, e, LocalDateTime.ofEpochSecond(
        Math.floorDiv(ns, 1000000000L), Math.floorMod(ns, 1000000000L).toInt,
        ZoneOffset.UTC), p)
    }
    def mk(rows: Seq[Row], tsType: DataType) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("ts", tsType), StructField("props", StringType))))
    (mk(longRows, LongType), mk(ntzRows, TimestampNTZType))
  }

  test("normalizeNs yields the identical nanos column for both physical types") {
    val (eLong, eNtz) = twins
    def tsSet(df: DataFrame) = EventTime.normalizeNs(df)
      .select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = tsSet(eLong)
    val b = tsSet(eNtz)
    assert(a.nonEmpty)
    assert(a == b)
    // and the normalized type IS the convention: BIGINT nanos
    assert(EventTime.normalizeNs(eNtz).schema("ts").dataType == LongType)
  }

  test("a representative event operator is invariant to the physical ts type") {
    val (eLong, eNtz) = twins
    // sessionization: normalize -> µs arithmetic -> window -> aggregate,
    // the same body q_sessionize runs
    def sessions(df: DataFrame) =
      graft.streaming.Sessionize.batch(graft.streaming.Sessionize.project(df))
        .collect().map(_.toSeq).toSet
    assert(sessions(eLong) == sessions(eNtz))
    // and a day-bucketed aggregate (the DayNs // pattern of
    // resample/retention/DAU/anomaly)
    val DayNs = 86400000000000L
    def daily(df: DataFrame) = EventTime.normalizeNs(df)
      .groupBy(graft.text.TextFunctions.intDiv(col("ts"), lit(DayNs)).as("day_idx"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(daily(eLong) == daily(eNtz))
  }

  test("a timestamp-typed ts rejects nothing the long path accepts: arithmetic compiles") {
    val (_, eNtz) = twins
    // the exact expression shape that failed at analysis time in round
    // 10 (intDiv on a raw timestamp) must analyze cleanly post-boundary
    val out = EventTime.normalizeNs(eNtz)
      .select(graft.text.TextFunctions.intDiv(col("ts"), lit(1000L)).as("ts_us"))
    assert(out.schema("ts_us").dataType == LongType)
    assert(out.limit(1).collect().nonEmpty)
  }
}
