package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming over the events table: the library's
  * expressions and transforms are stateless scalars, so the same
  * pipeline definition runs batch or streaming unchanged — this spec
  * proves it by running a watermarked windowed aggregation as a file
  * stream into a memory sink and comparing against the identical batch
  * computation.
  */
class StreamingSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The PRODUCT tumbling-window aggregation (q_events_tumbling's
    * definition): one body for batch and stream — the stream==batch
    * assertion below is over the operator users actually run. */
  private def hourlyAgg(ev: DataFrame): DataFrame = TumblingAgg.agg(ev)

  test("file-stream windowed aggregation matches the batch result") {
    // stage the events file in its own directory (file streams read dirs)
    val inDir = Files.createTempDirectory("graft_stream_in")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val batch = spark.read.parquet(inDir.toString)
    val schema = batch.schema

    val q = hourlyAgg(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inDir.toString))
      .writeStream.format("memory").queryName("ev_hourly")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("ev_hourly").collect().map(key).sorted.toSeq
    val batched = hourlyAgg(batch).collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batched)
  }

  test("file-stream hopping-window aggregation matches the batch result") {
    val inDir = Files.createTempDirectory("graft_stream_hop_in")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val batch = spark.read.parquet(inDir.toString)
    val q = TumblingAgg.hopping(
        spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString))
      .writeStream.format("memory").queryName("ev_hopping")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("ev_hopping").collect().map(key).sorted.toSeq
    val batched = TumblingAgg.hopping(batch).collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batched)
    // each event lands in exactly win/slide = 2 windows
    val nTumbling = TumblingAgg.agg(batch).agg(sum("n")).collect()(0).getLong(0)
    assert(streamed.map(_._3).sum == 2 * nTumbling)
  }

  test("stream-stream interval join matches the batch attribution") {
    val inDir = Files.createTempDirectory("graft_stream_join_in")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val batch = spark.read.parquet(inDir.toString)
    val schema = batch.schema
    def stream() =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inDir.toString)

    // the PRODUCT definition, once on two streams, once on two batches
    val q = StreamJoin.attribution(stream(), stream())
      .writeStream.format("memory").queryName("ev_attr")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("ev_attr").collect().map(key).sorted.toSeq
    val batched = StreamJoin.attribution(batch, batch).collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batched)
  }

  test("grid quantile sketch runs as a streaming aggregation (merge law in the engine)") {
    // the sketch is mergeable by summation (QuantilesSpec's merge law),
    // so it IS a valid streaming aggregate: Structured Streaming's
    // incremental state update per micro-batch is exactly that merge —
    // the same definition, batch or stream, same cells out
    val inDir = Files.createTempDirectory("graft_stream_sketch")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(inDir.toString)
    val schema = batch.schema
    def sketch(ev: DataFrame) =
      graft.sketch.Quantiles.gridHistogram(
        ev.select(org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("value")),
        "value", "event_type", 0.0, 500.0, 8)
    val q = sketch(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inDir.toString))
      .writeStream.format("memory").queryName("ev_sketch")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1), r.getLong(2))
    val streamed = spark.table("ev_sketch").collect().map(key).sorted.toSeq
    val batched = sketch(batch).collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batched)
  }

  test("curve expressions run unchanged inside a streaming projection") {
    import graft.functions.Curves
    val inDir = Files.createTempDirectory("graft_stream_curve")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(inDir.toString).schema

    val proj = spark.readStream.schema(schema).parquet(inDir.toString)
      .select(col("event_id"),
        Curves.curveKeyStr(Curves.hilbertEncode(
          col("user_id").cast("int"), col("event_id").cast("int"))).as("hkey"))
    val q = proj.writeStream.format("memory").queryName("ev_curve")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()

    val rows = spark.table("ev_curve").collect()
    assert(rows.length == spark.read.parquet(inDir.toString).count())
    assert(rows.forall(_.getString(1).nonEmpty))
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark == batch dedup") {
    import spark.implicits._
    // replayed documents (same content hash) arriving at different times
    val inDir = Files.createTempDirectory("graft_stream_dedup")
    val docs = Seq(
      (1L, 1000L, "alpha beta"), (2L, 2000L, "gamma"), (3L, 3000L, "alpha beta"),
      (4L, 4000L, "delta"), (5L, 5000L, "gamma"), (6L, 6000L, "epsilon"))
      .toDF("doc_id", "ts_us", "text")
      .select(col("doc_id"), col("ts_us"), col("text"),
        graft.text.TextFunctions.contentHash(col("text")).as("content_hash"))
    docs.coalesce(1).write.mode("overwrite").parquet(inDir.toString)
    val schema = docs.schema

    val q = spark.readStream.schema(schema).parquet(inDir.toString)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .select("doc_id", "content_hash")
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("doc_dedup").collect()
      .map(r => r.getString(1)).sorted.toSeq
    val batched = docs.dropDuplicates("content_hash").collect()
      .map(_.getString(3)).sorted.toSeq
    assert(streamed == batched)       // one survivor per distinct content
    assert(streamed.size == 4)
  }

  test("streaming curve-partitioned ingestion: no loss, pruning, disjoint ranges") {
    import graft.layout.Layout
    val inDir = Files.createTempDirectory("graft_stream_curve_in")
    val outDir = Files.createTempDirectory("graft_stream_curve_out")
    val ckDir = Files.createTempDirectory("graft_stream_curve_ck")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/lineitem.parquet"),
      inDir.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(inDir.toString)
    // shift is tuned to the OCCUPIED key space (like any truncated-key
    // partitioning): sf0.001's Hilbert keys fit 16 bits (max 61566),
    // so >>8 yields ~13 buckets here
    val shift = 8

    val q = Layout.streamCurvePartitioned(
      spark.readStream.schema(batch.schema).parquet(inDir.toString),
      Seq("l_partkey", "l_suppkey"), shift, outDir.toString, ckDir.toString)
    try q.processAllAvailable()
    finally q.stop()

    val back = spark.read.parquet(outDir.toString)
    // 1. lossless: every row arrived exactly once
    assert(back.count() == batch.count())
    // 2. the bucket column is a partition directory -> a bucket filter
    //    prunes partitions (only matching dirs are scanned)
    // partition-dir values are type-inferred on read -> cast explicitly
    val buckets = back.select(col("curve_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(buckets.length > 1)
    val one = back.filter(col("curve_bucket") === buckets.head)
    val scan = one.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters: [isnotnull(curve_bucket"), scan)
    // 3. buckets are contiguous curve ranges: per-bucket sort-key
    //    ranges are DISJOINT (the locality guarantee a reader relies on)
    import graft.functions.Curves
    val ranges = back
      .withColumn("sk", Curves.hilbertSortKey(
        col("l_partkey").cast("int"), col("l_suppkey").cast("int")))
      .groupBy(col("curve_bucket").cast("long").as("b"))
      .agg(min("sk").as("lo"), max("sk").as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    ranges.sliding(2).foreach {
      case Array((_, _, hiPrev), (_, loNext, _)) => assert(hiPrev < loNext)
      case _ => ()
    }
  }

  test("streaming MinHash near-dedup: band-anchor pairs == batch spec") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_stream_minhash")
    // two near-dup families + noise, arriving in ts order across two
    // files (so anchors must persist in state between micro-batches)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"aaa$i").mkString(" ")
    val batch1 = Seq(
      (1L, 1000L, base), (2L, 2000L, other),
      (3L, 3000L, (1 to 40).map(i => s"zzz$i").mkString(" ")))
    val batch2 = Seq(
      (4L, 4000L, base.replace("tok7", "tokX")),   // near-dup of 1
      (5L, 5000L, other),                          // exact dup of 2
      (6L, 6000L, (1 to 40).map(i => s"qqq$i").mkString(" ")))
    batch1.toDF("doc_id", "ts_us", "text").coalesce(1)
      .write.mode("overwrite").parquet(inDir.toString + "/b1")
    val schema = batch1.toDF("doc_id", "ts_us", "text").schema

    val q = StreamDedup.nearDupPairs(
        spark.readStream.schema(schema).parquet(inDir.toString + "/*"))
      .toDF()
      .writeStream.format("memory").queryName("doc_neardup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      batch2.toDF("doc_id", "ts_us", "text").coalesce(1)
        .write.mode("overwrite").parquet(inDir.toString + "/b2")
      q.processAllAvailable()
    } finally q.stop()

    // distinct (anchor, doc) set; per-band multiplicity is emission detail
    val streamed = spark.table("doc_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = (batch1 ++ batch2).toDF("doc_id", "ts_us", "text")
    val batched = StreamDedup.nearDupPairsBatch(all).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batched)
    // the planted structure: both families found, noise docs in no pair
    assert(streamed.contains((1L, 4L)) && streamed.contains((2L, 5L)))
    val paired = streamed.flatMap(p => Set(p._1, p._2))
    assert(!paired.contains(3L) && !paired.contains(6L))
  }

  test("streaming ingest dedup through the persisted index == sequential batch calls") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_ingest").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"aaa$i").mkString(" ")
    // base index: docs 1-2; stream batch 1: a near-dup of 1 + noise;
    // stream batch 2: an exact dup of the BATCH-1 noise doc — catching
    // it requires batch 1's signatures to have been APPENDED
    val baseDocs = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val b1 = Seq((10L, base.replace("tok7", "tokX")),
      (11L, (1 to 40).map(i => s"qqq$i").mkString(" ")))
    val b2 = Seq((20L, (1 to 40).map(i => s"qqq$i").mkString(" ")))
    graft.dedup.Dedup.writeSignatureIndex(baseDocs, s"$tmp/idx")
    b1.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val schema = b1.toDF("doc_id", "text").schema
    val q = StreamDedup.ingestDedup(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/idx", s"$tmp/matches", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$tmp/matches")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sequential batch replay of the same lifecycle
    graft.dedup.Dedup.writeSignatureIndex(baseDocs, s"$tmp/idx2")
    val m1 = graft.dedup.Dedup.minhashPairsAgainstIndex(
      b1.toDF("doc_id", "text"), s"$tmp/idx2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.dedup.Dedup.appendSignatureIndex(b1.toDF("doc_id", "text"), s"$tmp/idx2")
    val m2 = graft.dedup.Dedup.minhashPairsAgainstIndex(
      b2.toDF("doc_id", "text"), s"$tmp/idx2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == (m1 ++ m2))
    // the planted structure: cross-index near-dup AND cross-batch dup
    assert(streamed.contains((10L, 1L)) && streamed.contains((20L, 11L)))
    spark.catalog.clearCache()
  }

  test("streaming similarity-graph ingest: served edges == from-scratch build of everything ingested") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_graph").toString
    def doc(i: Int) = s"template ${i % 3} body the quick brown fox " +
      s"jumps over the lazy dog variant ${i / 3} tail token stream"
    val baseDocs = (0 until 12).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val b1 = (12 until 20).map(i => (i.toLong, doc(i)))
    val b2 = (20 until 26).map(i => (i.toLong, doc(i)))
    graft.dedup.Dedup.writeSimilarityGraph(baseDocs, s"$tmp/g")
    b1.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val schema = b1.toDF("doc_id", "text").schema
    // all four sidecars ride along, so cluster, density, rank AND
    // community consumers serve current frames per batch
    graft.dedup.Dedup.writeComponentLabels(spark, s"$tmp/g")
    graft.dedup.Dedup.writeTriangleStats(spark, s"$tmp/g")
    graft.dedup.Dedup.writeRankScores(spark, s"$tmp/g")
    graft.dedup.Dedup.writeLpCommunities(spark, s"$tmp/g")
    val q = StreamDedup.ingestSimilarityGraph(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/g", s"$tmp/ckpt", maintainLabels = true,
      maintainTriangles = true, maintainRanks = true,
      maintainCommunities = true)
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val all = (0 until 26).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    graft.dedup.Dedup.writeSimilarityGraph(all, s"$tmp/g_scratch")
    spark.catalog.clearCache()
    def es(p: String) = graft.dedup.Dedup.readSimilarityGraph(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = es(s"$tmp/g")
    assert(streamed === es(s"$tmp/g_scratch"))
    // cross-batch structure actually formed: an edge between a batch-1
    // and a batch-2 doc exists (same template cluster)
    assert(streamed.exists { case (a, b, _) => a >= 12 && a < 20 && b >= 20 })
    // the streamed labels sidecar == a from-scratch component solve of
    // the final edge set (never re-solved the stored graph per batch)
    graft.dedup.Dedup.writeComponentLabels(spark, s"$tmp/g_scratch")
    spark.catalog.clearCache()
    def ls(p: String) = graft.dedup.Dedup.readComponentLabels(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ls(s"$tmp/g") === ls(s"$tmp/g_scratch"))
    // the streamed triangle-stats sidecar == a from-scratch density
    // solve of the final edge set (per-batch wedge work only)
    graft.dedup.Dedup.writeTriangleStats(spark, s"$tmp/g_scratch")
    spark.catalog.clearCache()
    def ts(p: String) = graft.dedup.Dedup.readTriangleStats(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ts(s"$tmp/g") === ts(s"$tmp/g_scratch"))
    // the streamed rank sidecar serves scores within the converge band
    // of a cold solve over the final edge set (rank is a global
    // fixpoint — tolerance-band contract, RankSidecarSpec's bound)
    graft.dedup.Dedup.writeRankScores(spark, s"$tmp/g_scratch")
    spark.catalog.clearCache()
    def rs(p: String) = graft.dedup.Dedup.readRankScores(spark, p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (rg, rc) = (rs(s"$tmp/g"), rs(s"$tmp/g_scratch"))
    assert(rg.keySet === rc.keySet)
    val worst = rg.map { case (id, r) => math.abs(r - rc(id)) }.max
    assert(worst <= 14L * graft.dedup.Dedup.RankSidecarTol,
      s"streamed rank scores out of band: max delta $worst")
    // the streamed LP sidecar serves a genuine FIXPOINT of the final
    // edge set (LP fixpoints are not unique — the checkable contract
    // is fixpointness, LpSidecarSpec's convention)
    val lpServed = graft.dedup.Dedup.readLpCommunities(spark, s"$tmp/g")
    def lm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpAgain = graft.graph.LabelProp.oneRound(
      graft.dedup.Dedup.readSimilarityGraph(spark, s"$tmp/g")
        .select(col("doc_a"), col("doc_b")), lpServed)
    assert(lm(lpAgain) === lm(lpServed.select(col("doc_id"), col("community"))),
      "streamed LP labels are not a fixpoint of the final edges")
    spark.catalog.clearCache()
  }

  test("CDC streaming ingest (adds + tombstones) == from-scratch over the surviving corpus") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_cdc").toString
    def doc(i: Int) = s"template ${i % 3} body the quick brown fox " +
      s"jumps over the lazy dog variant ${i / 3} tail token stream"
    val baseDocs = (0 until 12).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    // batch 1: pure adds; batch 2: adds PLUS tombstones for three base
    // docs and one batch-1 doc (mixed micro-batch — the CDC shape)
    val b1 = (12 until 20).map(i => (i.toLong, doc(i), "add"))
    val dels = Seq(1L, 4L, 7L, 13L)
    val b2 = (20 until 26).map(i => (i.toLong, doc(i), "add")) ++
      dels.map(i => (i, "", "delete"))
    graft.dedup.Dedup.writeSimilarityGraph(baseDocs, s"$tmp/g")
    graft.dedup.Dedup.writeComponentLabels(spark, s"$tmp/g")
    graft.dedup.Dedup.writeRankScores(spark, s"$tmp/g")
    b1.toDF("doc_id", "text", "op").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val schema = b1.toDF("doc_id", "text", "op").schema
    val q = StreamDedup.ingestSimilarityGraphCdc(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/g", s"$tmp/ckpt", maintainLabels = true, maintainRanks = true)
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    // survivors = everything added so far minus everything tombstoned
    val survivors = (0 until 26).filterNot(i => dels.contains(i.toLong))
      .map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    graft.dedup.Dedup.writeSimilarityGraph(survivors, s"$tmp/g_scratch")
    spark.catalog.clearCache()
    def es(p: String) = graft.dedup.Dedup.readSimilarityGraph(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = es(s"$tmp/g")
    assert(streamed === es(s"$tmp/g_scratch"))
    assert(streamed.nonEmpty &&
      !streamed.exists(e => dels.contains(e._1) || dels.contains(e._2)),
      "a tombstoned doc survived in the served edges")
    // the maintained labels sidecar equals a from-scratch solve of the
    // surviving edge set (the delete batch re-lined it)
    graft.dedup.Dedup.writeComponentLabels(spark, s"$tmp/g_scratch")
    spark.catalog.clearCache()
    def ls(p: String) = graft.dedup.Dedup.readComponentLabels(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ls(s"$tmp/g") === ls(s"$tmp/g_scratch"))
    // the rank sidecar stays in-contract over the post-delete edges
    val audit = graft.dedup.Dedup.rankSidecarAudit(spark, s"$tmp/g").collect()(0)
    assert((audit.getLong(0), audit.getLong(1), audit.getLong(2), audit.getLong(3))
      === ((1L, 1L, 1L, 1L)), "rank sidecar out of contract after CDC ingest")
    spark.catalog.clearCache()
  }

  test("streaming ANN ingest through the persisted index == sequential batch calls") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_ann").toString
    def v(axis: Int, eps: Float): Seq[Float] =
      (0 until 8).map(d =>
        (if (d == axis) 0.9f else 0.0f) + (if (d == (axis + 1) % 8) eps else 0.0f))
    // base index: cluster-0 pair + one cluster-3 vector; stream batch 1:
    // a cluster-0 probe (matches the base) + a cluster-6 vector (nothing
    // to match yet); stream batch 2: a cluster-6 probe — matching it
    // requires batch 1's vectors to have been APPENDED to the index
    val baseVecs = Seq((0L, v(0, 0.01f)), (1L, v(0, 0.02f)), (10L, v(3, 0.01f)))
      .toDF("vec_id", "embedding")
    val b1 = Seq((30L, v(0, 0.03f)), (31L, v(6, 0.01f)))
    val b2 = Seq((40L, v(6, 0.02f)))
    graft.similarity.Similarity.annIndexBuild(baseVecs, s"$tmp/idx", bands = 2)
    b1.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val schema = b1.toDF("vec_id", "embedding").schema
    val q = StreamSim.ingestTopK(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/idx", s"$tmp/matches", s"$tmp/ckpt", k = 2,
      bands = 2, bucketShift = 8)
    try {
      q.processAllAvailable()
      b2.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val streamed = rows(spark.read.parquet(s"$tmp/matches"))
    // sequential batch replay of the same lifecycle
    graft.similarity.Similarity.annIndexBuild(baseVecs, s"$tmp/idx2", bands = 2)
    val m1 = rows(graft.similarity.Similarity.annIndexTopKBatch(
      b1.toDF("vec_id", "embedding"), s"$tmp/idx2", k = 2, bands = 2, bucketShift = 8))
    graft.similarity.Similarity.annIndexAppend(
      b1.toDF("vec_id", "embedding"), s"$tmp/idx2", bands = 2)
    val m2 = rows(graft.similarity.Similarity.annIndexTopKBatch(
      b2.toDF("vec_id", "embedding"), s"$tmp/idx2", k = 2, bands = 2, bucketShift = 8))
    assert(streamed == (m1 ++ m2) && streamed.nonEmpty)
    // the planted structure: cross-index match AND the cross-batch
    // match that only an APPENDED batch-1 makes possible
    assert(streamed.exists(t => t._1 == 30L && Set(0L, 1L).contains(t._2)))
    assert(streamed.exists(t => t._1 == 40L && t._2 == 31L))
    spark.catalog.clearCache()
  }

  test("streaming BPE counts -> trained merges -> corpus token ids == batch pipeline") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_bpe").toString
    val all = Seq((0L, "alpha beta alpha"), (1L, "beta gamma beta"),
      (2L, "alpha beta beta"), (3L, "gamma gamma alpha"),
      (4L, "alpha alpha beta"), (5L, "beta gamma alpha"))
    val base = all.filter(_._1 % 3 == 0)
    val b1 = all.filter(_._1 % 3 == 1)
    val b2 = all.filter(_._1 % 3 == 2)
    graft.text.CorpusOps.bpeCountsBuild(
      base.toDF("doc_id", "text"), s"$tmp/counts")
    val schema = b1.toDF("doc_id", "text").schema
    b1.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamText.ingestBpeCounts(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/counts", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val served = graft.text.CorpusOps.bpeMergesFromCounts(
      spark, s"$tmp/counts", merges = 3, vocabSize = 10).collect().toSeq
    spark.catalog.clearCache()
    val scratch = graft.text.CorpusOps.bpeMerges(
      all.toDF("doc_id", "text"), merges = 3, vocabSize = 10).collect().toSeq
    spark.catalog.clearCache()
    assert(served === scratch && scratch.nonEmpty)
    // END-TO-END tokenizer-refresh pipeline: the merges trained from
    // the STREAMED counts artifact, applied to the corpus via
    // tokenizeWithMerges, must produce the same token ids as the
    // from-scratch batch tokenizeBpe over the same rows
    val mergeList = served.map(r => (r.getString(1), r.getString(2)))
    val viaStream = graft.text.CorpusOps.tokenizeWithMerges(
      all.toDF("doc_id", "text"), mergeList)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    spark.catalog.clearCache()
    val viaBatch = graft.text.CorpusOps.tokenizeBpe(
      all.toDF("doc_id", "text"), merges = 3, vocabSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    spark.catalog.clearCache()
    assert(viaStream === viaBatch && viaBatch.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the committed batch directory IS the idempotence marker, and no
    // staging garbage survives the atomic rename
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/counts/batch_0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/counts/_staging_0")))
  }

  test("streaming NB count ingest == from-scratch batch classifier") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_nb").toString
    val srcs = Seq("alpha", "beta", "gamma", "delta")
    val all = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "good clean prose here" else "spam junk click now",
        srcs((i % 4).toInt))
    }
    val base = all.filter(_._1 % 3 == 0)
    val b1 = all.filter(_._1 % 3 == 1)
    val b2 = all.filter(_._1 % 3 == 2)
    graft.text.CorpusOps.nbCountsBuild(
      base.toDF("doc_id", "text", "source"), s"$tmp/counts", "p0")
    val schema = b1.toDF("doc_id", "text", "source").schema
    b1.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamText.ingestNbCounts(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/counts", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val full = all.toDF("doc_id", "text", "source")
    val served = graft.text.CorpusOps.nbQualityFromCounts(
      spark, full, s"$tmp/counts", vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    spark.catalog.clearCache()
    val scratch = graft.text.CorpusOps.nbQuality(full, vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    spark.catalog.clearCache()
    assert(served === scratch && scratch.nonEmpty)
  }

  test("CDC NB count ingest (adds + tombstones) == from-scratch train over survivors") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_nb_cdc").toString
    val srcs = Seq("alpha", "beta", "gamma", "delta")
    def row(i: Long) =
      (i, if (i % 2 == 0) "good clean prose here" else "spam junk click now",
        srcs((i % 4).toInt))
    val base = (0L until 20L).map(row)
    // batch 1: adds 20..29; batch 2: adds 30..39 plus tombstones for
    // doc 3,9,15 (ingested in the base build — payload carried back)
    val b1 = (20L until 30L).map { i => val (d, t, s) = row(i); (d, t, s, "add") }
    val b2 = (30L until 40L).map { i => val (d, t, s) = row(i); (d, t, s, "add") } ++
      Seq(3L, 9L, 15L).map { i => val (d, t, s) = row(i); (d, t, s, "delete") }
    graft.text.CorpusOps.nbCountsBuild(
      base.toDF("doc_id", "text", "source"), s"$tmp/counts", "p0")
    val schema = b1.toDF("doc_id", "text", "source", "op").schema
    b1.toDF("doc_id", "text", "source", "op").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamText.ingestNbCountsCdc(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/counts", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text", "source", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    // survivors = everything added so far minus the tombstoned ids
    val surv = ((0L until 40L).toSet -- Set(3L, 9L, 15L)).toSeq.sorted.map(row)
    val full = surv.toDF("doc_id", "text", "source")
    val served = graft.text.CorpusOps.nbQualityFromCounts(
      spark, full, s"$tmp/counts", vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    spark.catalog.clearCache()
    val scratch = graft.text.CorpusOps.nbQuality(full, vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    spark.catalog.clearCache()
    assert(served === scratch && scratch.nonEmpty)
  }

  test("CDC CMS ingest (adds + tombstones) == from-scratch sketch over survivors") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_cms_cdc").toString
    def row(i: Long) =
      (i, ((0 to 6).map(j => s"t${(i + j) % 17}") :+ s"only$i").mkString(" "))
    val base = (0L until 30L).map(row)
    val b1 = (30L until 45L).map { i => val (d, t) = row(i); (d, t, "add") }
    // batch 2: adds 45..59, tombstones for 4, 11, 25 (ingested in the
    // base build — payload carried back), AND a same-batch
    // add+tombstone of 45 — sum-merge nets it to zero
    val b2 = (45L until 60L).map { i => val (d, t) = row(i); (d, t, "add") } ++
      Seq(4L, 11L, 25L, 45L).map { i => val (d, t) = row(i); (d, t, "delete") }
    graft.text.CorpusOps.writeCmsSketch(
      base.toDF("doc_id", "text"), s"$tmp/cms")
    val schema = b1.toDF("doc_id", "text", "op").schema
    b1.toDF("doc_id", "text", "op").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamText.ingestCmsCdc(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/cms", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val surv = ((0L until 60L).toSet -- Set(4L, 11L, 25L, 45L)).toSeq.sorted
      .map(row).toDF("doc_id", "text")
    val served = graft.text.CorpusOps.cmsEstimateFromSketch(
      spark, surv, s"$tmp/cms", topN = 25)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = graft.text.CorpusOps.cmsTokenCounts(surv, topN = 25)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    assert(served === scratch && scratch.nonEmpty)
  }

  test("CDC versioned-table ingest: one commit per batch, snapshots at batch boundaries, crash replay converges") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_vt_cdc").toString
    val path = s"$tmp/table"
    import graft.layout.VersionedTable
    VersionedTable.create(
      (1L to 20L).map(k => (k, s"base_$k")).toDF("k", "payload"), path, "k")
    // batch 1: insert 21..25, update 3 and 7; batch 2: delete 1, 2, 21
    val b1 = ((21L to 25L).map(k => (k, s"b1_$k", "add")) ++
      Seq(3L, 7L).map(k => (k, s"b1_$k", "add")))
    val b2 = Seq(1L, 2L, 21L).map(k => (k, "", "delete"))
    val schema = b1.toDF("k", "payload", "op").schema
    b1.toDF("k", "payload", "op").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamUpsert.ingestVersionedCdc(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      path, s"$tmp/ckpt", "k")
    try {
      q.processAllAvailable()
      b2.toDF("k", "payload", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rowsAt(v: Int) = VersionedTable.read(spark, path, v)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val s1 = (1L to 20L).map(k => (k, s"base_$k")).toSet
    val s2 = s1.filterNot(r => r._1 == 3 || r._1 == 7) ++
      ((21L to 25L) ++ Seq(3L, 7L)).map(k => (k, s"b1_$k"))
    val s3 = s2.filterNot(r => Set(1L, 2L, 21L).contains(r._1))
    // every version boundary IS a micro-batch boundary
    assert(VersionedTable.versions(spark, path) == Seq(1, 2, 3))
    assert(rowsAt(1) == s1 && rowsAt(2) == s2 && rowsAt(3) == s3)
    // crash replay (commit landed, marker lost): re-applying the last
    // batch adds one version with IDENTICAL content
    VersionedTable.applyCdc(b2.toDF("k", "payload", "op"), path, "k")
    assert(VersionedTable.versions(spark, path) == Seq(1, 2, 3, 4))
    assert(rowsAt(4) == s3)
  }

  test("CDC versioned-table ingest with maintainOptimize: layout stays live under the stream") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_vt_opt").toString
    val path = s"$tmp/table"
    import graft.layout.{Layout, VersionedTable}
    def row(k: Long) = (k, (k % 32).toInt, ((k * 7) % 32).toInt, s"base_$k")
    VersionedTable.create(
      (0L until 512L).map(row).toDF("k", "x", "y", "payload"), path, "k")
    VersionedTable.optimizeCurve(spark, path, "k",
      Seq(Layout.QuantDim("x", 0.0, 32.0, 5), Layout.QuantDim("y", 0.0, 32.0, 5)),
      bucketBits = 4)
    // two micro-batches: adds (new + re-crawled) then mixed add/delete
    val b1 = (512L until 540L).map(k =>
      (k, (k % 32).toInt, ((k * 7) % 32).toInt, s"b1_$k", "add"))
    val b2 = (540L until 550L).map(k =>
      (k, (k % 32).toInt, ((k * 7) % 32).toInt, s"b2_$k", "add")) ++
      Seq(5L, 17L).map(k => (k, 0, 0, "", "delete"))
    val schema = b1.toDF("k", "x", "y", "payload", "op").schema
    b1.toDF("k", "x", "y", "payload", "op").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamUpsert.ingestVersionedCdc(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      path, s"$tmp/ckpt", "k", maintainOptimize = true)
    try {
      q.processAllAvailable()
      b2.toDF("k", "x", "y", "payload", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    // after every batch the layout is fully curve-clustered: zero
    // stat-less segments live, so manifest pruning never degrades
    val (allSegs, total) = VersionedTable.pruneCurveSegments(spark, path,
      Seq((0L, -1L)))
    assert(allSegs.size == total && allSegs.forall(_.curve.isDefined))
    // content == the same batches applied sequentially without a stream
    val expect = ((0L until 512L).map(row).toSet ++
      (512L until 540L).map(k => row(k).copy(_4 = s"b1_$k")) ++
      (540L until 550L).map(k => row(k).copy(_4 = s"b2_$k")))
      .filterNot(r => r._1 == 5L || r._1 == 17L)
    assert(VersionedTable.read(spark, path)
      .select("k", "x", "y", "payload").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet == expect)
  }

  test("CDC Gram ingest (adds + tombstones) == from-scratch direction over survivors") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_gram_cdc").toString
    def vec(i: Long) =
      (0 until 4).map(d => 0.1f * ((i + d) % 5) + (if (d == 1) 0.8f else 0.0f))
    val base = (0L until 8L).map(i => (i, vec(i)))
    val b1 = (8L until 12L).map(i => (i, vec(i), "add"))
    // batch 2: adds 12..15, tombstones for 1 and 6, AND a same-batch
    // add+tombstone of 12 — sum-merge nets it to zero (well-defined
    // for counts, unlike the graph CDC contract)
    val b2 = (12L until 16L).map(i => (i, vec(i), "add")) ++
      Seq(1L, 6L, 12L).map(i => (i, vec(i), "delete"))
    graft.similarity.Similarity.gramBuild(
      base.toDF("vec_id", "embedding"), s"$tmp/gram")
    val schema = b1.toDF("vec_id", "embedding", "op").schema
    b1.toDF("vec_id", "embedding", "op").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamSim.ingestGramCdc(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/gram", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("vec_id", "embedding", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val served = graft.similarity.Similarity.directionFromGram(spark, s"$tmp/gram")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val surv = ((0L until 16L).toSet -- Set(1L, 6L, 12L)).toSeq.sorted
      .map(i => (i, vec(i)))
    val scratch = graft.similarity.Similarity.embDominantDirection(
      surv.toDF("vec_id", "embedding"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(served == scratch && scratch.nonEmpty)
  }

  test("streaming Gram ingest == from-scratch batch direction; atomic commit blocks re-delivery") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_gram").toString
    val all = (0L until 12L).map(i =>
      (i, (0 until 4).map(d => 0.1f * ((i + d) % 5) + (if (d == 1) 0.8f else 0.0f))))
    val base = all.filter(_._1 % 3 == 0)
    val b1 = all.filter(_._1 % 3 == 1)
    val b2 = all.filter(_._1 % 3 == 2)
    graft.similarity.Similarity.gramBuild(
      base.toDF("vec_id", "embedding"), s"$tmp/gram")
    val schema = b1.toDF("vec_id", "embedding").schema
    b1.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamSim.ingestGram(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/gram", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    val served = graft.similarity.Similarity.directionFromGram(spark, s"$tmp/gram")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val scratch = graft.similarity.Similarity.embDominantDirection(
      all.toDF("vec_id", "embedding"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(served == scratch && scratch.nonEmpty)
    // re-delivery protection: the committed batch directory is the
    // idempotence marker (duplicate-sensitive sum-merge), published
    // by the atomic rename with no staging garbage left behind
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/gram/batch_0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/gram/_staging_0")))
    // and an explicit re-delivery of an already-committed batch id is
    // a no-op: the artifact bytes don't change
    def artifactFiles() = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$tmp/gram/batch_0"))
      .map(s => (s.getPath.getName, s.getLen)).toSet
    val before = artifactFiles()
    graft.streaming.AtomicIngest.commitBatch(spark, s"$tmp/gram", 0L) {
      staging => graft.similarity.Similarity.gramBuild(
        b1.toDF("vec_id", "embedding"), staging)
    }
    assert(artifactFiles() == before)
  }

  test("AtomicIngest.once runs its work exactly once per (markerDir, batch id)") {
    val tmp = Files.createTempDirectory("graft_once").toString
    var runs = Vector.empty[String]
    def deliver(dir: String, id: Long): Unit =
      AtomicIngest.once(spark, s"$tmp/$dir", id) { runs :+= s"$dir/$id" }
    deliver("_batches", 0L)
    deliver("_batches", 0L) // re-delivery: skipped
    deliver("_batches", 1L)
    deliver("_gbatches", 0L) // another marker dir keeps its own ids
    deliver("_gbatches", 0L)
    assert(runs == Vector("_batches/0", "_batches/1", "_gbatches/0"))
    assert(new java.io.File(s"$tmp/_batches/1").isFile)
    // work that throws leaves no marker, so the replay runs it again
    intercept[IllegalStateException] {
      AtomicIngest.once(spark, s"$tmp/_batches", 2L) { throw new IllegalStateException("crash") }
    }
    deliver("_batches", 2L)
    assert(runs.last == "_batches/2")
  }

  test("hll register sketch runs as a streaming aggregation; duplicate batches change nothing") {
    // like the grid quantile sketch: the register frame's merge law
    // (max per (stratum, reg)) IS Structured Streaming's incremental
    // state update, so hllRegisters is a valid streaming aggregate.
    // The file is staged TWICE -> two micro-batches of identical data:
    // duplicate-insensitivity means the streamed sketch still equals
    // the single-copy batch sketch.
    val inDir = Files.createTempDirectory("graft_stream_hll")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/documents.parquet"),
      inDir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(
      Paths.get("/root/testdata/sf0.001/documents.parquet"),
      inDir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(inDir.toString)
    val schema = batch.schema
    val q = graft.text.CorpusOps.hllRegisters(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString))
      .writeStream.format("memory").queryName("doc_hll")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def est(regs: DataFrame) =
      graft.text.CorpusOps.hllEstimate(regs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = est(spark.table("doc_hll"))
    val batched = est(graft.text.CorpusOps.hllRegisters(
      spark.read.parquet(inDir.resolve("a.parquet").toString)))
    assert(streamed.nonEmpty)
    assert(streamed == batched)
  }

  test("streaming bloom decontamination gate == one batch probe over the same rows") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_bloom").toString
    val p = graft.text.CorpusOps.ContaminationParams()
    // find ids in each split by the actual split hash
    val labels = (1L to 300L).toDF("doc_id")
      .select(col("doc_id"),
        graft.text.TextFunctions.splitLabel(col("doc_id"), p.cuts).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trains = labels.collect { case (i, "train") => i }.toSeq.sorted
    val testId = labels.collectFirst { case (i, "test") => i }.get
    val (t1, t2, tClean) = (trains(0), trains(1), trains(2))
    val shared = "w1 w2 w3 w4 w5"
    // snapshot holds the benchmark doc; the filter is built from it once
    val snapshot = Seq(testId -> shared).toDF("doc_id", "text")
    StreamFilter.writeBloomFilter(snapshot, s"$tmp/bits", words = 8192, p)
    // stream: batch 1 carries a contaminated train doc, batch 2 a
    // second contaminated doc + a clean one
    val b1 = Seq(t1 -> shared)
    val b2 = Seq(t2 -> shared, tClean -> "q1 q2 q3 q4")
    b1.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val schema = b1.toDF("doc_id", "text").schema
    val q = StreamFilter.ingestBloom(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/bits", s"$tmp/flags", s"$tmp/ckpt", words = 8192, p)
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(s"$tmp/flags"))
    // the read-only filter + stateless probe: stream == ONE batch call
    val batched = rows(graft.text.CorpusOps.bloomProbe(
      (b1 ++ b2).toDF("doc_id", "text"),
      spark.read.parquet(s"$tmp/bits"), words = 8192, p))
    assert(streamed == batched)
    // both contaminated docs flagged with every shingle hitting; the
    // clean doc's probes miss the 6-bit filter
    assert(streamed.map(_._1) == Set(t1, t2))
    assert(streamed.forall { case (_, nSh, nHits) => nSh == 3L && nHits == 3L })
  }

  test("streaming frozen quality gate == one batch apply over the same rows") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_qgate").toString
    // calibration snapshot, lang "en": half the docs fully distinct
    // (1e6), half half-distinct (5e5) -> keepPpm=500000 cuts at 1e6;
    // lang "xx" has ONE class that can't fit a 0-quota -> dropped group
    val snap = (1L to 10L).map(i =>
        (i, "en", if (i <= 5) s"a$i b$i c$i" else s"d$i d$i")) ++
      Seq((90L, "xx", "z z"))
    graft.text.CorpusOps.qualityGateBuild(
      snap.toDF("doc_id", "lang", "text"), s"$tmp/cuts", keepPpm = 500000L)
    // stream: batch 1 has an admissible en doc + a rejectable en doc;
    // batch 2 an admissible en doc + an xx doc (group frozen-out)
    val b1 = Seq((101L, "en", "p q r"), (102L, "en", "m m"))
    val b2 = Seq((103L, "en", "s t"), (104L, "xx", "z y x"))
    val schema = b1.toDF("doc_id", "lang", "text").schema
    b1.toDF("doc_id", "lang", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamFilter.ingestQualityGate(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/cuts", s"$tmp/kept", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(s"$tmp/kept"))
    val batched = rows(graft.text.CorpusOps.qualityGateApply(
      (b1 ++ b2).toDF("doc_id", "lang", "text"),
      spark.read.parquet(s"$tmp/cuts")))
    assert(streamed == batched)
    // only the fully-distinct en docs pass the frozen 1e6 cut; the
    // xx doc is dropped because its group has no calibrated cut
    assert(streamed.map(_._1) == Set(101L, 103L))
  }

  test("streaming LM scoring through the frozen count artifact == one batch call") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_lm").toString
    // frozen LM from a calibration snapshot: "a b" common, "a c" rare
    val snap = Seq((1L, "a b a b a b"), (2L, "a b"), (3L, "a c"))
    graft.text.CorpusOps.writeLmIndex(snap.toDF("doc_id", "text"), s"$tmp/lm")
    val b1 = Seq((101L, "a b a b"), (102L, "a c a c"))
    val b2 = Seq((103L, "a b"), (104L, "q q"))
    val schema = b1.toDF("doc_id", "text").schema
    b1.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamFilter.ingestLmScore(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/lm", s"$tmp/scored", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(s"$tmp/scored"))
    val batched = rows(graft.text.CorpusOps.lmScoreWith(
      (b1 ++ b2).toDF("doc_id", "text"),
      spark.read.parquet(s"$tmp/lm")))
    assert(streamed == batched)
    // the rare-continuation doc outranks the common-phrase doc; the
    // out-of-vocabulary doc scores 0 bigrams (no LM rows to join)
    val byId = streamed.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(102L)._2 > byId(101L)._2)
    assert(byId(104L) == ((0L, 0L)))
  }

  test("streaming CDC upsert of the partitioned sink == sequential upsertPartitioned calls") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_upsert").toString
    val base = (1L to 60L).map(i => (i, s"p${i % 3}", 0L, s"v$i"))
    def load(path: String): Unit = base.toDF("k", "p", "ver", "payload")
      .write.mode("overwrite").partitionBy("p").parquet(path)
    // batch 1 updates keys 4 and 7; batch 2 updates 7 AGAIN (higher
    // version) and inserts a new key — key 7 must converge to ver 3
    // across the batch boundary
    val b1 = Seq((4L, "p1", 2L, "b1-4"), (7L, "p1", 2L, "b1-7"))
    val b2 = Seq((7L, "p1", 3L, "b2-7"), (1000L, "p2", 1L, "b2-new"))
    val schema = b1.toDF("k", "p", "ver", "payload").schema

    load(s"$tmp/sink")
    b1.toDF("k", "p", "ver", "payload").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in/b1")
    val q = StreamUpsert.ingestUpsert(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/sink", s"$tmp/ckpt", "p", Seq("k"), Seq("ver"))
    try {
      q.processAllAvailable()
      b2.toDF("k", "p", "ver", "payload").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rows(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet

    // sequential replay of the same two merges
    load(s"$tmp/sink2")
    import org.apache.spark.sql.functions.col
    graft.layout.Layout.upsertPartitioned(s"$tmp/sink2",
      b1.toDF("k", "p", "ver", "payload"), "p", Seq("k"), Seq(col("ver").desc))
    graft.layout.Layout.upsertPartitioned(s"$tmp/sink2",
      b2.toDF("k", "p", "ver", "payload"), "p", Seq("k"), Seq(col("ver").desc))
    assert(rows(s"$tmp/sink") == rows(s"$tmp/sink2"))
    // key 7 converged across the batch boundary; the insert landed
    val byKey = rows(s"$tmp/sink").groupBy(_._1)
    assert(byKey(7L).head._3 == "b2-7" || byKey(7L).head._4 == "b2-7")
    assert(byKey.contains(1000L) && byKey(7L).size == 1)
    spark.catalog.clearCache()
  }

  test("streaming MinHash near-dedup: horizon expires bucket anchors") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_stream_minhash_hz")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val horizonUs = 1000000L // 1 s
    val b1 = Seq((1L, 0L, base))
    // arrives 10 s later: the watermark (advanced by this row itself)
    // passes the anchor's 1 s deadline, so doc 1's bucket state expires
    // and doc 11 becomes a fresh anchor instead of pairing with 1
    val b2 = Seq((11L, 10000000L, base))
    val b3 = Seq((12L, 10500000L, base)) // within horizon of 11
    b1.toDF("doc_id", "ts_us", "text").coalesce(1)
      .write.mode("overwrite").parquet(inDir.toString + "/b1")
    val schema = b1.toDF("doc_id", "ts_us", "text").schema

    val q = StreamDedup.nearDupPairs(
        spark.readStream.schema(schema).parquet(inDir.toString + "/*"),
        horizonUs = horizonUs)
      .toDF()
      .writeStream.format("memory").queryName("doc_neardup_hz")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "ts_us", "text").coalesce(1)
        .write.mode("overwrite").parquet(inDir.toString + "/b2")
      q.processAllAvailable()
      b3.toDF("doc_id", "ts_us", "text").coalesce(1)
        .write.mode("overwrite").parquet(inDir.toString + "/b3")
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("doc_neardup_hz").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((11L, 12L))) // 1 expired; 11 anchors 12
  }

  test("session_window twin equals gaps-and-islands, including the exact-gap boundary") {
    import spark.implicits._
    val gap = 1000L // µs
    // user 1: diff exactly gap (must MERGE — batch breaks only on
    // strictly greater), then gap+1 (must break); user 2: one break
    val ev = Seq(
      (1L, 1L, 0L, 10L), (1L, 2L, 1000L, 10L), (1L, 3L, 2001L, 10L),
      (2L, 4L, 0L, 5L), (2L, 5L, 5000L, 5L))
      .toDF("user_id", "event_id", "ts_us", "k")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    val a = rows(Sessionize.batch(ev, gap))
    val b = rows(Sessionize.sessionWindow(ev, gap))
    assert(a == b)
    assert(a.contains((1L, 0L, 1000L, 2L, 20L))) // the exact-gap pair merged
    // and on the real events table at the default gap
    val real = Sessionize.project(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    assert(rows(Sessionize.batch(real)) == rows(Sessionize.sessionWindow(real)))
  }

  test("flatMapGroupsWithState sessionization matches the batch gaps-and-islands") {
    import spark.implicits._
    val gapUs = Sessionize.DefaultGapUs
    val inDir = Files.createTempDirectory("graft_stream_sess")
    val real = Sessionize.project(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    // stage the projected events as the stream input
    real.coalesce(1).write.mode("overwrite").parquet(inDir.toString + "/batch1")
    val schema = real.schema

    val q = Sessionize.stream(
        spark.readStream.schema(schema).parquet(inDir.toString + "/*"), gapUs)
      .toDF()
      .writeStream.format("memory").queryName("ev_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a far-future sentinel event per user breaks every open session,
      // forcing it to emit; the sentinel sessions themselves stay open
      // and unemitted (honest append-mode semantics)
      val maxUs = real.agg(max("ts_us")).head().getLong(0)
      real.select(col("user_id")).distinct()
        .select(col("user_id"), col("user_id").as("event_id"),
          lit(maxUs + 10L * gapUs).as("ts_us"), lit(0L).as("k"))
        .coalesce(1).write.mode("overwrite").parquet(inDir.toString + "/batch2")
      q.processAllAvailable()
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val streamed = spark.table("ev_sessions").collect().map(key).sorted.toSeq
    val batched = Sessionize.batch(real, gapUs).collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batched)
    // multi-event sessions and multiple sessions per user both occur
    assert(batched.exists(_._4 > 1))
    assert(batched.groupBy(_._1).exists(_._2.size > 1))
  }
}
