package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic main (round-8 verdict stretch #9): one decade of scale
  * beyond the driver's bench — synthesize an sf1-sized corpus (10×
  * sf0.1) LOCALLY under /tmp and re-run the most expensive queries at
  * both scales, printing the sf0.1 → sf1 wall-clock ratios.
  *
  * Synthesis: 10 id-shifted copies of each source table, with each
  * document copy's text salted by its copy index and each embedding
  * copy scaled by a per-copy factor. Honest caveat recorded with the
  * numbers: copies of a document are NEAR-DUPLICATES of each other
  * (~95% shingle overlap) and scaled embeddings keep their direction,
  * so this corpus is duplication-HEAVY — for the dedup/similarity
  * operators that is the stress case where the skew caps and star
  * rules engage, not a neutral 10× sample. Layout/sketch queries over
  * lineitem scale neutrally (copies are disjoint key ranges).
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32, "graft-scale-check")

    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = System.getProperty("java.io.tmpdir") + "/graft_sf1"
    val copies = 10
    val shift = 100000000L

    // ts passes through the synthesis untouched in whatever physical
    // shape the source parquet has (nanos long or timestamp[us]) —
    // the queries normalize at their read boundary (EventTime); the
    // flag keeps a TIMESTAMP(NANOS) source readable at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // the marker records WHICH source was scaled up (and the synthesis
    // recipe version): a changed SPARK_GRAFT_SF_DIR — or an extended
    // recipe, like round 10 adding the events table — must trigger
    // re-synthesis, not silently compare against a stale dst corpus
    val marker = java.nio.file.Paths.get(s"$dst/_built")
    // v3: the driver regenerated the testdata mid-round-10 (ts became
    // timestamp[us]); v4: round-11 adds the star-schema tables (orders
    // 10x, dims 1:1) for the OLAP scale row
    val markerWant = s"$src|v4-star-dims"
    val stale = !java.nio.file.Files.exists(marker) ||
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") != markerWant
    if (stale) {
      def tenfold(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
        val base = spark.read.parquet(s"$src/$name.parquet")
        (0 until copies).map(k => f(base, k)).reduce(_ union _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      }
      tenfold("documents", (d, k) => d.select(
        (col("doc_id") + lit(k * shift)).as("doc_id"),
        concat(col("text"), lit(s" cpy$k")).as("text"),
        col("lang"), col("source"), col("n_chars")))
      tenfold("embeddings", (d, k) => d.select(
        (col("vec_id") + lit(k * shift)).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(1.0f - k * 0.003f)).cast("float")).as("embedding"),
        col("label")))
      tenfold("lineitem", (d, k) => d.select(
        (col("l_orderkey") + lit(k * shift)).as("l_orderkey") +:
          d.columns.filter(_ != "l_orderkey").map(col): _*))
      // events: 10x USERS over the SAME time window — the natural way
      // an event log grows (same days, more people), so the span- and
      // day-dependent terms (resample grid, retention triangle, DAU
      // day frame) stay fixed while per-day row counts scale 10x
      tenfold("events", (d, k) => d.select(
        (col("event_id") + lit(k * shift)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * shift)).as("user_id"),
        col("event_type"), col("value"), col("props")))
      // orders: 10x FACTS against 1x dims — the realistic growth shape
      // (order keys shift in lockstep with lineitem's l_orderkey; the
      // customer/supplier/nation/region DIMENSIONS are copied 1:1, so
      // every shifted fact still resolves)
      tenfold("orders", (d, k) => d.select(
        (col("o_orderkey") + lit(k * shift)).as("o_orderkey") +:
          d.columns.filter(_ != "o_orderkey").map(col): _*))
      for (t <- Seq("customer", "supplier", "nation", "region", "part"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      java.nio.file.Files.write(marker, markerWant.getBytes("UTF-8"))
    }

    // synth-only: (re)build the sf1 corpus for an external consumer
    // (e.g. the three-scale Bench run's SPARK_GRAFT_SF3_DIR point)
    // without paying the measurement sweep below
    if (args.contains("synth-only")) {
      println(s"""{"metric":"scale_synth","dst":"$dst","stale_rebuilt":$stale}""")
      spark.stop()
      return
    }

    val names = Seq("q_dedup_semantic", "q_sim_ivfpq", "q_layout_filter",
      "q_dedup_clusters", "q_dedup_jaccard", "q_sim_ann_mp",
      "q_dedup_incr_indexed", "q_sketch_quantile",
      // round-10 (round-9 verdict ask #7): the analytics queries with
      // data-shape-dependent terms — span-bounded explode, span^2/2
      // retention groups, 7x DAU fan-out
      "q_events_resample", "q_retention", "q_events_dau",
      // round-10 continuation: the new sketch/filter/sample operators,
      // whose 100 TB story IS the fixed-size-artifact claim — HLL's
      // register frame and the bloom bitset must stay flat while the
      // corpus-side scan scales with rows
      "q_sketch_hll", "q_filter_bloom", "q_sample_weighted",
      // round-11 continuation: the iterative graph rank (K joins over
      // a duplication-heavy pair graph — the stress case), linkage
      // (rare-shingle blocking under 10x df inflation: copies push
      // shared shingles OVER the df cap, so candidates shrink — the
      // cap doing its job), the LM score (vocabulary²-bounded count
      // tables must stay flat), and the phrase probe (cost ∝ phrase
      // df, which scales linearly)
      "q_graph_rank", "q_link_entities", "q_text_lm",
      "q_text_phrase_indexed", "q_rank_fusion",
      // fifth round-11 batch: the edit-distance linkage (the minShared
      // cap + prefilter must hold the O(len²) verify sublinear under
      // 10x df inflation), the six-table OLAP join, and the per-user
      // transition window
      "q_link_edit", "q_olap_revenue", "q_events_transitions",
      // round-12 batch: the exact prefix-filtered joins (their
      // candidate space tracks TRUE-pair density — the duplication-
      // heavy 10x corpus multiplies cross-registry dup pairs ~copies²,
      // so growth here is OUTPUT growth, not filter failure), the
      // weighted graph rank (same K-join stress as the unweighted),
      // and the double spatial join (10x denser cells → ~10x
      // candidates per probe at fixed radius)
      "q_join_setsim", "q_join_contain", "q_graph_rank_w",
      "q_spatial_join_f",
      // second round-12 batch: triangles (the duplication-heavy corpus
      // is the CLIQUE stress case — copies² dup pairs close copies³
      // triangles, so growth is output-bound and the degree
      // orientation must keep the wedge build subquadratic), the BPE
      // trainer (word table bounded by the top-V cap: rounds must
      // stay FLAT while the one corpus aggregate scales), and the
      // SQ8 audit (two corpus passes, d-row output)
      "q_graph_triangles", "q_text_bpe", "q_emb_quantize",
      // third round-12 batch: the source-overlap self-join (fan-out
      // bounded by the SOURCE COUNT — must stay flat as docs per
      // source grow 10×, only the distinct-set build scales), the
      // winsorization histogram (window bounded by the value DOMAIN),
      // and the centroid geometry (labels·d-row frame after one pass)
      "q_source_overlap", "q_events_winsor", "q_emb_centroids")

    // cache drops run BETWEEN timed runs, outside the measured region
    // (BenchUtil.minOfN) — with them inside, the sf1 runs would pay
    // ~10x more untracked unpersist time than the sf0.1 runs and bias
    // every published ratio upward (round-9 review)
    def run(name: String, dir: String): Double =
      BenchUtil.minOfN(spark, runs = 2) {
        BenchUtil.noop(SparkEntry.queries(name)(spark, dir))
      }

    val rows = names.map { n =>
      val a = run(n, src)
      val b = run(n, dst)
      (n, a, b)
    }
    def jstr(s: String) = "\"" + s + "\""
    val qs = rows.map { case (n, a, b) =>
      f"${jstr(n)}:{${jstr("sf01_sec")}:$a%.3f,${jstr("sf1_sec")}:$b%.3f," +
        f"${jstr("ratio")}:${b / a}%.2f}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_check","copies":$copies,"queries":$qs}""")
    spark.stop()
  }
}
