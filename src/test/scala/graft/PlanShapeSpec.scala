package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical shapes of the
  * corpus operators — the properties that make them survive 100 TB,
  * pinned so a refactor cannot silently regress them (the same idea as
  * BucketedJoinSpec's zero-exchange assertion).
  */
class PlanShapeSpec extends AnyFunSuite with LocalSparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df: DataFrame = SparkEntry.queries(q)(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    spark.catalog.clearCache()
    p
  }

  test("triangles: equi-joins only — no cartesian, no nested-loop wedge build") {
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sq quantize audit: range frame broadcasts back, one corpus-wide generate chain") {
    val p = plan("q_emb_quantize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("collocations: top-k is TakeOrderedAndProject, no cartesian (1-row total broadcast)") {
    val p = plan("q_text_colloc")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gram build: no exchange before the d2-cell aggregate's own shuffle (no join)") {
    val p = plan("q_emb_direction")
    assert(!p.contains("SortMergeJoin"), p)
    // the former vec_id self-join exchanged the N·d exploded frame;
    // the generator build leaves only aggregate/broadcast exchanges
    assert(!p.contains("hashpartitioning(vec_id"), p)
  }

  test("cdc dedup: two exchanges total — per-doc window + chunk-hash agg, reassembly rides the window's partitioning") {
    val p = plan("q_dedup_cdc")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the (doc_id, chunk_idx) reassembly aggregate is satisfied by the
    // window's hash(doc_id) partitioning — a third exchange here means
    // the chunk-id stage stopped sharing the window shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges\n$p")
  }

  test("byte cdc: native cut pass, no per-byte position range in the plan") {
    val p = plan("q_dedup_cdc_bytes")
    assert(!p.contains("CartesianProduct"), p)
    // cuts come from the ONE-PASS native expression — a regression to
    // the composed per-byte form (position explode via sequence() +
    // hex join + substring/md5 filter, the 5.1 s row) reintroduces a
    // sequence() generator, which must never appear here
    assert(p.toLowerCase.contains("cdc_cuts"), p)
    assert(!p.contains("sequence("), p)
    assert(p.contains("Window"), p)
  }

  test("detokenize serves the encoded-ids artifact: no encode stage in the plan") {
    val p = plan("q_tokenize_decode")
    // the decode half reads the persisted id stream — a bpe_encode in
    // the plan means the query regressed to re-encoding the corpus
    assert(!p.toLowerCase.contains("bpe_encode"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("pretok encode: native bpe_encode over the distinct-pieces frame, no per-merge projection chain") {
    val df = SparkEntry.queries("q_tokenize_pretok")(spark, dir)
    // the physical string hides aggregate result expressions, so the
    // native-encode pin reads the optimized logical plan
    val lp = df.queryExecution.optimizedPlan.toString()
    val p = df.queryExecution.executedPlan.toString()
    spark.catalog.clearCache()
    assert(lp.toLowerCase.contains("bpe_encode"), lp)
    assert(p.contains("HashAggregate"), p) // the distinct-pieces fold
    assert(!p.contains("CartesianProduct"), p)
  }

  test("similarity-graph append query serves stored edges: no minhash stage") {
    val p = plan("q_graph_edges_append")
    assert(!p.toLowerCase.contains("shinglemin"), p)
    assert(!p.toLowerCase.contains("simhash"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("triangle-stats append queries serve the sidecar: a scan, no joins, no wedge stage") {
    // the incremental lifecycle's whole point: at serve time the
    // refreshed (degree, n_tri) frame is a parquet scan — the wedge
    // enumeration ran once per batch at refresh time, never per query
    for (q <- Seq("q_graph_triangles_append", "q_graph_clustering_append")) {
      val p = plan(q)
      assert(p.contains("Scan parquet"), s"$q: $p")
      assert(!p.contains("Join"), s"$q: $p")
      assert(!p.contains("Exchange"), s"$q: $p")
      assert(!p.toLowerCase.contains("shinglemin"), s"$q: $p")
    }
  }

  test("kmv sketch: bottom-k runs as WindowGroupLimit (partial merge, not a full sort)") {
    val p = plan("q_sketch_kmv")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("tokenize: the token->id map is a broadcast join, not a shuffle join") {
    val p = plan("q_tokenize_ids")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bpe tokenize: one token join, no cartesian, no sort-merge at test scale") {
    // the distinct-words fold is a narrow projection; the only join
    // is token->ids (strategy deliberately left to AQE — broadcast
    // here, shuffle-hash at web scale); reassembly is one aggregate
    val p = plan("q_tokenize_bpe")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("nb quality: the V-row weight table broadcasts onto the scoring scan") {
    val p = plan("q_quality_nb")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25: corpus stats broadcast; top-k is TakeOrderedAndProject") {
    val p = plan("q_rank_bm25")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pack: the corpus-sized window is hash-partitioned by bucket") {
    val p = plan("q_pack")
    assert(p.contains("hashpartitioning(bucket"), p)
  }

  test("substring dedup: anchor selection is a narrow scan (no window operator)") {
    val p = plan("q_dedup_substr")
    // the winnowing selection must stay inside the native per-row scan —
    // a Window operator here would mean a corpus-wide shuffle + sort
    // crept back into anchor extraction
    assert(!p.contains("Window"), p)
    assert(p.contains("winnow_anchors"), p)
  }

  test("domain cap: per-source top-k runs as WindowGroupLimit") {
    val p = plan("q_domain_cap")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("chunk dedup: one aggregation exchange, no join anywhere") {
    val p = plan("q_dedup_chunks")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("boilerplate removal: dictionary probe is a broadcast join, no shuffle join") {
    val p = plan("q_clean_boilerplate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pii redaction: a narrow codegen'd projection — no exchange, no join") {
    val p = plan("q_redact_pii")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    // "*(n)" prefixes mark WholeStageCodegen spans in the simple string
    assert(p.contains("*(1) Project"), p)
  }

  test("bloom probe: KB-sized bitset broadcasts onto the corpus scan, no shuffle join") {
    // unlike the sf-local AQE pins, this broadcast IS a scale
    // invariant: the bitset is `words` rows regardless of corpus size
    val p = plan("q_filter_bloom")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("anomaly flags: per-type stats broadcast back onto the daily frame, no shuffle join") {
    // the stats frame is event-type-sized (bounded vocabulary), so the
    // broadcast survives any corpus scale
    val p = plan("q_events_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hll sketch: duplicate-insensitive build — no distinct pre-shuffle, no window") {
    // KMV needs distinct + WindowGroupLimit; HLL's max-per-register
    // absorbs repeats, so the whole build is two hash aggregates
    val p = plan("q_sketch_hll")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("weighted sample: inherits pack's bucket-partitioned window (no global sort)") {
    val p = plan("q_sample_weighted")
    assert(p.contains("hashpartitioning(bucket"), p)
  }

  test("star join: date filter pushed to the orders scan, dims broadcast") {
    val p = plan("q_join_star")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("latest-record compaction: per-user top-1 runs as WindowGroupLimit") {
    val p = plan("q_events_latest")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("resample: grid explode is a Generate bounded by per-user spans, no cartesian") {
    val p = plan("q_events_resample")
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dau: the trailing-window fan-out joins the broadcast day frame, no shuffle join for it") {
    val p = plan("q_events_dau")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // The two BroadcastHashJoin pins below assert AQE's SF-LOCAL choice
  // as a regression test, not a scale invariant: the stage/cohort
  // frames are user-sized, which fits the broadcast threshold here but
  // grows with distinct users — at 100 TB the same equi-joins fall
  // back to co-partitioned shuffle joins, which is the correct plan
  // there (round-9 verdict What's-wrong #2). What must hold at EVERY
  // scale is the absence of a cartesian: the joins stay keyed.
  test("funnel: user-sized stage frames join without a sort-merge (sf-local AQE choice)") {
    val p = plan("q_events_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("retention: cohort frame broadcasts back onto the log (sf-local AQE choice)") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sink upsert: the existing-side scan is pruned to the TOUCHED partitions only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = System.getProperty("java.io.tmpdir") + "/graft_planshape_upsert"
    Seq((1L, "touchedpart", 1L), (2L, "untouchedpart", 1L), (3L, "otherpart", 1L))
      .toDF("k", "p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(base)
    val changes = Seq((1L, "touchedpart", 2L)).toDF("k", "p", "v")
    val merged = graft.layout.Layout.upsertMerged(
      base, changes, "p", Seq("k"), Seq(col("v").desc))
    val p = merged.queryExecution.executedPlan.toString()
    // directory-level pruning: the touched value appears in the scan's
    // PartitionFilters; the untouched values appear NOWHERE in the plan
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("touchedpart"), p)
    assert(!p.contains("untouchedpart") && !p.contains("otherpart"), p)
    // one per-key window does the merge; no cartesian anywhere
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental aggregate: the history side reads the stored partial, not the corpus") {
    val p = plan("q_agg_incremental")
    assert(p.contains("graft_agg_partial"), p)
    // the corpus is scanned ONCE — for the new batch only
    assert("documents\\.parquet".r.findAllIn(p).size == 1, p)
  }

  test("schema evolution: both generations read in a single merged-schema scan") {
    val p = plan("q_source_evolution")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join") && !p.contains("Union"), p)
  }

  test("interarrival: one window shuffle then a tiny aggregate, no join") {
    val p = plan("q_events_interarrival")
    assert(!p.contains("Join"), p)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 2, p) // window + final agg
  }

  test("grouping sets: one scan through Expand, no join") {
    val p = plan("q_agg_grouping_sets")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("unpivot: Expand over the aggregated wide frame, one exchange total") {
    val p = plan("q_events_unpivot")
    assert(p.contains("Expand"), p)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1, p)
  }

  test("scd2: one per-user window shuffle, no join") {
    val p = plan("q_events_scd2")
    assert(!p.contains("Join"), p)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1, p)
  }

  test("range search: corpus joins the probe set by broadcast only, no window") {
    val p = plan("q_sim_range")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window "), p)
  }

  test("hard negatives: anchors broadcast onto one corpus scan, top-k as WindowGroupLimit") {
    val p = plan("q_sim_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("quality deciles: one per-source window shuffle, no join") {
    val p = plan("q_quality_deciles")
    assert(!p.contains("Join"), p)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1, p)
  }

  test("partitioned sink read: lang pruning is directory-level PartitionFilters") {
    val p = plan("q_sink_partitioned")
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("lang#") && (p.contains("IN (en,de)") || p.contains("in(lang")), p)
  }

  test("chunk windows: a narrow flatMap — no exchange, no join") {
    val p = plan("q_chunk_windows")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("mixture sample: corpus joins the per-source rate frame by broadcast only") {
    val p = plan("q_mix_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("mmr: shortlist via WindowGroupLimit, one exchange, no shuffle join") {
    val p = plan("q_sim_mmr")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the window shuffle is the ONLY exchange (broadcasts aside) —
    // the greedy selection itself adds no stage
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1, p)
  }

  test("pq index probe: no shuffle join — corpus scans feed broadcasts + WindowGroupLimit") {
    val p = plan("q_sim_pq_indexed")
    // candidate cut = partial top-reRank per mapper before any exchange
    assert(p.contains("WindowGroupLimit"), p)
    // every corpus-touching join must broadcast its bounded side: a
    // sort-merge or shuffled-hash join here means a corpus-sized
    // exchange crept into the serving path
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    // the scans are the persisted index artifacts, not the embeddings
    // table — the probe path re-encodes nothing
    assert(p.contains("graft_pq_index"), p)
    assert(!p.contains("embeddings.parquet"), p)
  }

  test("ivfpq index probe: scans the stored index only — no shuffle join, no re-encode") {
    val p = plan("q_sim_ivfpq_indexed")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("graft_ivfpq_index"), p)
    assert(!p.contains("embeddings.parquet"), p)
  }

  test("ann index probe: scans the stored index only — corpus never re-encoded") {
    val p = plan("q_sim_ann_indexed")
    // the scans are the persisted index artifacts, not the embeddings
    // table: corpus buckets are a shiftright of the stored key column,
    // and the only curve encodes are the probe rows' spatial variants
    assert(p.contains("graft_ann_index"), p)
    assert(!p.contains("embeddings.parquet"), p)
  }

  test("indexed incremental dedup probe: no window or explode over the stored index") {
    val p = plan("q_dedup_incr_indexed")
    // round-8 regression class: the probe used to re-explode the old
    // side's bands and run the skew-cap window over the full old corpus
    // per batch. With the band tables in the artifact, the only Window
    // is gone and the only Generate (posexplode) is the NEW batch's
    // band fan-out.
    assert(!p.contains("Window"), p)
    // every Generate fans out the NEW side (its output list carries
    // new_id); an old-side re-explode would emit old_id rows. (The
    // union's two branches each print a copy of the new-side explode;
    // AQE's ReusedExchange collapses them at runtime.)
    val gens = p.linesIterator.filter(_.contains("Generate posexplode")).toSeq
    assert(gens.nonEmpty && gens.forall(l => l.contains("new_id") && !l.contains("old_id")), p)
    // the old side enters only through the stored artifact
    assert(p.contains("graft_sig_index_v2"), p)
  }

  test("layout read: both range predicates pushed into the parquet scan") {
    val p = plan("q_layout_filter") // includes the curve-ordered write
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), IsNotNull(l_suppkey), " +
      "GreaterThanOrEqual(l_partkey,400)"), p)
  }

  test("encode projection: no exchange, stays in whole-stage codegen") {
    val p = plan("q_hilbert_2d32")
    assert(!p.contains("Exchange"), p)
    // "*(n)" prefixes mark WholeStageCodegen spans in the simple string
    assert(p.contains("*(1) Project"), p)
  }

  test("linkage: the best-match argmax runs as WindowGroupLimit, joins are equi") {
    val p = plan("q_link_entities")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("graph rank: the degree-annotated edge list is cached once and reused") {
    val p = plan("q_graph_rank")
    // 3 iterations must read the SAME persisted edge frame, not
    // recompute the MinHash pair generation per iteration
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("weighted graph rank: same cached-edge shape as the unweighted form") {
    val p = plan("q_graph_rank_w")
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("set-similarity join: prefix-filtered equi-joins only, never a theta join") {
    val p = plan("q_join_setsim")
    // the lossless prefix filter replaces the quadratic pair space —
    // a cartesian/NLJ here means the filter degenerated
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-row rare-first ranking partitions by the row id, never
    // corpus-wide
    assert(p.contains("hashpartitioning(left_id") ||
      p.contains("hashpartitioning(right_id"), p)
  }

  test("double spatial join: candidates from ONE cell equi-join, no theta join") {
    val p = plan("q_spatial_join_f")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("olap revenue: date range pushed to the orders scan, fact columns pruned") {
    val df = SparkEntry.queries("q_olap_revenue")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    // the 11-column fact table reads only its 4 needed columns
    assert(!p.contains("l_tax") && !p.contains("l_quantity"), p)
    // equi-joins only; the sole exchange is the nations-sized aggregate
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }
}
