package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.TextFunctions

/** Iterative graph computation on DataFrames: fixed-iteration
  * PageRank — the link-analysis scorer web-corpus curation pipelines
  * run over the hyperlink (or similarity) graph to weight documents
  * before sampling. Joins the other graph primitive already in the
  * engine ([[graft.dedup.Dedup.connectedComponents]]' union-find) with
  * the weighted-propagation family.
  *
  * All arithmetic is exact integer math (fixed-point ranks scaled by
  * `scale`, damping as a rational dNum/dDen, every division an
  * IntegralDivide), so the DuckDB oracle reproduces each iteration
  * bit-for-bit — integer division before the sum makes the per-edge
  * contribution order-independent, which a float PageRank never is.
  *
  * Shape at 100 TB: one iteration = one equi-join of the rank frame
  * with the weight-annotated edge list on src (both sides hash-
  * partitioned on the join key; the edge list is persisted ONCE and
  * reused by every iteration, so iterations repartition only the
  * narrow (doc_id, r) rank frame) + one map-side-combining sum by
  * dst. Dangling nodes ride the same join as stored ZERO-WEIGHT
  * self-loops (one per node — they add nothing to any sum and let
  * every node reach the aggregate), which replaced the former
  * per-iteration left join back to the node frame.
  * K iterations = K such rounds — the inherent shape of power
  * iteration. The rank frame is `localCheckpoint`ed every
  * `checkpointEvery` iterations, so a deep run (iters=20) never
  * builds a 20-join lineage/plan — analysis time and failure-replay
  * depth stay bounded by the cadence, not by K (on a real cluster
  * with a checkpoint dir configured, swap `localCheckpoint` for
  * reliable `checkpoint`; the cadence logic is the same). The edge
  * list would additionally be bucketed by src so the per-iteration
  * join co-locates without a shuffle on the edge side. Ranks are
  * conserved-mass bounded: r ≤ base + dNum/dDen · (total in-mass),
  * so with scale=1e12 a LongType rank holds corpora to ~10^6 nodes
  * per connected star; beyond that pass a smaller scale (the math is
  * scale-invariant up to rounding). The weighted variant's per-edge
  * product r·w must also fit a Long: with bounded integer weights
  * (e.g. minhash match counts ≤ numHashes, or ppm weights ≤ 1e6)
  * that bound is r·maxW ≤ ~1e18 at the default scale — inside Long,
  * but shrink `scale` before raising both together.
  *
  * Cache lifecycle: the symmetrized edge frame is persisted for the
  * query's duration and released by the CALLER
  * (`spark.catalog.clearCache()` per query — the Verify/Bench/spec
  * convention shared with the similarity and triangle families).
  */
object GraphRank {

  /** The shared power-iteration core over a weight-annotated
    * symmetrized edge list (src, dst, w, sumw): per edge the
    * contribution is intDiv(r·w, sumw) — divide-before-sum, so the
    * aggregate is order-independent and the unweighted form (w=1,
    * sumw=outdeg) is bit-identical to intDiv(r, outdeg). */
  private def rankLoop(ids: DataFrame, edgesW: DataFrame, iters: Int,
      scale: Long, dNum: Long, dDen: Long, checkpointEvery: Int,
      seedPred: Option[Column] = None): DataFrame = {
    var r = initRanks(ids, scale, seedPred)
    for (i <- 0 until iters) {
      r = rankRound(edgesW, r, scale, dNum, dDen, seedPred,
        withPrev = false)
      // cut the lineage every `checkpointEvery` rounds: without this a
      // deep run carries an iters-deep join plan into every subsequent
      // analysis and any task-failure replay recomputes from iteration 0
      if ((i + 1) % checkpointEvery == 0 && i + 1 < iters)
        r = r.localCheckpoint()
    }
    r.select(col("doc_id"), col("r").as("rank_e12"))
  }

  private def initRanks(ids: DataFrame, scale: Long,
      seedPred: Option[Column]): DataFrame =
    ids.select(col("doc_id"), seedPred match {
      case Some(p) => when(p, lit(scale)).otherwise(lit(0L)).as("r")
      case None => lit(scale).as("r")
    })

  /** One power-iteration round: per-edge divide-before-sum
    * contributions, damped onto the teleport base. The rank frame is
    * referenced exactly ONCE (the src join): each node's zero-weight
    * self-loop (see [[symmetrized]]) flows its own current rank
    * through the same join with a NULL contribution (sum-skipped,
    * identical to +0), so every node of the rank
    * frame appears in the aggregate without the former left join back
    * to the node frame, dangling nodes still land on the bare base,
    * and a contribution to a dst OUTSIDE the node frame (no self-loop
    * ⇒ no prev) is dropped by the prev-guard exactly as the left join
    * dropped it. With `withPrev` the output keeps the node's previous
    * rank, so convergence loops read a round's max |Δ| off the
    * round's own output instead of re-joining the superseded frame. */
  private def rankRound(edgesW: DataFrame, r: DataFrame,
      scale: Long, dNum: Long, dDen: Long,
      seedPred: Option[Column], withPrev: Boolean): DataFrame = {
    val base = scale * (dDen - dNum) / dDen
    // personalized teleport: only seed nodes receive the base mass
    // (and the initial rank) — non-seeds score purely by proximity
    val baseCol = seedPred match {
      case Some(p) => when(p, lit(base)).otherwise(lit(0L))
      case None => lit(base)
    }
    val next = edgesW
      .join(r.withColumnRenamed("doc_id", "src"), "src")
      // self-loop rows contribute NULL (sum-skipped — same as +0, and
      // same as the former left-join null for a node with no in-edges);
      // real edges have strictly positive w so their sumw >= 1 and the
      // ANSI IntegralDivide can never see a zero divisor
      .select(col("dst"),
        when(col("own") === 1, lit(null).cast("long"))
          .otherwise(TextFunctions.intDiv(col("r") * col("w"), col("sumw")))
          .as("c"),
        when(col("own") === 1, col("r")).as("pr"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).as("c"), max(col("pr")).as("pr"))
      .filter(col("pr").isNotNull)
      .withColumnRenamed("dst", "doc_id")
    val stepped = (baseCol + TextFunctions.intDiv(
      lit(dNum) * coalesce(col("c"), lit(0L)), lit(dDen))).as("r")
    if (withPrev) next.select(col("doc_id"), stepped, col("pr"))
    else next.select(col("doc_id"), stepped)
  }

  /** Rounds the last [[pageRankConverged]] call actually ran — the
    * [[graft.dedup.Dedup.lastConvergenceRounds]] convention, so specs
    * and sizing diagnostics can assert the serve twin against the
    * fixed-iters query at exactly the stop round. */
  @volatile var lastConvergedRounds: Int = 0

  /** TOLERANCE-STOPPED serving variant of [[pageRank]] — the rank
    * family's [[LabelProp.communitiesConverged]] twin: iterate until a
    * round moves NO rank by more than `tol` scaled units (max |Δ| ≤
    * tol), capped at `maxIters`. The iteration map is deterministic,
    * so the result is ALWAYS bit-identical to [[pageRank]] with
    * iters = the stop round ([[lastConvergedRounds]]; spec'd) — the
    * tolerance only decides WHEN to stop, never what a round computes,
    * and with tol = 0 a stop before the cap is an exact integer
    * fixpoint. The gated query stays the fixed-iters [[pageRank]] (a
    * replayable pure function of the edge set); this is the live/serve
    * sibling for corpora where the safe fixed count is unknown.
    *
    * Sizing the tolerance: damping d = dNum/dDen contracts the
    * distance to the fixpoint by ~d per round, so rounds-to-tol ≈
    * log(scale/tol) / log(dDen/dNum) — at the default scale 10¹² with
    * tol 10⁶ (a millionth of a node's initial mass) that is ~85
    * rounds of worst-case drift, while real similarity graphs start
    * far closer and stop in a handful. tol = 0 demands the exact
    * integer fixpoint, which floor-rounding can hold a unit cycle
    * away forever — that is what the cap is for (capped = the
    * fixed-iters result at maxIters, still exact).
    *
    * Shape: identical per-round cost to [[pageRank]] plus one narrow
    * diff join + 1-row max per round; at most two rank frames cached
    * at any instant, everything released before return (the
    * [[LabelProp.communitiesConverged]] lifecycle), result
    * `localCheckpoint`ed flat. The cadence is LOAD-BEARING for the
    * same reason as there: an open-ended loop must flatten its plan
    * as it goes. */
  def pageRankConverged(nodes: DataFrame, pairs: DataFrame,
      tol: Long = 0L, maxIters: Int = 64,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): DataFrame =
    pageRankConvergedStats(nodes, pairs, tol, maxIters, scale, dNum, dDen,
      checkpointEvery)._1

  /** [[pageRankConverged]] returning its convergence PROVENANCE along
    * with the scores: (scores, rounds ran, converged) where converged
    * is false iff the loop exhausted `maxIters` with the last round
    * still moving some rank by more than `tol`. The provenance is what
    * an artifact writer must PERSIST (the rank sidecar's meta): a
    * capped-out vector is indistinguishable from a converged one by
    * inspection, so without the flag a later refresh would treat it as
    * final and serve outside the promised band (round-16 verdict). */
  def pageRankConvergedStats(nodes: DataFrame, pairs: DataFrame,
      tol: Long = 0L, maxIters: Int = 64,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): (DataFrame, Int, Boolean) =
    convergedLoop(nodes, pairs, None, tol, maxIters, scale, dNum, dDen,
      checkpointEvery)

  /** WARM-STARTED [[pageRankConverged]]: begin the power iteration at
    * `init` (doc_id, rank_e12) instead of the uniform cold vector —
    * nodes absent from `init` (new since the scores were computed)
    * start at the cold value `scale`, rows of `init` for nodes no
    * longer present are ignored. Power iteration converges to the
    * SAME damped fixpoint from any starting vector (the iteration map
    * contracts by ~dNum/dDen per round); the start only decides HOW
    * MANY rounds reaching `tol` takes, so a stored score vector that
    * is already near the new graph's fixpoint — the growing-artifact
    * refresh case, where one appended batch perturbs ranks locally —
    * stops in a handful of rounds where a cold start pays the full
    * log(scale/tol)/log(dDen/dNum) schedule (BASELINE.md's
    * rank-sidecar warm-start row). Unlike the exact sidecars
    * (labels, tri) the warm TRAJECTORY differs from the cold one, so
    * results agree with [[pageRankConverged]] only up to the
    * tolerance band (RankSidecarSpec pins the measured band on fixed
    * corpora); with tol = 0 and a stop before the cap both are exact
    * integer fixpoints of the same map. Same per-round shape,
    * cache lifecycle and checkpoint cadence as the cold variant. */
  def pageRankConvergedFrom(nodes: DataFrame, pairs: DataFrame,
      init: DataFrame, tol: Long, maxIters: Int = 64,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): DataFrame =
    pageRankConvergedFromStats(nodes, pairs, init, tol, maxIters, scale,
      dNum, dDen, checkpointEvery)._1

  /** [[pageRankConvergedFrom]] with convergence provenance — the
    * warm-start twin of [[pageRankConvergedStats]]. */
  def pageRankConvergedFromStats(nodes: DataFrame, pairs: DataFrame,
      init: DataFrame, tol: Long, maxIters: Int = 64,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): (DataFrame, Int, Boolean) =
    convergedLoop(nodes, pairs, Some(init), tol, maxIters, scale, dNum,
      dDen, checkpointEvery)

  private def convergedLoop(nodes: DataFrame, pairs: DataFrame,
      init: Option[DataFrame], tol: Long, maxIters: Int,
      scale: Long, dNum: Long, dDen: Long,
      checkpointEvery: Int): (DataFrame, Int, Boolean) = {
    val ids = nodes.select(col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgesW = symmetrized(ids, pairs, lit(1L))
    var r = (init match {
      case Some(v) => ids
        .join(v.select(col("doc_id"), col("rank_e12").as("r0")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("r0"), lit(scale)).as("r"))
      case None => initRanks(ids, scale, None)
    }).persist(StorageLevel.MEMORY_AND_DISK)
    var i = 0
    var moved = Long.MaxValue
    while (i < maxIters && moved > tol) {
      val stepped = rankRound(edgesW, r, scale, dNum, dDen, None,
        withPrev = true)
      // localCheckpoint is eager and stores its blocks itself — on a
      // cadence round it replaces (not precedes) the persist
      val next =
        if ((i + 1) % checkpointEvery == 0) stepped.localCheckpoint()
        else stepped.persist(StorageLevel.MEMORY_AND_DISK)
      // the round's own `pr` column carries the superseded rank, so
      // the max |Δ| is one scan of the frame being materialized
      // anyway — no second join against the previous rank frame
      moved = next
        .agg(coalesce(max(abs(col("r") - col("pr"))), lit(0L)))
        .head().getLong(0)
      r.unpersist()
      r = next
      i += 1
    }
    lastConvergedRounds = i
    val out = r.select(col("doc_id"), col("r").as("rank_e12"))
      .localCheckpoint()
    r.unpersist()
    ids.unpersist()
    edgesW.unpersist()
    (out, i, moved <= tol)
  }

  /** Symmetrize an undirected unique-pair edge list carrying a weight
    * expression, add one ZERO-WEIGHT self-loop per node of `ids`
    * (marked `own` — the carrier [[rankRound]] uses to keep every
    * node in the aggregate and to surface its previous rank; weight 0
    * leaves every sumw and every contribution sum unchanged),
    * annotate each edge with its src's total out-weight, and persist
    * — every iteration's join reuses the one artifact. */
  private def symmetrized(ids: DataFrame, pairs: DataFrame,
      w: Column): DataFrame = {
    val ab = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"),
      w.cast("long").as("w"), lit(0).as("own"))
    val edges = ab
      .union(ab.select(col("dst"), col("src"), col("w"), col("own")))
      .union(ids.select(col("doc_id").as("src"), col("doc_id").as("dst"),
        lit(0L).as("w"), lit(1).as("own")))
    val sw = edges.groupBy(col("src")).agg(sum(col("w")).as("sumw"))
    edges.join(sw, "src").persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Fixed-iteration damped PageRank: (doc_id, rank_e12) for every
    * node, where rank_e12 is the fixed-point rank scaled by `scale`.
    * `pairs` is an undirected unique-pair edge list (doc_a, doc_b);
    * isolated nodes converge to the base rank (1-d)·scale. */
  def pageRank(nodes: DataFrame, pairs: DataFrame, iters: Int = 3,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): DataFrame =
    rankLoop(nodes.select(col("doc_id")),
      symmetrized(nodes.select(col("doc_id")), pairs, lit(1L)),
      iters, scale, dNum, dDen, checkpointEvery)

  /** Weight-proportional damped PageRank: each neighbor receives
    * intDiv(r·w, Σw) of the node's rank instead of an equal
    * outdeg-share — the natural scorer over a SIMILARITY graph, where
    * an edge's weight (e.g. the MinHash match count from
    * [[graft.dedup.Dedup.minhashPairs]]) measures how strongly two
    * documents endorse each other. Same exact-integer regime as
    * [[pageRank]] (divide-before-sum per edge), so the oracle
    * reproduces it bit-for-bit; with every weight equal it reduces
    * exactly to the unweighted form (spec-asserted). `pairs` must
    * carry (doc_a, doc_b, weightCol) with strictly positive integer
    * weights. */
  def pageRankWeighted(nodes: DataFrame, pairs: DataFrame,
      weightCol: String = "minhash_matches", iters: Int = 3,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): DataFrame =
    rankLoop(nodes.select(col("doc_id")),
      symmetrized(nodes.select(col("doc_id")), pairs, col(weightCol)),
      iters, scale, dNum, dDen, checkpointEvery)

  /** PERSONALIZED PageRank from a seed set — the quality-bootstrap
    * scorer of web curation (CCNet/harmonic-selection style): rank
    * every document by graph proximity to a CURATED seed set rather
    * than by global centrality. Same exact-integer power iteration,
    * but only nodes satisfying `seedPred` receive the teleport mass
    * (and the initial rank) — an unreachable node converges to
    * exactly 0, a seed to at least the base, and everything else to
    * its damped proximity. `seedPred` must be a deterministic
    * predicate over `doc_id` so the DuckDB oracle can restate it.
    * With every node a seed this reduces bit-for-bit to [[pageRank]]
    * (spec-asserted). */
  def pageRankPersonalized(nodes: DataFrame, pairs: DataFrame,
      seedPred: Column, iters: Int = 3,
      scale: Long = 1000000000000L, dNum: Long = 85, dDen: Long = 100,
      checkpointEvery: Int = 5): DataFrame =
    rankLoop(nodes.select(col("doc_id")),
      symmetrized(nodes.select(col("doc_id")), pairs, lit(1L)),
      iters, scale, dNum, dDen, checkpointEvery, Some(seedPred))
}
