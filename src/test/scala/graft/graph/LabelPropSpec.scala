package graft.graph

import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of deterministic synchronous label propagation: the
  * bridged-triangles hand trace (two communities, NOT merged by the
  * bridge — the behavior that separates LPA from connected
  * components), isolated-node label retention, agreement with a
  * driver-side reference sweep on a pseudo-random graph, and
  * robustness to duplicated / reversed input pairs.
  */
class LabelPropSpec extends AnyFunSuite with LocalSparkSuite {

  private def run(nodeIds: Seq[Long], es: Seq[(Long, Long)],
      iters: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val nodes = nodeIds.toDF("doc_id")
    val m = LabelProp.communities(nodes, es.toDF("doc_a", "doc_b"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    m
  }

  /** Driver-side reference: the same deterministic synchronous sweep
    * (plurality among neighbor labels plus one self-vote, ties to the
    * smallest label), written as plain Scala over adjacency maps. */
  private def reference(nodeIds: Seq[Long], es: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val adj = (es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
      .flatMap(e => Seq(e, e.swap)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lab = nodeIds.map(n => n -> n).toMap
    for (_ <- 0 until iters) {
      lab = nodeIds.map { n =>
        val votes = lab(n) +: adj.getOrElse(n, Seq.empty).map(lab)
        val byLabel = votes.groupBy(identity)
          .map { case (l, o) => (l, o.size) }
        n -> byLabel.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lab
  }

  test("convergence: per-round changed counts match the reference sweep, tail hits zero") {
    import spark.implicits._
    val nodeIds = (0L to 9L).toSeq
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L), (6L, 7L))
    val got = LabelProp.convergence(nodeIds.toDF("doc_id"),
        es.toDF("doc_a", "doc_b"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    // reference: run the driver sweep to each depth, diff consecutive
    val expected = (1 to 4).map { k =>
      val prev = reference(nodeIds, es, k - 1)
      val cur = reference(nodeIds, es, k)
      k.toLong -> nodeIds.count(n => prev(n) != cur(n)).toLong
    }.toMap
    assert(got === expected)
    assert(got(4L) === 0L, "bridged triangles converge well before round 4")
    assert(got(1L) > 0L)
  }

  test("modularity: hand-computed numerators on bridged triangles plus an isolate") {
    import spark.implicits._
    // triangles (0,1,2) and (3,4,5) bridged by 2-3, node 9 isolated:
    // m=7; communities {0,1,2} and {3,4,5} each have K_c=7, e_c=3 ->
    // mod_num = 4*7*3 - 49 = 35; the isolate contributes 0
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = LabelProp.modularity(nodes, es)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    spark.catalog.clearCache()
    assert(out === Map(
      0L -> ((3L, 7L, 3L, 35L)),
      3L -> ((3L, 7L, 3L, 35L)),
      9L -> ((1L, 0L, 0L, 0L))))
    // conservation: degree sums total 2m, intra edges bounded by m
    assert(out.values.map(_._2).sum === 14L)
    assert(out.values.map(_._3).sum <= 7L)
    // modularityOf over stored labels == the recomputing form (the
    // "audit the labels you ship" serve path, parquet round-tripped)
    val path = java.nio.file.Files
      .createTempDirectory("lp_labels").toString + "/labels"
    LabelProp.communities(nodes, es).write.parquet(path)
    val served = LabelProp.modularityOf(spark.read.parquet(path), es)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(served === LabelProp.modularity(nodes, es)
      .collect().map(_.toSeq).toSet)
    spark.catalog.clearCache()
  }

  test("similarity-graph artifact: stored edges serve identical communities, no minhash stage") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog once more now"),
      (4L, "entirely different text about training data pipelines at scale"),
      (5L, "entirely different text about training data pipelines at scale"),
      (6L, "a third unrelated document mentioning graphs and communities"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("sim_graph").toString + "/g"
    graft.dedup.Dedup.writeSimilarityGraph(docs, path)
    val stored = graft.dedup.Dedup.readSimilarityGraph(spark, path)
    // the serve plan probes parquet — the shingle/minhash pipeline is
    // paid once at build, never per consumer
    assert(!stored.queryExecution.executedPlan.toString.contains("shinglemin"))
    val nodes = docs.select(org.apache.spark.sql.functions.col("doc_id"))
    val direct = LabelProp.communities(nodes,
      graft.dedup.Dedup.minhashPairs(docs)
        .select($"doc_a", $"doc_b")).collect().map(_.toSeq).toSet
    val served = LabelProp.communities(nodes,
      stored.select($"doc_a", $"doc_b")).collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(served === direct)
    assert(stored.count() > 0)
  }

  test("early-stop twin equals the fixed-iters labels on the gated corpus") {
    import spark.implicits._
    // the gated q_graph_lp shape: LP over the MinHash similarity graph
    // of the driver testdata; convergence is measured <= the fixed
    // iteration count there (q_graph_lp_converge), so the early-stop
    // serving variant must land on the identical labeling
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val nodes = docs.select($"doc_id")
    val pairs = graft.dedup.Dedup.minhashPairs(docs)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val fixed = LabelProp.communities(nodes, pairs)
      .collect().map(_.toSeq).toSet
    val early = LabelProp.communitiesConverged(nodes, pairs)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(early === fixed)
  }

  test("early-stop runs PAST the default count when convergence is slow, and the cap bites") {
    import spark.implicits._
    // a path graph converges one hop per round (node i's tie-break
    // pulls min(i-1, i, i+1) each sweep), so 10 nodes need 9 rounds —
    // far past the default 4: the early-stop twin must keep going
    val nodeIds = (0L to 9L).toSeq
    val es = (0L to 8L).map(i => (i, i + 1L))
    val nodes = nodeIds.toDF("doc_id")
    val pairs = es.toDF("doc_a", "doc_b")
    val early = LabelProp.communitiesConverged(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(early === nodeIds.map(_ -> 0L).toMap) // the path's fixpoint
    assert(early !== run(nodeIds, es)) // fixed-4 is NOT yet converged
    assert(early === reference(nodeIds, es, 9)) // = the converged sweep
    // the maxIters cap stops mid-flight at exactly the fixed-k labels
    val capped = LabelProp.communitiesConverged(nodes, pairs, maxIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(capped === reference(nodeIds, es, 3))
  }

  test("two triangles joined by a bridge form two communities") {
    // K3 {1,2,3} + K3 {4,5,6} + bridge 3-4: the bridge must NOT merge
    // them (connected components would). Hand trace with self-votes:
    // round 1 sends {1,2,3}->1 and 4->3, 5->4, 6->4; round 2 the
    // self-vote majority pulls 4 back to 4 ({4:2} beats {1:1,3:1});
    // round 3 is the fixed point {1,2,3}->1, {4,5,6}->4
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    assert(run(1L to 6L, es) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("isolated node keeps its label; a pair converges (no swap cycle)") {
    // neighbor-only synchronous LPA swaps 7<->8 forever; the
    // self-vote ties both to the smaller id in round one and holds
    val c = run(Seq(7L, 8L, 9L), Seq((7L, 8L)))
    assert(c === Map(7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("matches the driver-side reference sweep on a random graph") {
    val nodeIds = (1L to 60L).toSeq
    val es = for {
      a <- 1L to 60L; b <- (a + 1) to 60L
      if (a * 31 + b * 17) % 23 == 0
    } yield (a, b)
    assert(es.nonEmpty)
    for (iters <- Seq(1, 3, 4))
      assert(run(nodeIds, es, iters) === reference(nodeIds, es, iters),
        s"iters=$iters")
  }

  test("modularity matches a driver-side reference on a random graph") {
    import spark.implicits._
    val nodeIds = (1L to 60L).toSeq
    val es = for {
      a <- 1L to 60L; b <- (a + 1) to 60L
      if (a * 31 + b * 17) % 23 == 0
    } yield (a, b)
    // reference: labels from the reference sweep, then the closed-form
    // per-community numerators 4·m·e_c − K_c² over the canonical edges
    val lab = reference(nodeIds, es, iters = 4)
    val canon = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    val m = canon.size.toLong
    val deg = canon.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, o) => n -> o.size.toLong }
    val expected = lab.groupBy(_._2).map { case (c, members) =>
      val nodes = members.map(_._1).toSet
      val kc = nodes.toSeq.map(n => deg.getOrElse(n, 0L)).sum
      val ec = canon.count(e => nodes(e._1) && nodes(e._2)).toLong
      (c, nodes.size.toLong, kc, ec, 4L * m * ec - kc * kc)
    }.toSet
    val got = LabelProp.modularity(nodeIds.toDF("doc_id"),
        es.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    spark.catalog.clearCache()
    assert(got === expected)
    // global sanity: ΣK_c = 2m
    assert(got.toSeq.map(_._3).sum === 2 * m)
  }

  test("duplicated and reversed pairs canonicalize to the same result") {
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val noisy = es ++ es.map(_.swap) ++ Seq((2L, 2L))
    assert(run(1L to 6L, noisy) === run(1L to 6L, es))
  }
}
