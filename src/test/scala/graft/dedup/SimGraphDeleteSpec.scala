package graft.dedup

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The DELETE verb of the similarity-graph lifecycle (round-16 verdict
  * #1 — the takedown / right-to-be-forgotten operation): after
  * [[Dedup.deleteFromSimilarityGraph]], the artifact must equal a
  * from-scratch [[Dedup.writeSimilarityGraph]] over the SURVIVING
  * corpus — edge for edge, probe for probe, sidecar for sidecar —
  * including the two hard bucket transitions deletion causes: an
  * over-cap bucket DROPPING under the cap (star edges must expand to
  * all pairs) and a still-over-cap bucket whose merged MIN died (the
  * star must re-point at the surviving min). The oracle side of the
  * gated queries is the plain from-scratch build over survivors — the
  * oracle never sees the deletion path. */
class SimGraphDeleteSpec extends AnyFunSuite with LocalSparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/g"

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def corpus(ids: Range, k: Int) = {
    import spark.implicits._
    ids.map { i =>
      val t = i % k
      (i.toLong,
        s"template $t body the quick brown fox jumps over the lazy dog " +
          s"variant ${i / k} tail token stream for shingles")
    }.toDF("doc_id", "text")
  }

  private def ids(xs: Seq[Long]) = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  private def assertEqualsScratch(live: String, survivors: org.apache.spark.sql.DataFrame,
      p: Dedup.MinHashParams, clue: String): Unit = {
    val scratch = tmp("del_scratch")
    Dedup.writeSimilarityGraph(survivors, scratch, p)
    spark.catalog.clearCache()
    val got = edgeSet(Dedup.readSimilarityGraph(spark, live))
    val exp = edgeSet(Dedup.readSimilarityGraph(spark, scratch))
    assert(got === exp, clue)
  }

  test("build + delete == from-scratch over survivors") {
    val docs = corpus(0 until 60, 5)
    val p = Dedup.MinHashParams()
    val live = tmp("del_basic")
    Dedup.writeSimilarityGraph(docs, live, p)
    val del = ids((0L until 60L).filter(_ % 7 == 3))
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    assertEqualsScratch(live, docs.filter(col("doc_id") % 7 =!= 3), p, "basic delete")
    assert(edgeSet(Dedup.readSimilarityGraph(spark, live)).nonEmpty, "vacuous")
  }

  test("build + append + delete == from-scratch over survivors (the gated shape)") {
    val docs = corpus(0 until 80, 5)
    val p = Dedup.MinHashParams()
    val live = tmp("del_appended")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), live, p)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), live, p)
    val del = ids((0L until 80L).filter(_ % 7 == 3))
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    assertEqualsScratch(live, docs.filter(col("doc_id") % 7 =!= 3), p,
      "delete after append")
  }

  test("delete then append composes (delete + later ingest == from-scratch)") {
    val docs = corpus(0 until 80, 5)
    val p = Dedup.MinHashParams()
    val live = tmp("del_compose")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), live, p)
    val del = ids((0L until 60L).filter(_ % 7 == 3))
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), live, p)
    val surv = docs.filter(col("doc_id") >= 60 ||
      col("doc_id") % 7 =!= 3)
    assertEqualsScratch(live, surv, p, "append after delete")
  }

  test("over-cap bucket transitions: drop-under-cap expands the star; dead min re-points it") {
    // cap 2 over EXACT CLONES (identical text -> identical signatures
    // -> the 10 members of a template share EVERY band bucket): each
    // template bucket is far over cap, stored as a star through the
    // bucket min. Deleting 8 of one template's 10 members DROPS its
    // buckets under the cap (all-pairs must appear); deleting only
    // the MIN of another template keeps it over cap but forces the
    // star onto the next-smallest survivor.
    val p = Dedup.MinHashParams(maxBucketSize = 2)
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"clone template ${i % 3} the quick brown fox jumps " +
        "over the lazy dog shared body token stream for shingles")
    }.toDF("doc_id", "text") // templates 0,1,2 with 10 identical members each
    val live = tmp("del_caps")
    Dedup.writeSimilarityGraph(docs, live, p)
    val before = edgeSet(Dedup.readSimilarityGraph(spark, live))
    // template 0 members: 0,3,6,...,27 — keep only {21, 27}; template
    // 1 members: 1,4,...,28 — delete just the min (1)
    val del = ids((0L until 30L).filter(i => i % 3 == 0 && i != 21 && i != 27) :+ 1L)
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    val survivors = docs.join(broadcast(del), Seq("doc_id"), "left_anti")
    assertEqualsScratch(live, survivors, p, "cap transitions")
    val after = edgeSet(Dedup.readSimilarityGraph(spark, live))
    // non-vacuity: the dropped bucket's all-pairs edge (21,27) was not
    // storable before (both non-min under the star rule), and the
    // re-pointed star produced edges through template 1's new min (4)
    assert(after.exists(e => e._1 == 21L && e._2 == 27L),
      "drop-under-cap did not expand the star to all pairs")
    assert(after.exists(e => e._1 == 4L),
      "dead-min bucket did not re-point its star at the surviving min")
    assert(!before.exists(e => e._1 == 21L && e._2 == 27L),
      "test is vacuous: (21,27) was already stored before the delete")
  }

  test("deleting absent ids is a no-op; re-running the same delete converges") {
    val docs = corpus(0 until 60, 5)
    val p = Dedup.MinHashParams()
    val live = tmp("del_idem")
    Dedup.writeSimilarityGraph(docs, live, p)
    val del = ids((0L until 60L).filter(_ % 7 == 3))
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    val once = edgeSet(Dedup.readSimilarityGraph(spark, live))
    // absent ids (already deleted + never-ingested): no-op
    Dedup.deleteFromSimilarityGraph(spark, live, ids(Seq(3L, 10003L)), p)
    assert(edgeSet(Dedup.readSimilarityGraph(spark, live)) === once,
      "absent-id delete changed the artifact")
    // full re-run of the same delete set: converges to the same state
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    assert(edgeSet(Dedup.readSimilarityGraph(spark, live)) === once,
      "re-running the delete diverged")
  }

  test("standalone signature-index delete: probes == probes against a from-scratch survivor index") {
    val docs = corpus(0 until 60, 5)
    val p = Dedup.MinHashParams()
    val live = tmp("del_idx")
    Dedup.writeSignatureIndex(docs.filter(col("doc_id") < 50), live, p)
    Dedup.deleteFromSignatureIndex(spark, live,
      ids((0L until 50L).filter(_ % 7 == 3)), p)
    val scratch = tmp("del_idx_scratch")
    Dedup.writeSignatureIndex(
      docs.filter(col("doc_id") < 50 && col("doc_id") % 7 =!= 3), scratch, p)
    val probe = docs.filter(col("doc_id") >= 50)
    def probeSet(path: String) = {
      val s = Dedup.minhashPairsAgainstIndex(probe, path, p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.catalog.clearCache()
      s
    }
    val got = probeSet(live)
    assert(got === probeSet(scratch), "probe sets differ after index delete")
    assert(got.nonEmpty, "vacuous: probe batch matched nothing")
  }

  test("delete refreshes existing sidecars to the from-scratch state") {
    val docs = corpus(0 until 60, 5)
    val p = Dedup.MinHashParams()
    val live = tmp("del_sidecars")
    Dedup.writeSimilarityGraph(docs, live, p)
    Dedup.writeComponentLabels(spark, live)
    Dedup.writeTriangleStats(spark, live)
    Dedup.writeRankScores(spark, live, tol = 1000000000L)
    Dedup.writeLpCommunities(spark, live)
    val del = ids((0L until 60L).filter(_ % 7 == 3))
    Dedup.deleteFromSimilarityGraph(spark, live, del, p)
    spark.catalog.clearCache()
    val edges = Dedup.readSimilarityGraph(spark, live)
      .select(col("doc_a"), col("doc_b"))
    // labels: exact — equal to a fresh component solve of current edges
    val expLabels = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val gotLabels = Dedup.readComponentLabels(spark, live).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotLabels === expLabels, "labels sidecar stale after delete")
    val delIds = (0L until 60L).filter(_ % 7 == 3).toSet
    assert(gotLabels.forall(l => !delIds.contains(l._1)),
      "a deleted doc survived in the labels sidecar")
    // tri: exact — equal to fresh stats of current edges
    val (expTriF, cached) = graft.graph.Triangles.statsImpl(edges)
    val expTri = expTriF.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    cached.foreach(_.unpersist())
    val gotTri = Dedup.readTriangleStats(spark, live).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotTri === expTri, "tri sidecar stale after delete")
    // rank: the audit contract row must be all-ok on the post-delete state
    val audit = Dedup.rankSidecarAudit(spark, live, tol = 1000000000L).collect()(0)
    assert((audit.getLong(0), audit.getLong(1), audit.getLong(2), audit.getLong(3))
      === ((1L, 1L, 1L, 1L)), "rank sidecar out of contract after delete")
    // lp: served assignment is a fixpoint of the current edges and
    // covers exactly the current endpoints
    val served = Dedup.readLpCommunities(spark, live)
    val again = graft.graph.LabelProp.oneRound(edges, served).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val servedSet = served.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === servedSet, "lp sidecar not a fixpoint after delete")
    assert(servedSet.forall(l => !delIds.contains(l._1)),
      "a deleted doc survived in the lp sidecar")
    spark.catalog.clearCache()
  }

  test("sidecars re-line even when the delete leaves watermark AND edge count unchanged") {
    import spark.implicits._
    // four EXACT duplicates, cap 3: stored edges are the star at the
    // min id — (10,11),(10,12),(10,13). Deleting 10 drops every
    // bucket under the cap, so the survivor pairs are all-pairs —
    // (11,12),(11,13),(12,13): SAME edge count (3), SAME max endpoint
    // (13). The (watermark, n_edges) append heuristic sees nothing,
    // which is exactly why the delete verb must re-line sidecars
    // UNCONDITIONALLY — under the old meta-gating this served ghost
    // node 10 as the canonical of 11/12/13.
    val docs = (10L to 13L)
      .map(i => (i, "identical body the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val p = Dedup.MinHashParams(maxBucketSize = 3)
    val live = tmp("del_wm_invariant")
    Dedup.writeSimilarityGraph(docs, live, p)
    Dedup.writeComponentLabels(spark, live)
    Dedup.writeRankScores(spark, live)
    val before = edgeSet(Dedup.readSimilarityGraph(spark, live))
    assert(before.map(e => (e._1, e._2)) === Set((10L, 11L), (10L, 12L), (10L, 13L)))
    Dedup.deleteFromSimilarityGraph(spark, live, ids(Seq(10L)), p)
    spark.catalog.clearCache()
    val after = edgeSet(Dedup.readSimilarityGraph(spark, live))
    assert(after.map(e => (e._1, e._2)) === Set((11L, 12L), (11L, 13L), (12L, 13L)))
    assert(after.size === before.size, "the adversarial shape needs equal counts")
    // labels: ghost node 10 must be gone and the canonical re-derived
    val labels = Dedup.readComponentLabels(spark, live).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels === Set((11L, 11L), (12L, 11L), (13L, 11L)),
      "labels sidecar served a deleted doc after a count-preserving delete")
    // rank: the sidecar's node set must be exactly the current endpoints
    val rankIds = Dedup.readRankScores(spark, live).collect()
      .map(_.getLong(0)).toSet
    assert(rankIds === Set(11L, 12L, 13L),
      "rank sidecar kept a deleted doc after a count-preserving delete")
    spark.catalog.clearCache()
  }

  test("deleting every document empties the artifact; ingest restarts cleanly") {
    val docs = corpus(0 until 20, 2)
    val p = Dedup.MinHashParams()
    val live = tmp("del_all")
    Dedup.writeSimilarityGraph(docs, live, p)
    Dedup.deleteFromSimilarityGraph(spark, live, docs.select(col("doc_id")), p)
    assert(Dedup.readSimilarityGraph(spark, live).isEmpty, "edges survived")
    assert(spark.read.parquet(s"$live/index/sigs").isEmpty, "sigs survived")
    // an empty index accepts any batch (the documented empty-build rule)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") < 10), live, p)
    assertEqualsScratch(live, docs.filter(col("doc_id") < 10), p,
      "ingest after delete-all")
  }
}
