package graft.dedup

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The similarity-graph artifact lifecycle (round-14 verdict #2):
  * build + append must equal a from-scratch [[Dedup.writeSimilarityGraph]]
  * of the union EDGE FOR EDGE — including the hard case where an
  * append pushes a band bucket OVER the skew cap, which converts the
  * bucket's stored all-pairs edges into star edges and therefore
  * requires the append to RETRACT stored pairs that lose their last
  * candidate support. A tiny maxBucketSize plants exactly that. */
class SimGraphSpec extends AnyFunSuite with LocalSparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/g"

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** A near-dup-heavy corpus: `n` docs cycling over `k` templates with
    * a per-doc suffix, so the banded LSH forms real multi-doc buckets. */
  private def corpus(ids: Range, k: Int) = {
    import spark.implicits._
    ids.map { i =>
      val t = i % k
      (i.toLong,
        s"template $t body the quick brown fox jumps over the lazy dog " +
          s"variant ${i / k} tail token stream for shingles")
    }.toDF("doc_id", "text")
  }

  test("build+append == from-scratch union (no cap crossing)") {
    val docs = corpus(0 until 60, 5)
    val oldDocs = docs.filter(col("doc_id") < 40)
    val newDocs = docs.filter(col("doc_id") >= 40)
    val p = Dedup.MinHashParams()
    val inc = tmp("simgraph_inc")
    Dedup.writeSimilarityGraph(oldDocs, inc, p)
    Dedup.appendSimilarityGraph(newDocs, inc, p)
    val scratch = tmp("simgraph_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    spark.catalog.clearCache()
    val got = edgeSet(Dedup.readSimilarityGraph(spark, inc))
    val exp = edgeSet(Dedup.readSimilarityGraph(spark, scratch))
    assert(got === exp)
    assert(exp.nonEmpty, "corpus produced no edges — test is vacuous")
  }

  test("build+append == from-scratch union WITH cap-crossing retraction") {
    // cap 6: templates with 8 old members are over cap already; a
    // template with 5 old members CROSSES when 3 new ones arrive
    val p = Dedup.MinHashParams(maxBucketSize = 6)
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 5} tail token stream for shingles")
    } ++ (40 until 52).map { i =>
      (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
        s"the lazy dog variant ${100 + i / 4} tail token stream for shingles")
    }
    val docs = rows.toDF("doc_id", "text")
    val oldDocs = docs.filter(col("doc_id") < 40)
    val newDocs = docs.filter(col("doc_id") >= 40)
    val inc = tmp("simgraph_cross_inc")
    Dedup.writeSimilarityGraph(oldDocs, inc, p)
    Dedup.appendSimilarityGraph(newDocs, inc, p)
    val scratch = tmp("simgraph_cross_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    spark.catalog.clearCache()
    val got = edgeSet(Dedup.readSimilarityGraph(spark, inc))
    val exp = edgeSet(Dedup.readSimilarityGraph(spark, scratch))
    // the union build must actually differ from old-edges ∪ new-edges
    // computed naively, or the retraction path was not exercised
    val oldAlone = tmp("simgraph_cross_old")
    Dedup.writeSimilarityGraph(oldDocs, oldAlone, p)
    spark.catalog.clearCache()
    val oldEdges = edgeSet(Dedup.readSimilarityGraph(spark, oldAlone))
    assert((oldEdges -- exp).nonEmpty,
      "no stored edge lost support — the retraction path was not exercised")
    assert(got === exp)
  }

  /** The stored-artifact invariant the `canonical = true` consumers
    * trust (Triangles / LabelProp.canonEdges / modularityOf skip their
    * defensive least/greatest+distinct shuffle for artifact edges):
    * every stored edge is oriented doc_a < doc_b and the (doc_a,
    * doc_b) key set is globally distinct. Asserted across the three
    * writer paths — build, cap-crossing append (the DirSwap rewrite),
    * and delete — so a future writer regression surfaces here instead
    * of silently double-counting triangles/votes (round-17 ADVICE). */
  private def assertCanonical(df: org.apache.spark.sql.DataFrame,
      where: String): Unit = {
    val bad = df.filter(col("doc_a") >= col("doc_b")).count()
    assert(bad === 0L, s"$where: $bad edges violate doc_a < doc_b")
    val n = df.count()
    val nd = df.select(col("doc_a"), col("doc_b")).distinct().count()
    assert(n === nd, s"$where: ${n - nd} duplicate (doc_a, doc_b) pairs")
  }

  test("artifact invariant: doc_a<doc_b, globally distinct — build, crossing append, delete") {
    val p = Dedup.MinHashParams(maxBucketSize = 6)
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 5} tail token stream for shingles")
    } ++ (40 until 52).map { i =>
      (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
        s"the lazy dog variant ${100 + i / 4} tail token stream for shingles")
    }
    val docs = rows.toDF("doc_id", "text")
    val inc = tmp("simgraph_invariant")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 40), inc, p)
    assertCanonical(Dedup.readSimilarityGraph(spark, inc), "build")
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 40), inc, p)
    assertCanonical(Dedup.readSimilarityGraph(spark, inc), "crossing append")
    Dedup.deleteFromSimilarityGraph(spark, inc,
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")), p)
    assertCanonical(Dedup.readSimilarityGraph(spark, inc), "delete")
    spark.catalog.clearCache()
  }

  test("empty build then append == from-scratch of the batch; empty append is a no-op") {
    import spark.implicits._
    val docs = corpus(0 until 30, 3)
    val p = Dedup.MinHashParams()
    val inc = tmp("simgraph_empty")
    Dedup.writeSimilarityGraph(
      docs.filter(col("doc_id") < 0), inc, p) // empty snapshot
    Dedup.appendSimilarityGraph(docs, inc, p)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") < 0), inc, p) // no-op
    val scratch = tmp("simgraph_empty_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    spark.catalog.clearCache()
    assert(edgeSet(Dedup.readSimilarityGraph(spark, inc)) ===
      edgeSet(Dedup.readSimilarityGraph(spark, scratch)))
  }

  test("randomized: build+append == from-scratch across caps and split points (8 cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(15015)
    for (c <- 0 until 8) {
      // random template-cluster corpus: cluster sizes and counts vary
      // so band buckets land under, over, and ACROSS random caps
      val k = 2 + rnd.nextInt(6)
      val n = 24 + rnd.nextInt(40)
      val rows = (0 until n).map { i =>
        (i.toLong, s"template ${i % k} body the quick brown fox jumps " +
          s"over the lazy dog variant ${i / k + rnd.nextInt(2)} tail " +
          s"token stream for shingles case $c")
      }
      val docs = rows.toDF("doc_id", "text")
      val cut = 8 + rnd.nextInt(n - 12)
      val p = Dedup.MinHashParams(maxBucketSize = 3 + rnd.nextInt(10))
      val inc = tmp(s"simgraph_fuzz_${c}_inc")
      Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < cut), inc, p)
      Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= cut), inc, p)
      val scratch = tmp(s"simgraph_fuzz_${c}_scratch")
      Dedup.writeSimilarityGraph(docs, scratch, p)
      spark.catalog.clearCache()
      assert(edgeSet(Dedup.readSimilarityGraph(spark, inc)) ===
        edgeSet(Dedup.readSimilarityGraph(spark, scratch)),
        s"case $c diverged: n=$n k=$k cut=$cut cap=${p.maxBucketSize}")
    }
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def deleteDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  test("replay after a crash between the edges write and the index append is idempotent") {
    // round-15 ADVICE: the append commits edges BEFORE the index, so a
    // crash in between used to let the replayed batch double-append its
    // edges. Construct that exact on-disk state — edges fully committed
    // (including any retraction rewrite), index untouched — by running
    // the append on a CLONE and transplanting only its edges/ back;
    // then replay the same batch and demand the from-scratch union.
    import spark.implicits._
    for ((cap, tag) <- Seq(1024 -> "plain", 6 -> "crossing")) {
      val p = Dedup.MinHashParams(maxBucketSize = cap)
      val rows = (0 until 40).map { i =>
        (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
          s"the lazy dog variant ${i / 5} tail token stream for shingles")
      } ++ (40 until 52).map { i =>
        (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
          s"the lazy dog variant ${100 + i / 4} tail token stream for shingles")
      }
      val docs = rows.toDF("doc_id", "text")
      val oldDocs = docs.filter(col("doc_id") < 40)
      val newDocs = docs.filter(col("doc_id") >= 40)
      val inc = tmp(s"simgraph_replay_${tag}")
      Dedup.writeSimilarityGraph(oldDocs, inc, p)
      val clone = tmp(s"simgraph_replay_${tag}_clone")
      copyDir(inc, clone)
      Dedup.appendSimilarityGraph(newDocs, clone, p)
      deleteDir(s"$inc/edges")
      copyDir(s"$clone/edges", s"$inc/edges")
      // the crashed artifact now serves the batch's edges while the
      // index has never seen the batch — replay the SAME batch
      Dedup.appendSimilarityGraph(newDocs, inc, p)
      val scratch = tmp(s"simgraph_replay_${tag}_scratch")
      Dedup.writeSimilarityGraph(docs, scratch, p)
      spark.catalog.clearCache()
      val got = Dedup.readSimilarityGraph(spark, inc)
      val exp = edgeSet(Dedup.readSimilarityGraph(spark, scratch))
      // set equality AND no duplicate rows (the double-count the guard
      // exists to prevent would survive a set-only comparison)
      assert(got.count() === exp.size, s"[$tag] duplicate edge rows after replay")
      assert(edgeSet(got) === exp, s"[$tag] replayed artifact diverged")
    }
  }

  test("debris of an ABANDONED crashed batch is scrubbed when recovery moves on to higher ids") {
    // round-16 review: the scrub predicate must be the stored INDEX
    // max, not the incoming batch's min — debris of a crashed batch A
    // whose ids sit below a later batch B's min would survive a
    // batch-min scrub and be served forever despite A's docs not
    // existing in the index. Plant A's edges (A never reaches the
    // index), then append B instead of replaying A: the artifact must
    // equal a from-scratch build of old ∪ B, with A rolled back to
    // "never happened".
    import spark.implicits._
    def doc(i: Int) = s"template ${i % 5} body the quick brown fox jumps over " +
      s"the lazy dog variant ${i / 5} tail token stream for shingles"
    val oldDocs = (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val batchA = (40 until 52).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val batchB = (52 until 64).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("simgraph_abandoned")
    Dedup.writeSimilarityGraph(oldDocs, inc, p)
    val clone = tmp("simgraph_abandoned_clone")
    copyDir(inc, clone)
    Dedup.appendSimilarityGraph(batchA, clone, p)
    deleteDir(s"$inc/edges")
    copyDir(s"$clone/edges", s"$inc/edges")
    // recovery abandons A (its docs are re-ingested elsewhere or
    // dropped) and the stream continues with B
    Dedup.appendSimilarityGraph(batchB, inc, p)
    val scratch = tmp("simgraph_abandoned_scratch")
    Dedup.writeSimilarityGraph(oldDocs.unionByName(batchB), scratch, p)
    spark.catalog.clearCache()
    val got = Dedup.readSimilarityGraph(spark, inc)
    val exp = edgeSet(Dedup.readSimilarityGraph(spark, scratch))
    assert(got.count() === exp.size, "duplicate or debris edge rows survived")
    assert(edgeSet(got) === exp, "abandoned-batch debris not rolled back")
    // nothing referencing A's ids is served
    assert(got.filter(col("doc_a").between(40, 51) ||
      col("doc_b").between(40, 51)).count() === 0L)
  }

  test("two appends compose (compaction between them); a non-monotone batch is rejected") {
    val docs = corpus(0 until 60, 4)
    val p = Dedup.MinHashParams()
    val inc = tmp("simgraph_two")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 30), inc, p)
    Dedup.appendSimilarityGraph(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 45), inc, p)
    // compacting mid-sequence must change nothing: the edge set is a
    // pure rewrite and the index's merged partials are probe-identical
    val before = edgeSet(Dedup.readSimilarityGraph(spark, inc))
    Dedup.compactSimilarityGraph(spark, inc, p)
    assert(edgeSet(Dedup.readSimilarityGraph(spark, inc)) === before)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 45), inc, p)
    val scratch = tmp("simgraph_two_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    spark.catalog.clearCache()
    assert(edgeSet(Dedup.readSimilarityGraph(spark, inc)) ===
      edgeSet(Dedup.readSimilarityGraph(spark, scratch)))
    val err = intercept[IllegalArgumentException] {
      Dedup.appendSimilarityGraph(docs.filter(col("doc_id") < 10), inc, p)
    }
    assert(err.getMessage.contains("monotone"))
  }
}
