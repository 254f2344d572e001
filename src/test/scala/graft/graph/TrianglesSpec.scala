package graft.graph

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the degree-oriented triangle counter: known closed
  * forms (K_n, squares, stars), agreement with the naive id-ordered
  * 3-way join on random graphs (the oracle's formulation), and
  * robustness to duplicate / reversed input pairs.
  */
class TrianglesSpec extends AnyFunSuite with LocalSparkSuite {

  private def pairs(es: (Long, Long)*) = {
    import spark.implicits._
    es.toDF("doc_a", "doc_b")
  }

  private def counts(p: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val m = Triangles.perNode(p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    m
  }

  test("single triangle: every corner counts once") {
    assert(counts(pairs((1L, 2L), (1L, 3L), (2L, 3L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("square has no triangles; star has no triangles") {
    assert(counts(pairs((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))).isEmpty)
    assert(counts(pairs((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))).isEmpty)
  }

  test("K5: each node is in C(4,2) = 6 triangles") {
    val es = for {
      a <- 1L to 5L; b <- (a + 1) to 5L
    } yield (a, b)
    val c = counts(pairs(es: _*))
    assert(c.size === 5 && c.values.forall(_ === 6L))
  }

  test("matches the naive id-ordered 3-way join on a random graph") {
    // deterministic pseudo-random graph on 40 nodes: edge (a,b)
    // present when (a*31 + b*17) % 5 == 0
    val es = for {
      a <- 1L to 40L; b <- (a + 1) to 40L
      if (a * 31 + b * 17) % 5 == 0
    } yield (a, b)
    val p = pairs(es: _*).persist()
    val naive = p.as("p1")
      .join(p.as("p2"), col("p2.doc_a") === col("p1.doc_b"))
      .join(p.as("p3"), col("p3.doc_a") === col("p1.doc_a") &&
        col("p3.doc_b") === col("p2.doc_b"))
      .select(explode(array(col("p1.doc_a"), col("p1.doc_b"),
        col("p2.doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(naive.nonEmpty)
    assert(counts(p) === naive)
  }

  test("clustering: triangle corner 1e6, paw handle diluted, pendant zero") {
    // paw graph: triangle {1,2,3} + pendant 4 on node 1
    val c = Triangles.clustering(pairs((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    spark.catalog.clearCache()
    // node 1: deg 3, 1 triangle of 3 neighbor pairs -> 333333 ppm
    assert(c(1L) == ((3L, 1L, 333333L)))
    assert(c(2L) == ((2L, 1L, 1000000L)) && c(3L) == ((2L, 1L, 1000000L)))
    assert(c(4L) == ((1L, 0L, 0L)))
  }

  test("duplicate input pairs do not inflate counts") {
    assert(counts(pairs((1L, 2L), (1L, 3L), (2L, 3L), (1L, 2L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("reversed/mirrored pairs and self-loops canonicalize away") {
    // symmetrized input (the GraphRank.symmetrized shape) + a loop
    assert(counts(pairs((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L), (2L, 2L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val c = Triangles.clustering(pairs((2L, 1L), (1L, 2L), (1L, 3L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(c === Map(1L -> 2L, 2L -> 1L, 3L -> 1L)) // degrees not doubled
  }
}
