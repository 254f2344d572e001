package graft.text

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral contracts of the record-linkage operator that the
  * oracle's value-hash can't state as invariants: one best match per
  * left id, self-linkage is a perfect-score identity, and the emitted
  * Jaccard matches an independent builtin-function recount.
  */
class LinkageSpec extends AnyFunSuite with LocalSparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  test("linkBestMatch emits at most one row per left id, above threshold") {
    val left = docs.filter(length(col("source")) === 4)
    val right = docs.filter(length(col("source")) === 5)
    val links = Linkage.linkBestMatch(left, right)
    val rows = links.collect()
    assert(rows.nonEmpty, "expected some cross-registry links at sf0.001")
    assert(links.select("left_id").distinct().count() == rows.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("jaccard_ppm") >= 200000L)
      assert(r.getAs[Long]("inter") <= r.getAs[Long]("uni"))
    }
  }

  test("self-linkage links every blocked id to itself at jaccard 1e6") {
    val reg = docs.limit(30)
    val links = Linkage.linkBestMatch(reg, reg).collect()
    assert(links.nonEmpty)
    links.foreach { r =>
      assert(r.getAs[Long]("left_id") == r.getAs[Long]("right_id"),
        s"best self-match must be the identical row: $r")
      assert(r.getAs[Long]("jaccard_ppm") == 1000000L)
      assert(r.getAs[Long]("inter") == r.getAs[Long]("uni"))
    }
  }

  test("emitted score matches an independent array_intersect recount") {
    val left = docs.filter(length(col("source")) === 4)
    val right = docs.filter(length(col("source")) === 5)
    val links = Linkage.linkBestMatch(left, right).collect()
    assert(links.nonEmpty)
    def hashSet(id: Long) = docs.filter(col("doc_id") === id)
      .select(graft.dedup.Dedup.shingleHashesBuiltin(col("text"), 3))
      .collect().head.getSeq[Long](0).toSet
    links.take(3).foreach { r =>
      val a = hashSet(r.getAs[Long]("left_id"))
      val b = hashSet(r.getAs[Long]("right_id"))
      val inter = (a & b).size.toLong
      val uni = (a | b).size.toLong
      assert(r.getAs[Long]("inter") == inter)
      assert(r.getAs[Long]("uni") == uni)
      assert(r.getAs[Long]("jaccard_ppm") == inter * 1000000L / uni)
    }
  }

  test("linkEditDistance: exact distances, catches the shingle-shifting edit class") {
    import spark.implicits._
    // right 100 differs from left 1 by one char at tokens 0 and 5:
    // the 5 shingles touching an edit all shift (Jaccard drops to
    // 2/12) while the edit distance stays 2 — the class this verify
    // exists for; the middle run keeps shared shingles so blocking
    // still fires
    val l = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota")).toDF("doc_id", "text")
    val rgt = Seq(
      (100L, "alphX beta gamma delta epsilon zetX eta theta iota"),
      (101L, "completely different words here with nothing shared at all x"))
      .toDF("doc_id", "text")
    val out = Linkage.linkEditDistance(l, rgt, maxDf = 5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("right_id") == 100L)
    assert(r.getAs[Long]("dist") == 2L)
    assert(r.getAs[Long]("norm_ppm") ==
      2L * 1000000L / r.getAs[Long]("max_len"))
  }

  test("linkEditDistance: identical empty texts are a perfect 0-distance match") {
    import spark.implicits._
    val l = Seq((1L, "")).toDF("doc_id", "text")
    val rgt = Seq((2L, "")).toDF("doc_id", "text")
    // an empty text has ONE (empty) shingle, so minShared must be 1
    val out = Linkage.linkEditDistance(l, rgt, maxDf = 5, minShared = 1).collect()
    assert(out.length == 1 && out.head.getAs[Long]("dist") == 0L &&
      out.head.getAs[Long]("norm_ppm") == 0L)
  }

  test("bag distance lower-bounds Levenshtein on adversarial strings; prune preserves results") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnShims
    // adversarial shapes: transpositions (bag 0, lev > 0), disjoint
    // alphabets, repeats, prefixes, unicode (code-point counting)
    val pairs = Seq(
      ("abcd", "dcba"), ("abc", "xyz"), ("aaab", "abbb"),
      ("kitten", "sitting"), ("", "abc"), ("café", "cafe"),
      ("a" * 50 + "b" * 3, "a" * 50), ("ab😀", "ab"))
      .toDF("a", "b")
    val rows = pairs.select(
      ColumnShims.column(graft.functions.BagDistanceLB(
        ColumnShims.expression(col("a")),
        ColumnShims.expression(col("b")))).as("bag"),
      levenshtein(col("a"), col("b")).cast("long").as("lev"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) <= r.getLong(1),
      s"bag ${r.getLong(0)} > lev ${r.getLong(1)}"))
    // and the pruned pipeline equals itself without pruning by
    // construction (bag <= bound is implied by dist <= bound): the
    // boundary-distance spec below re-proves end-to-end equality
  }

  test("bounded DP keeps the exact boundary distance and drops one past it") {
    import spark.implicits._
    // Candidate pairs whose distance sits exactly AT and exactly ONE
    // PAST the largest dist passing intDiv(dist*1e6, max_len) <=
    // maxNormPpm. len=10 texts sharing a rare 7-token run (blocking
    // fires); trailing-edit count controls the distance. At
    // maxNormPpm=200000 and max_len=51 the bound is
    // ((200000+1)*51-1)//1e6 = 10: dist=10 has norm_ppm=196078
    // (passes), dist=11 has 215686 (fails). The bounded 3-arg DP must
    // return the true distance at the bound and -1 one past it —
    // proving the -1 rows are exactly the unbounded filter's rejects.
    val base = "alpha beta gamma delta epsilon zeta eta AAAAAAAAAAA"
    assert(base.length == 51)
    def edited(n: Int) =
      base.dropRight(n) + ("B" * n) // n substitutions at the tail
    val l = Seq((1L, base)).toDF("doc_id", "text")
    val rgt = Seq((100L, edited(10)), (101L, edited(11)))
      .toDF("doc_id", "text")
    val out = Linkage.linkEditDistance(l, rgt, maxDf = 5,
      maxNormPpm = 200000L, minShared = 1).collect()
    // only the at-bound pair survives, with its exact distance
    assert(out.length == 1)
    assert(out.head.getAs[Long]("right_id") == 100L)
    assert(out.head.getAs[Long]("dist") == 10L)
    assert(out.head.getAs[Long]("norm_ppm") == 10L * 1000000L / 51L)
    // one-notch-looser threshold re-admits the dist=11 pair with its
    // true distance (the -1 sentinel never leaks a wrong distance)
    val loose = Linkage.linkEditDistance(l, rgt, maxDf = 5,
      maxNormPpm = 215686L, minShared = 1)
      .collect().map(r => r.getAs[Long]("right_id") ->
        r.getAs[Long]("dist")).toMap
    assert(loose == Map(100L -> 10L)) // best match still dist=10
  }

  test("setSimJoin equals the naive quadratic Jaccard join (lossless prefix filter)") {
    val left = docs.filter(length(col("source")) === 4)
    val right = docs.filter(length(col("source")) === 5)
    val fast = Linkage.setSimJoin(left, right, threshPpm = 300000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    spark.catalog.clearCache()
    // naive: every pair, exact sorted-hash intersection, same math
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        graft.dedup.Dedup.shingleHashes(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    val naive = (for {
      (la, sa) <- sets(left); (rb, sb) <- sets(right)
      inter = sa.toSet.intersect(sb.toSet).size.toLong
      uni = sa.size + sb.size - inter
      jac = inter * 1000000L / uni
      if jac >= 300000L
    } yield (la, rb) -> ((inter, uni, jac))).toMap
    spark.catalog.clearCache()
    assert(fast == naive && naive.nonEmpty)
  }

  test("setSimJoin threshold boundary: a pair at exactly t stays, one under t drops") {
    import spark.implicits._
    // 4 distinct shingles per side, overlap 3 of 5 union -> jaccard
    // exactly 600000 ppm; the second right row shares 2 of 6 -> 333333
    val l = Seq((1L, "a b c d e f")).toDF("doc_id", "text") // shingles: abc bcd cde def
    val rgt = Seq(
      (10L, "a b c d e x"),  // abc bcd cde dex -> inter 3, uni 5
      (11L, "a b c x y z"))  // abc bcx cxy xyz -> inter 1, uni 7
      .toDF("doc_id", "text")
    val at = Linkage.setSimJoin(l, rgt, threshPpm = 600000L)
      .collect().map(r => (r.getLong(1), r.getLong(4))).toMap
    spark.catalog.clearCache()
    assert(at == Map(10L -> 600000L))
    // one ppm tighter: the exact-boundary pair drops too
    assert(Linkage.setSimJoin(l, rgt, threshPpm = 600001L).count() == 0)
    spark.catalog.clearCache()
  }

  test("containJoin equals the naive quadratic containment join") {
    val left = docs.filter(length(col("source")) === 4)
    val right = docs.filter(length(col("source")) === 5)
    val fast = Linkage.containJoin(left, right, threshPpm = 600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    spark.catalog.clearCache()
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        graft.dedup.Dedup.shingleHashes(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    val naive = (for {
      (la, sa) <- sets(left); (rb, sb) <- sets(right)
      inter = sa.toSet.intersect(sb.toSet).size.toLong
      ppm = inter * 1000000L / sa.size
      if ppm >= 600000L
    } yield (la, rb) -> ((inter, sa.size.toLong, ppm))).toMap
    spark.catalog.clearCache()
    assert(fast == naive && naive.nonEmpty)
  }

  test("containJoin is asymmetric: a short doc contained in a long one passes where Jaccard fails") {
    import spark.implicits._
    // left's 4 shingles all appear in right (containment 1e6) but the
    // union is large, so Jaccard is only 4/24 — the short-in-long
    // class the containment join exists for
    val leftText = "a b c d e f"
    val rightText = ("a b c d e f " + (1 to 20).map(i => s"w$i").mkString(" "))
    val l = Seq((1L, leftText)).toDF("doc_id", "text")
    val rgt = Seq((10L, rightText)).toDF("doc_id", "text")
    val c = Linkage.containJoin(l, rgt, threshPpm = 1000000L).collect()
    assert(c.length == 1 && c.head.getLong(4) == 1000000L)
    spark.catalog.clearCache()
    assert(Linkage.setSimJoin(l, rgt, threshPpm = 600000L).count() == 0)
    spark.catalog.clearCache()
  }

  test("df cap bounds candidate generation: a common shingle never blocks") {
    import spark.implicits._
    // 8 left rows sharing one ubiquitous shingle; df cap 5 excludes it,
    // so no candidates and no links — deterministic, not probabilistic
    val l = (0 until 8).map(i => (i.toLong, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val rgt = (100 until 108).map(i => (i.toLong, "alpha beta gamma"))
      .toDF("doc_id", "text")
    assert(Linkage.linkBestMatch(l, rgt, maxDf = 5).count() == 0)
    // raising the cap re-admits the shingle: perfect matches appear
    assert(Linkage.linkBestMatch(l, rgt, maxDf = 8).count() == 8)
  }
}
