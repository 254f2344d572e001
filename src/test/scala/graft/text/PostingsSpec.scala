package graft.text

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral contracts of the positional-postings phrase search:
  * exact consecutive-sequence semantics (including overlapping and
  * repeated-token phrases), build/serve equivalence, and the pushed
  * token filter on the persisted index's scan.
  */
class PostingsSpec extends AnyFunSuite with LocalSparkSuite {

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("phrase semantics: consecutive only, overlapping and repeated tokens") {
    val docs = df(
      1L -> "a b c a b c",   // "a b c" twice, at 0 and 3
      2L -> "a c b",         // tokens present, sequence absent
      3L -> "x a b c y",     // once, at 1
      4L -> "a a a")         // "a a" overlaps: starts 0 and 1
    val p = Postings.positional(docs)
    val abc = Postings.phraseSearch(p, Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(abc == Map(1L -> ((2L, 0L)), 3L -> ((1L, 1L))))
    val aa = Postings.phraseSearch(p, Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(aa == Map(4L -> ((2L, 0L))))
    // single-token phrase degenerates to term frequency + first position
    val a1 = Postings.phraseSearch(p, Seq("a"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(a1 == Map(1L -> ((2L, 0L)), 2L -> ((1L, 0L)), 3L -> ((1L, 1L)),
      4L -> ((3L, 0L))))
  }

  test("indexed probe equals the one-shot search on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val phrase = Seq("data", "query")
    val oneShot = Postings.phraseSearch(Postings.positional(docs), phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(oneShot.nonEmpty, "expected 'data query' hits at sf0.001")
    val path = java.nio.file.Files.createTempDirectory("postings").toString
    Postings.buildIndex(docs, path)
    val served = Postings.phraseSearchIndexed(spark, path, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == oneShot)
  }

  test("keywordInContext: window slices clamp at both document edges") {
    val docs = df(1L -> "x a b c x", 2L -> "x y", 3L -> "a x")
    val out = Postings.keywordInContext(
      Postings.positional(docs), docs, "x", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out == Map(
      (1L, 0L) -> "x a b",        // left edge clamps
      (1L, 4L) -> "b c x",        // right edge clamps
      (2L, 0L) -> "x y",
      (3L, 1L) -> "a x"))
  }

  test("build + appends serve identically to a from-scratch union build") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val phrase = Seq("data", "query")
    def probe(path: String) =
      Postings.phraseSearchIndexed(spark, path, phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // three-way split appended in two batches
    val grown = java.nio.file.Files.createTempDirectory("postings_grown").toString
    Postings.buildIndex(docs.filter(col("doc_id") % 3 === 0), grown)
    Postings.appendIndex(docs.filter(col("doc_id") % 3 === 1), grown)
    Postings.appendIndex(docs.filter(col("doc_id") % 3 === 2), grown)
    val full = java.nio.file.Files.createTempDirectory("postings_full").toString
    Postings.buildIndex(docs, full)
    val grownHits = probe(grown)
    assert(grownHits.nonEmpty)
    assert(grownHits == probe(full))
    // compaction is a physical re-sort with zero logical change
    Postings.compactIndex(spark, grown)
    assert(probe(grown) == grownHits)
  }

  test("deleteDocs: serve == from-scratch index over survivors (per-row-pure file filter)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val phrase = Seq("data", "query")
    def probe(path: String) =
      Postings.phraseSearchIndexed(spark, path, phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def allRows(path: String) =
      spark.read.parquet(path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val live = java.nio.file.Files.createTempDirectory("postings_del").toString
    Postings.buildIndex(docs, live)
    val before = probe(live)
    Postings.deleteDocs(spark, live,
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")))
    val scratch = java.nio.file.Files.createTempDirectory("postings_del_scr").toString
    Postings.buildIndex(docs.filter(col("doc_id") % 3 =!= 0), scratch)
    assert(allRows(live) === allRows(scratch), "postings rows differ")
    assert(probe(live) === probe(scratch))
    assert(probe(live) !== before, "vacuous: no deleted doc held the phrase")
    // absent ids are a no-op
    val afterDel = allRows(live)
    Postings.deleteDocs(spark, live, Seq(999999L).toDF("doc_id"))
    assert(allRows(live) === afterDel)
  }

  test("compaction preserves stream-ingest _batches markers and leaves no _old debris") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("postings_markers").toString
    Postings.buildIndex(docs.filter(col("doc_id") % 2 === 0), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a stream having delivered batches 0 and 7
    Seq(0L, 7L).foreach { id =>
      fs.create(new org.apache.hadoop.fs.Path(s"$path/_batches/$id"), true).close()
    }
    Postings.compactIndex(spark, path)
    // re-delivery protection survives the swap; the swap cleans up
    Seq(0L, 7L).foreach { id =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_batches/$id")),
        s"marker $id must survive compaction")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_compacting")))
  }

  test("DirSwap keeps the old directory recoverable until the new one is live") {
    // the crash-window contract: a leftover _old from a previously
    // crashed swap is cleared, and a swap with a healthy tmp ends
    // with live == tmp contents and no debris
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = java.nio.file.Files.createTempDirectory("dirswap").toString
    def mk(p: String, tag: String): org.apache.hadoop.fs.Path = {
      val hp = new org.apache.hadoop.fs.Path(p)
      fs.mkdirs(hp)
      fs.create(new org.apache.hadoop.fs.Path(hp, tag), true).close()
      hp
    }
    val live = mk(s"$base/idx", "v1")
    val tmp = mk(s"$base/idx_compacting", "v2")
    mk(s"$base/idx_old", "stale") // debris from a hypothetical crash
    graft.core.DirSwap.swap(fs, live, tmp)
    assert(fs.exists(new org.apache.hadoop.fs.Path(live, "v2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(live, "v1")))
    assert(!fs.exists(tmp))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/idx_old")))
  }

  test("indexed probe pushes the token filter into the parquet scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("postings").toString
    Postings.buildIndex(docs, path)
    val plan = Postings.phraseSearchIndexed(spark, path, Seq("data", "query"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("EqualTo(token,data)"),
      s"token filter must reach the scan as a pushed predicate:\n$plan")
    assert(plan.contains("EqualTo(token,query)"),
      s"every phrase token's filter must push down:\n$plan")
  }
}
