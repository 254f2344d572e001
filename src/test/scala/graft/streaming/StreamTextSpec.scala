package graft.streaming

import java.nio.file.Files

import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.text.Postings

/** Stream == batch for the postings ingest loop: micro-batched
  * appends grow an index that serves identically to one from-scratch
  * build over the same documents, restart markers make re-delivery
  * idempotent, and compaction after the stream is a no-op logically.
  */
class StreamTextSpec extends AnyFunSuite with LocalSparkSuite {

  test("micro-batched postings ingest == from-scratch build, then compacts") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_streamtext").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // stage as two files so maxFilesPerTrigger drives two micro-batches
    all.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/in/even")
    all.filter($"doc_id" % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/in/odd")

    val schema = all.schema
    val q = StreamText.ingestPostings(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in/*"),
      s"$tmp/index", s"$tmp/ckpt")
    try q.processAllAvailable()
    finally q.stop()

    val phrase = Seq("data", "query")
    def hits(path: String) =
      Postings.phraseSearchIndexed(spark, path, phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Postings.buildIndex(all, s"$tmp/full")
    val streamed = hits(s"$tmp/index")
    assert(streamed.nonEmpty)
    assert(streamed == hits(s"$tmp/full"))
    // row-level identity, not just probe-level
    assert(spark.read.parquet(s"$tmp/index").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      spark.read.parquet(s"$tmp/full").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    // compaction after the stream: physical re-sort, zero logical change
    Postings.compactIndex(spark, s"$tmp/index")
    assert(hits(s"$tmp/index") == streamed)
  }
}
