package graft.pipeline

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.text.{CorpusOps, TextFunctions}

class PipelineSpec extends AnyFunSuite with LocalSparkSuite {

  test("end-to-end pipeline: every stage's invariant holds on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = TrainingPipeline.PipelineParams()
    val out = TrainingPipeline.run(docs, p)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.nonEmpty)

    // stage invariants, recomputed independently per surviving doc
    val canonical = Dedup.clusters(docs, p.minhash)
      .filter(col("doc_id") === col("canonical_id"))
      .collect().map(_.getLong(0)).toSet
    val signals = docs.select(col("doc_id"),
        TextFunctions.repetitionPpm(col("text"), 3).as("rep"),
        TextFunctions.splitLabel(col("doc_id"), p.cuts).as("split"),
        CorpusOps.sampleBucket(col("doc_id"), p.sampleSalt).as("sb"),
        col("lang"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))).toMap
    val rates = p.sampleRates.toMap
    out.foreach { case (id, lang, _, _, _) =>
      val (rep, split, sb, l) = signals(id)
      assert(canonical.contains(id), s"doc $id is not canonical")
      assert(rep < p.maxRepetitionPpm, s"doc $id repetition $rep")
      assert(split == p.keepSplit, s"doc $id split $split")
      assert(sb < rates.getOrElse(l, p.defaultSamplePpm), s"doc $id bucket $sb")
      assert(lang == l)
    }
    // and nothing eligible was dropped
    val eligible = signals.filter { case (id, (rep, split, sb, l)) =>
      canonical.contains(id) && rep < p.maxRepetitionPpm &&
        split == p.keepSplit && sb < rates.getOrElse(l, p.defaultSamplePpm)
    }.keySet
    assert(out.map(_._1).toSet == eligible)

    // packing invariant: exclusive prefix sum in doc_id order
    var acc = 0L
    out.foreach { case (id, _, n, start, bin) =>
      assert(start == acc, s"doc $id start $start != $acc")
      assert(bin == start / p.ctxTokens)
      acc += n
    }
    spark.catalog.clearCache()
  }

  test("stageCounts: monotone survivor funnel consistent with run()") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = TrainingPipeline.PipelineParams()
    val stages = TrainingPipeline.stageCounts(docs, p)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    assert(stages.map(_._1).toSeq ==
      Seq("0_input", "1_canonical", "2_quality", "3_split", "4_sample"))
    val counts = stages.map(_._2)
    assert(counts.head == docs.count(), "0_input must be the corpus size")
    counts.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"survivor counts must be non-increasing: $counts")
    }
    // the funnel's last stage is exactly the docs the pipeline packs
    assert(counts.last == TrainingPipeline.run(docs, p).count(),
      "4_sample must equal the packed manifest size")
    spark.catalog.clearCache()
  }
}
