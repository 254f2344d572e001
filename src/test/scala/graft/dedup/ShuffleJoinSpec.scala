package graft.dedup

import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** At test scale every join in the pipelines is broadcast; on a
  * cluster the same plans degrade to shuffle joins. This spec disables
  * broadcast entirely and asserts the operators return identical
  * results through the sort-merge/shuffle-hash path — the plan shape
  * they would take at 100 TB.
  */
class ShuffleJoinSpec extends AnyFunSuite with LocalSparkSuite {

  private def corpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    (1L to 80L).map { i =>
      val base = Seq.fill(12)(vocab(rnd.nextInt(vocab.size)))
      // plant near-dups: every 10th doc is a 1-token edit of its neighbor
      val toks = if (i % 10 == 0) base.updated(3, "EDIT") else base
      i -> toks.mkString(" ")
    }.toDF("doc_id", "text")
  }

  private def withBroadcastDisabled[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, old)
  }

  test("minhash and jaccard pairs are identical via broadcast and shuffle joins") {
    val docs = corpus()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    val (mhB, jcB) = (rows(Dedup.minhashPairs(docs)), rows(Dedup.jaccardPairs(docs)))
    val (mhS, jcS) = withBroadcastDisabled {
      spark.catalog.clearCache()
      (rows(Dedup.minhashPairs(docs)), rows(Dedup.jaccardPairs(docs)))
    }
    assert(mhB.nonEmpty)
    assert(mhB == mhS)
    assert(jcB == jcS)
  }

  test("ANN top-k identical via broadcast and shuffle re-rank joins") {
    // annTopK's probe explode is explicitly broadcast (a probe set is
    // small by definition) but its candidate re-rank joins are
    // unhinted — those are what fall back to shuffle joins here
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    // 3 clusters with jitter below the u8 quantization step (1/128), so
    // cluster members share curve buckets deterministically
    val emb = (0L until 60L).map { i =>
      val axis = (i % 3).toInt
      i -> (0 until 16).map(d =>
        (if (d == axis * 4) 0.4f else -0.1f) + rnd.nextFloat() * 0.003f)
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val b = rows(graft.similarity.Similarity.annTopK(
      emb, col("vec_id") % 20 === 0, 5, bands = 4, bucketShift = 8))
    val s = withBroadcastDisabled {
      spark.catalog.clearCache()
      rows(graft.similarity.Similarity.annTopK(
        emb, col("vec_id") % 20 === 0, 5, bands = 4, bucketShift = 8))
    }
    assert(b.nonEmpty)
    assert(b == s)
  }

  test("cosine near-dup pairs identical via broadcast and shuffle joins") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 3 tight clusters (mates ~parallel, cross-cluster ~orthogonal)
    val emb = (0L until 60L).map { i =>
      val axis = (i % 3).toInt * 2
      i -> (0 until 8).map(d =>
        (if (d == axis) 0.8f else 0.0f) + rnd.nextFloat() * 0.01f)
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val b = rows(graft.similarity.Similarity.cosinePairs(emb))
    val s = withBroadcastDisabled {
      spark.catalog.clearCache()
      rows(graft.similarity.Similarity.cosinePairs(emb))
    }
    assert(b.nonEmpty)
    assert(b == s)
    spark.catalog.clearCache()
  }

  test("semantic dedup identical via broadcast and shuffle joins") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 3 tight axis clusters of 20; a cluster cap of 8 sends the bigger
    // centroid lists through the star rule
    val emb = (0L until 60L).map { i =>
      val axis = (i % 3).toInt * 2
      i -> (0 until 8).map(d =>
        (if (d == axis) 0.8f else 0.0f) + rnd.nextFloat() * 0.01f)
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    def run() = rows(graft.similarity.Similarity.semanticDedup(emb, nlist = 4, maxClusterSize = 8))
    val b = run()
    val s = withBroadcastDisabled {
      spark.catalog.clearCache()
      run()
    }
    assert(b.size == 60)
    // every cluster collapses to fewer canonicals than members
    assert(b.count(_.endsWith("|1")) < 60)
    assert(b == s)
    spark.catalog.clearCache()
  }
}
