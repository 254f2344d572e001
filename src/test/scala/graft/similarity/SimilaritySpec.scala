package graft.similarity

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with LocalSparkSuite {

  /** Tiny deterministic corpus: 3 clusters around orthogonal axes in
    * 8 dims + the probe near cluster 0. */
  private def corpus() = {
    import spark.implicits._
    def v(axis: Int, eps: Float): Seq[Float] =
      (0 until 8).map(d => (if (d == axis) 0.9f else 0.0f) + (if (d == (axis + 1) % 8) eps else 0.0f))
    Seq(
      (0L, v(0, 0.01f)), (1L, v(0, 0.02f)), (2L, v(0, 0.03f)),
      (10L, v(3, 0.01f)), (11L, v(3, 0.02f)),
      (20L, v(6, 0.01f)), (21L, v(6, 0.02f)))
      .toDF("vec_id", "embedding")
  }

  test("embAudit: per-label counts, mixed dims, zero vectors, exact norm2 stats") {
    import spark.implicits._
    // label 1: two clean 2-dim unit-ish vectors; label 2: one zero
    // vector and one 3-dim vector (a dim mismatch to catch)
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 1),
      (1L, Seq(0.0f, 0.5f), 1),
      (2L, Seq(0.0f, 0.0f), 2),
      (3L, Seq(0.5f, 0.5f, 0.5f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embAudit(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6).toLong))).toMap
    val s = 1048576L // 2^20
    val one = s * s            // quantize(1.0f)^2
    val half = (s / 2) * (s / 2)
    assert(out(1L) == ((2L, 1L, 0L, half, one, one + half)))
    assert(out(2L) == ((2L, 2L, 1L, 0L, 3L * half, 3L * half)))
  }

  test("embCentroids: collinear classes dot large, orthogonal classes dot zero") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 1), (1L, Seq(1.0f, 0.0f), 1), // x-axis, n=2
      (2L, Seq(0.0f, 0.5f), 2),                           // y-axis
      (3L, Seq(0.5f, 0.0f), 3))                           // x-axis again
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embCentroids(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2).toLong, r.getString(3).toLong,
          r.getString(4).toLong))).toMap
    spark.catalog.clearCache()
    val s = 1048576L // 2^20
    assert(out((1L, 2L)) == ((0L, 4L * s * s, (s / 2) * (s / 2))))
    assert(out((1L, 3L)) == ((2L * s * (s / 2), 4L * s * s, (s / 2) * (s / 2))))
    assert(out((2L, 3L))._1 == 0L)
  }

  test("sqQuantAudit: hand-computed codes/errors; constant dim degenerates to one code") {
    import spark.implicits._
    // dim 0 spans {0, 2^18, 2^20}; dim 1 is constant (span 0)
    val emb = Seq(
      (0L, Seq(0.0f, 0.5f)), (1L, Seq(0.25f, 0.5f)), (2L, Seq(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.sqQuantAudit(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val s = 1048576L // 2^20
    // q=2^18: code = 2^18*255 // 2^20 = 63; rec = 63*2^20 // 255 = 259060
    assert(out(0L) == ((0L, s, 3L, s / 4 - 63L * s / 255L, s / 4 - 63L * s / 255L)))
    assert(out(1L) == ((s / 2, s / 2, 1L, 0L, 0L)))
  }

  test("sqQuantAudit: reconstruction error bounded by span/255 on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.sqQuantAudit(emb).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val span = r.getLong(2) - r.getLong(1)
      assert(r.getLong(4) <= span / 255L + 1L,
        s"dim ${r.getLong(0)}: max_abs_err ${r.getLong(4)} vs span $span")
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 256L)
    }
  }

  test("mmrTopK demotes the near-duplicate of an already-selected result") {
    import spark.implicits._
    // probe 0 points at x; 1 and 2 are near-identical high-relevance
    // twins; 3 is less relevant but diverse. Plain top-k: 1, 2, 3.
    // MMR (lambda=1/2): after picking 1, the twin's rel - sim score
    // collapses, so the diverse 3 overtakes it -> 1, 3, 2.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.10f)),
      (2L, Seq(1.0f, 0.11f)),
      (3L, Seq(0.5f, -0.90f)))
      .toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(emb, col("vec_id") === 0L, k = 3)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L, 3L))
    val mmr = Similarity.mmrTopK(emb, col("vec_id") === 0L, k = 3, fetch = 3)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(mmr == Seq(1L, 3L, 2L))
  }

  test("recall audit: ann-vs-exact overlap counted independently; full recall on clustered data") {
    // the q_sim_recall assembly, re-derived by hand on the tiny corpus:
    // exact and ANN top-2 per probe, overlap = |pair intersection|
    val pred = col("vec_id") === 0L || col("vec_id") === 10L
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus(), pred, k = 2))
    val ann = pairs(Similarity.annTopK(corpus(), pred, k = 2,
      bands = 2, bucketShift = 8))
    spark.catalog.clearCache()
    val overlapByProbe = exact.intersect(ann).groupBy(_._1).view.mapValues(_.size).toMap
    // run the SparkEntry assembly shape against the same inputs
    val got = {
      val e = Similarity.bruteForceTopK(corpus(), pred, 2)
        .select(col("probe_id"), col("neighbor_id"))
      val a = Similarity.annTopK(corpus(), pred, 2, bands = 2, bucketShift = 8)
        .select(col("probe_id"), col("neighbor_id"))
      val hits = e.join(a, Seq("probe_id", "neighbor_id"), "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("overlap"))
      val out = e.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("probe_id"), "left")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)).fold(0L)(_.asInstanceOf[Long]))))
        .toMap
      spark.catalog.clearCache()
      out
    }
    assert(got.keySet == Set(0L, 10L))
    got.foreach { case (p, (nExact, overlap)) =>
      assert(nExact == 2L)
      assert(overlap == overlapByProbe.getOrElse(p, 0).toLong)
      assert(overlap >= 0L && overlap <= nExact)
    }
    // clustered data + curve buckets: the ANN finds every exact
    // neighbor here, so the audit reads recall 1.0 end to end
    assert(got.values.forall { case (n, o) => o == n })
  }

  test("rangeSearch returns exactly the neighbors inside the radius; empty when none") {
    // cos >= sqrt(1/2): only probe 0's own cluster mates (cos ~ 1.0)
    // clear the bar; cross-cluster cos ~ 0 stays out
    val in = Similarity.rangeSearch(corpus(), col("vec_id") === 0L,
      thresholdNum = 1, thresholdDen = 2).collect()
    assert(in.map(_.getLong(0)).forall(_ == 0L))
    assert(in.map(_.getLong(1)).toSet == Set(1L, 2L))
    // an unsatisfiable radius (cos^2 >= 2) returns EMPTY — the
    // no-good-neighbor contract top-k can't express
    val none = Similarity.rangeSearch(corpus(), col("vec_id") === 0L,
      thresholdNum = 2, thresholdDen = 1).collect()
    assert(none.isEmpty)
  }

  test("bruteForceTopK ranks same-cluster vectors first, excludes self") {
    val out = Similarity.bruteForceTopK(corpus(), col("vec_id") === 0L, k = 2)
      .orderBy("rnk").collect()
    assert(out.map(_.getLong(0)).forall(_ == 0L))
    assert(!out.map(_.getLong(1)).contains(0L))
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L)) // the cluster-0 mates
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L))
  }

  test("quantized dot product is exact integer math") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .select(Similarity.quantize(col("embedding")).as("qv"))
    val rows = df.collect().map(_.getSeq[Long](0))
    // floor(0.5 * 2^20) = 524288, floor(-0.25 * 2^20) = -262144
    assert(rows.contains(Seq(524288L, -262144L)))
    assert(rows.contains(Seq(1048576L, 1048576L)))
  }

  test("annTopK finds cluster mates via curve buckets (high-recall on clustered data)") {
    // clustered vectors land in the same or adjacent curve buckets, so
    // recall on THIS corpus is 1.0; on the near-random sf0.01 testdata
    // the measured recall@10 is 0.39 (see Similarity scaladoc).
    val out = Similarity.annTopK(corpus(), col("vec_id") === 0L, k = 2,
      bands = 2, bucketShift = 8)
      .orderBy("rnk").collect()
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("spatial multi-probe reaches a face-adjacent subcube that curve-±1 misses") {
    import spark.implicits._
    val shift = 8
    val side = 1 << (shift / 4) // subcube side = 4 in u8 space
    def bucket(cs: Array[Long]): Long =
      (graft.core.SFC.hilbertEncode(cs, 8).toBigInt >> shift).toLong
    // find an axis-adjacent u8 pair (dim 0, mid elsewhere) whose
    // Hilbert buckets are MORE than 1 apart along the curve — true
    // neighbors in space that ±1 curve probing cannot reach
    val base = Array(128L, 128L, 128L, 128L)
    val pair = (side until 256 by side).map { b =>
      val lo = base.clone; lo(0) = b - 1
      val hi = base.clone; hi(0) = b
      (lo, hi)
    }.find { case (lo, hi) => math.abs(bucket(lo) - bucket(hi)) > 1L }
    assert(pair.nonEmpty, "no far-apart face-adjacent pair at this resolution")
    val (loC, hiC) = pair.get
    // mid-cell floats ((2c+1)/256 — exact in float), so quantization
    // lands back on exactly the intended u8 coords
    def toVec(cs: Array[Long]): Seq[Float] =
      cs.map(c => ((c.toDouble + 0.5) / 128.0 - 1.0).toFloat).toSeq
    val emb = Seq((0L, toVec(loC)), (1L, toVec(hiC))).toDF("vec_id", "embedding")
    def run(spatial: Boolean) =
      Similarity.annTopK(emb, col("vec_id") === 0L, k = 1,
        bands = 1, bucketShift = shift, spatialProbe = spatial)
        .collect().map(_.getLong(1)).toSeq
    assert(run(spatial = false).isEmpty) // curve-±1 cannot cross the jump
    assert(run(spatial = true) == Seq(1L)) // the face-adjacent probe can
    spark.catalog.clearCache()
  }

  test("persisted PQ index probe == derive-per-run pqTopK") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val direct = rows(Similarity.pqTopK(corpus(), col("vec_id") % 10 === 0, k = 3,
      m = 2, ncent = 4, reRank = 5))
    spark.catalog.clearCache()
    val path = java.nio.file.Files
      .createTempDirectory("graft_pq_idx_spec").toString + "/idx"
    Similarity.pqIndexBuild(corpus(), path, m = 2, ncent = 4)
    val viaIndex = rows(Similarity.pqIndexTopK(spark, path,
      col("vec_id") % 10 === 0, k = 3, m = 2, reRank = 5))
    assert(direct == viaIndex && direct.nonEmpty)
    spark.catalog.clearCache()
  }

  test("persisted IVF-PQ index probe == derive-per-run ivfPqTopK") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val direct = rows(Similarity.ivfPqTopK(corpus(), col("vec_id") % 10 === 0, k = 3,
      nlist = 3, nprobe = 2, m = 2, ncent = 4, reRank = 5))
    spark.catalog.clearCache()
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_idx_spec").toString + "/idx"
    Similarity.ivfPqIndexBuild(corpus(), path, nlist = 3, m = 2, ncent = 4)
    val viaIndex = rows(Similarity.ivfPqIndexTopK(spark, path,
      col("vec_id") % 10 === 0, k = 3, nprobe = 2, m = 2, reRank = 5))
    assert(direct == viaIndex && direct.nonEmpty)
    spark.catalog.clearCache()
  }

  test("persisted ANN bucket index == derive-per-run annTopK, both probe modes and shifts") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val path = java.nio.file.Files
      .createTempDirectory("graft_ann_idx_spec").toString + "/idx"
    Similarity.annIndexBuild(corpus(), path, bands = 2)
    // ONE fixed index serves multiple granularities and both probe
    // modes — bucketShift is applied to the STORED keys at query time
    for (shift <- Seq(8, 12); spatial <- Seq(false, true)) {
      val direct = rows(Similarity.annTopK(corpus(), col("vec_id") % 10 === 0, k = 2,
        bands = 2, bucketShift = shift, spatialProbe = spatial))
      spark.catalog.clearCache()
      val viaIndex = rows(Similarity.annIndexTopK(spark, path,
        col("vec_id") % 10 === 0, k = 2, bucketShift = shift, spatialProbe = spatial))
      assert(direct == viaIndex && direct.nonEmpty, s"shift=$shift spatial=$spatial")
      spark.catalog.clearCache()
    }
  }

  test("PQ index append: frozen codebook, appended vectors immediately probeable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_app_spec").toString
    // build on everything except vec 2 (cluster-mate of 0 and 1),
    // append vec 2 with the FROZEN codebook
    Similarity.pqIndexBuild(corpus().filter(col("vec_id") =!= 2L), tmp + "/idx",
      m = 2, ncent = 4)
    val seedsBefore = spark.read.parquet(tmp + "/idx/seeds")
      .collect().map(_.toString).sorted.toSeq
    Similarity.pqIndexAppend(corpus().filter(col("vec_id") === 2L), tmp + "/idx", m = 2)
    // the codebook did not move...
    val seedsAfter = spark.read.parquet(tmp + "/idx/seeds")
      .collect().map(_.toString).sorted.toSeq
    assert(seedsBefore == seedsAfter)
    // ...and the appended vector is found as its cluster-mates' neighbor
    val out = Similarity.pqIndexTopK(spark, tmp + "/idx",
      col("vec_id") === 0L, k = 2, m = 2, reRank = 5)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(1L, 2L))
    spark.catalog.clearCache()
  }

  test("IVF-PQ index append: both quantizers frozen, appended vectors immediately probeable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_app_spec").toString
    Similarity.ivfPqIndexBuild(corpus().filter(col("vec_id") =!= 2L), tmp + "/idx",
      nlist = 3, m = 2, ncent = 4)
    def snap(t: String) = spark.read.parquet(s"$tmp/idx/$t")
      .collect().map(_.toString).sorted.toSeq
    val (c0, s0) = (snap("cents"), snap("seeds"))
    Similarity.ivfPqIndexAppend(corpus().filter(col("vec_id") === 2L), tmp + "/idx", m = 2)
    assert((snap("cents"), snap("seeds")) == ((c0, s0))) // quantizers did not move
    val out = Similarity.ivfPqIndexTopK(spark, tmp + "/idx",
      col("vec_id") === 0L, k = 2, nprobe = 2, m = 2, reRank = 5)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(1L, 2L)) // the appended cluster-mate is found
    spark.catalog.clearCache()
  }

  test("ANN index append == from-scratch build of the union") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_app_spec").toString
    val emb = corpus()
    Similarity.annIndexBuild(emb.filter(col("vec_id") % 3 =!= 0), tmp + "/app", bands = 2)
    Similarity.annIndexAppend(emb.filter(col("vec_id") % 3 === 0), tmp + "/app", bands = 2)
    Similarity.annIndexBuild(emb, tmp + "/scratch", bands = 2)
    val a = rows(Similarity.annIndexTopK(spark, tmp + "/app",
      col("vec_id") % 10 === 0, k = 2, bucketShift = 8, spatialProbe = true))
    val b = rows(Similarity.annIndexTopK(spark, tmp + "/scratch",
      col("vec_id") % 10 === 0, k = 2, bucketShift = 8, spatialProbe = true))
    assert(a == b && a.nonEmpty)
    // compaction re-clusters the grown keys with zero logical change
    Similarity.compactAnnIndex(spark, tmp + "/app")
    val c = rows(Similarity.annIndexTopK(spark, tmp + "/app",
      col("vec_id") % 10 === 0, k = 2, bucketShift = 8, spatialProbe = true))
    assert(c == a)
    spark.catalog.clearCache()
  }

  test("ANN index delete == from-scratch build over survivors (probe equality)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_del_spec").toString
    val emb = corpus()
    Similarity.annIndexBuild(emb, tmp + "/live", bands = 2)
    Similarity.annIndexDelete(spark, tmp + "/live",
      emb.filter(col("vec_id") % 3 === 1).select(col("vec_id")))
    Similarity.annIndexBuild(emb.filter(col("vec_id") % 3 =!= 1),
      tmp + "/scratch", bands = 2)
    def probe(path: String) = rows(Similarity.annIndexTopK(spark, path,
      col("vec_id") % 10 === 0, k = 2, bucketShift = 8, spatialProbe = true))
    val a = probe(tmp + "/live")
    assert(a == probe(tmp + "/scratch") && a.nonEmpty)
    // deletes compose with appends (both per-row-pure)
    Similarity.annIndexAppend(emb.filter(col("vec_id") % 3 === 1),
      tmp + "/live", bands = 2)
    Similarity.annIndexBuild(emb, tmp + "/scratch2", bands = 2)
    assert(probe(tmp + "/live") == probe(tmp + "/scratch2"))
    spark.catalog.clearCache()
  }

  test("PQ index delete: frozen codebook, deleted ids never served, appends still compose") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_del_spec").toString
    val emb = corpus()
    Similarity.pqIndexBuild(emb, tmp + "/pq", m = 4, ncent = 4)
    val seedsBefore = spark.read.parquet(tmp + "/pq/seeds").collect().map(_.toSeq).toSet
    val delIds = emb.filter(col("vec_id") % 4 === 2).select(col("vec_id"))
    val deleted = delIds.collect().map(_.getLong(0)).toSet
    Similarity.pqIndexDelete(spark, tmp + "/pq", delIds)
    // codebook untouched (FAISS remove_ids semantics)
    assert(spark.read.parquet(tmp + "/pq/seeds").collect().map(_.toSeq).toSet
      === seedsBefore, "delete retrained the codebook")
    val out = Similarity.pqIndexTopK(spark, tmp + "/pq",
      col("vec_id") % 5 === 0, k = 3, m = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    assert(out.forall { case (p, n) => !deleted.contains(p) && !deleted.contains(n) },
      "a deleted vector was served as probe or neighbor")
    // a later append encodes against the same frozen codebook
    Similarity.pqIndexAppend(emb.filter(col("vec_id") % 4 === 2)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      tmp + "/pq", m = 4)
    val out2 = Similarity.pqIndexTopK(spark, tmp + "/pq",
      col("vec_id") >= 1000L, k = 3, m = 4).collect()
    assert(out2.nonEmpty, "appended-after-delete vectors not probeable")
    spark.catalog.clearCache()
  }

  test("gram delete: negated partials net out — build + delete == from-scratch over survivors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_gram_del_spec").toString
    def dir(path: String) = {
      val m = Similarity.directionFromGram(spark, path).collect()
        .map(r => (r.getLong(0), r.get(1).toString)).toMap
      spark.catalog.clearCache()
      m
    }
    Similarity.gramBuild(emb, tmp + "/live")
    val before = dir(tmp + "/live")
    Similarity.gramDelete(emb.filter(col("vec_id") % 3 === 0), tmp + "/live")
    Similarity.gramBuild(emb.filter(col("vec_id") % 3 =!= 0), tmp + "/scratch")
    val exp = dir(tmp + "/scratch")
    assert(dir(tmp + "/live") === exp)
    assert(before !== exp, "vacuous: deletion moved no Gram mass")
  }

  test("gram compact: cells == from-scratch over survivors; streamed batch dirs survive as re-delivery guards") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_gram_cpt").toString
    def cells(p: String) = {
      val s = spark.read.option("recursiveFileLookup", "true").parquet(p)
        .groupBy(col("i"), col("j")).agg(sum(col("gij")).as("gij"))
        .collect().map(r => (r.get(0).toString, r.get(1).toString,
          r.get(2).toString)).toSet
      spark.catalog.clearCache()
      s
    }
    // lifecycle: batch build + STREAM-committed batch + takedown
    Similarity.gramBuild(emb.filter(col("vec_id") % 3 =!= 0), tmp + "/live")
    graft.streaming.AtomicIngest.commitBatch(spark, tmp + "/live", 7L) { staging =>
      Similarity.gramBuild(emb.filter(col("vec_id") % 3 === 0), staging)
    }
    Similarity.gramDelete(emb.filter(col("vec_id") % 4 === 1), tmp + "/live")
    Similarity.compactGram(spark, tmp + "/live")
    Similarity.gramBuild(emb.filter(col("vec_id") % 4 =!= 1), tmp + "/scratch")
    // cell-for-cell equality with the survivor build — zero cells
    // INCLUDED (a Gram cell is legitimately zero; from-scratch emits
    // every d² cell, so must the compacted artifact)
    assert(cells(tmp + "/live") === cells(tmp + "/scratch"))
    val served = Similarity.directionFromGram(spark, tmp + "/live").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toMap
    spark.catalog.clearCache()
    val exp = Similarity.directionFromGram(spark, tmp + "/scratch").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toMap
    spark.catalog.clearCache()
    assert(served === exp)
    // the streamed batch's dir survives (empty) so a re-delivery is
    // still skipped — the closure would double-count batch 7
    graft.streaming.AtomicIngest.commitBatch(spark, tmp + "/live", 7L) { _ =>
      fail("re-delivered gram batch was not skipped after compaction")
    }
    assert(cells(tmp + "/live") === cells(tmp + "/scratch"))
  }

  test("ivfTopK: cluster mates found via the probed inverted lists; deterministic") {
    def run() = Similarity.ivfTopK(corpus(), col("vec_id") === 0L, k = 2,
      nlist = 3, nprobe = 1, seed = 7L)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    val a = run()
    spark.catalog.clearCache()
    val b = run()
    spark.catalog.clearCache()
    // clusters are orthogonal, so the probe's nearest list holds exactly
    // its mates -> recall 1.0 with a single probed list
    assert(a.map(_._1).toSet == Set(1L, 2L))
    assert(a == b) // seeded quantizer => reproducible
  }

  test("ivfAudit: quantizer-invariant contract holds per probe") {
    // the contract is the oracle row: min(k, candidates) neighbors,
    // recomputed-exact distances, dense ranks, no self-match
    val out = Similarity.ivfAudit(corpus(), col("vec_id") % 10 === 0, k = 2,
      nlist = 3, nprobe = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    spark.catalog.clearCache()
    val probes = corpus().filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet == probes) // every probe, only the probes
    out.foreach { case (p, cok, d, rk, sf) =>
      assert((cok, d, rk, sf) == ((1L, 1L, 1L, 0L)), s"probe $p")
    }
  }

  test("ivfAudit: a legitimately thin neighborhood gates green (count_ok via n_cand)") {
    import spark.implicits._
    // 4 vectors, k=10: every probe's candidate pool is < k by
    // construction — the fuzz-1001 false-failure shape. The audit must
    // report count_ok = 1 (rows == min(k, candidates)), not a short-row
    // failure; dots/ranks verified as usual on what came back.
    val tiny = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfAudit(tiny, col("vec_id") < 2, k = 10,
      nlist = 2, nprobe = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    spark.catalog.clearCache()
    assert(out.map(_._1).toSet == Set(0L, 1L))
    out.foreach { case (p, cok, d, rk, sf) =>
      assert((cok, d, rk, sf) == ((1L, 1L, 1L, 0L)), s"probe $p")
    }
  }

  test("ivfSeededTopK: deterministic quantizer, recall 1.0 on orthogonal clusters") {
    // with nlist = corpus size every vector is its own centroid, so the
    // probed lists are exactly the nprobe nearest vectors' singleton
    // lists — cluster mates rank first like brute force
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSeededTopK(df, col("vec_id") === 0L, k = 2, nlist = 7, nprobe = 3)
        .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    val a = run(corpus())
    spark.catalog.clearCache()
    val b = run(corpus().repartition(5)) // layout-independent by construction
    spark.catalog.clearCache()
    assert(a.map(_._1).toSet == Set(1L, 2L))
    assert(a == b)
  }

  test("ivfSeededTopK: assignment ties break to the smallest list id") {
    import spark.implicits._
    // two identical centroids-to-be: every vector's dot ties across
    // them; the argmax-struct trick must pick the smaller list_id, so
    // both duplicate vectors land in ONE list and probing finds both
    val df = Seq(
      (0L, Seq(0.9f, 0.0f)), (1L, Seq(0.9f, 0.0f)), (2L, Seq(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfSeededTopK(df, col("vec_id") === 0L, k = 1,
      nlist = 3, nprobe = 1)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    spark.catalog.clearCache()
    assert(out == Seq((1L, 1L)))
  }

  test("native subspace_sq_dists == builtin SPEC on real embeddings (incl. ragged m)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.quantize(col("embedding")).as("qv"))
    val pairs = emb.limit(50).crossJoin(
      emb.select(col("qv").as("cv")).limit(5))
    // m=16 divides 64; m=7 exercises the floor-truncation path
    Seq(16, 7).foreach { m =>
      val diff = pairs.select(
        Similarity.subspaceSqDists(col("qv"), col("cv"), m).as("n"),
        Similarity.subspaceSqDistsBuiltin(col("qv"), col("cv"), m).as("b"))
        .filter(not(col("n") === col("b"))).count()
      assert(diff == 0L, s"m=$m native != builtin")
    }
  }

  test("native adc_distance == builtin SPEC, incl. hand-computed lookup") {
    import spark.implicits._
    // m=2, ncent=2, tab j-major [d11,d12,d21,d22]: codes [1,0] ->
    // tab[1*2+0] + tab[0*2+1] = 30 + 20 = 50
    val hand = Seq((Seq(1, 0), Seq(10L, 20L, 30L, 40L)))
      .toDF("codes", "tab")
      .select(Similarity.adcDistance(col("codes"), col("tab")).as("d"))
      .collect()(0).getLong(0)
    assert(hand === 50L)
    // randomized agreement with the composed form across m widths
    val rng = new scala.util.Random(7)
    val m = 16; val ncent = 16
    val rows = (1 to 200).map { _ =>
      (Seq.fill(m)(rng.nextInt(ncent)),
        Seq.fill(m * ncent)(rng.nextLong() % 1000000L))
    }
    val diff = rows.toDF("codes", "tab")
      .select(Similarity.adcDistance(col("codes"), col("tab")).as("n"),
        Similarity.adcDistanceBuiltin(col("codes"), col("tab"), m).as("b"))
      .filter(not(col("n") === col("b"))).count()
    assert(diff === 0L)
  }

  test("pqTopK: cluster mates found via ADC codes; deterministic, layout-independent") {
    // m=4 over 8 dims (2-dim subvectors); with ncent = corpus size,
    // every vector contributes its own subvectors as centroids, so
    // cluster mates share codes and the ADC shortlist contains them
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(df, col("vec_id") === 0L, k = 2, m = 4, ncent = 7, reRank = 4)
        .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    val a = run(corpus())
    spark.catalog.clearCache()
    val b = run(corpus().repartition(5))
    spark.catalog.clearCache()
    assert(a.map(_._1).toSet == Set(1L, 2L))
    assert(a == b) // seeded codebooks => pure function of the data
  }

  test("ivfPqTopK: cluster mates found via residual codes; deterministic, layout-independent") {
    // nprobe = nlist (no pruning) + ncent = corpus (every residual its
    // own codebook entry) + reRank = corpus: the composite must agree
    // with brute force exactly, proving the assignment/residual/
    // encode/ADC plumbing is lossless at full fidelity
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(df, col("vec_id") === 0L, k = 2,
        nlist = 3, nprobe = 3, m = 4, ncent = 7, reRank = 6)
        .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    val a = run(corpus())
    spark.catalog.clearCache()
    val b = run(corpus().repartition(5))
    spark.catalog.clearCache()
    assert(a.map(_._1).toSet == Set(1L, 2L))
    assert(a == b) // seeded coarse + residual codebooks => pure function of the data
  }

  test("ivfPqTopK: IVF pruning keeps orthogonal-cluster mates reachable") {
    // nlist = corpus: every vector is its own coarse list, so the
    // probe's 3 nearest lists are its own + its two cluster mates' —
    // the pruned codes scan holds exactly the mates (self excluded)
    val out = Similarity.ivfPqTopK(corpus(), col("vec_id") === 0L, k = 2,
      nlist = 7, nprobe = 3, m = 4, ncent = 7, reRank = 6)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    spark.catalog.clearCache()
    assert(out.toSet == Set(1L, 2L))
  }

  test("hardNegatives: top-k different-label mining equals the independent spec") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.hardNegatives(emb, col("vec_id") % 50 === 0, k = 5)
      .collect()
    assert(out.nonEmpty)
    // contract: every emitted pair crosses labels
    assert(out.forall(r => r.getLong(1) != r.getLong(3)))
    // independent expectation: quantized dots computed via the plain
    // column path, ranked driver-side per anchor
    val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"),
        col("label").cast("long").as("lbl"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val anchors = q.filter(_._1 % 50 == 0)
    val expected = anchors.flatMap { case (aid, pv, albl) =>
      q.filter(_._3 != albl)
        .map { case (nid, qv, nlbl) =>
          (aid, albl, nid, nlbl, pv.zip(qv).map { case (x, y) => x * y }.sum)
        }
        .sortBy { case (_, _, nid, _, dot) => (-dot, nid) }
        .take(5).zipWithIndex
        .map { case ((a, al, n, nl, d), i) => (a, al, n, nl, d, i + 1L) }
    }.toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
  }

  test("pqTopK: recall on the sf0.01 embeddings meets the swept operating point") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probePred = col("vec_id") % 50 === 0
    val truth = Similarity.bruteForceTopK(emb, probePred, 10)
      .select("probe_id", "neighbor_id")
    val pq = Similarity.pqTopK(emb, probePred, 10, reRank = 40)
      .select("probe_id", "neighbor_id")
    val hits = pq.join(truth, Seq("probe_id", "neighbor_id")).count()
    spark.catalog.clearCache()
    // BASELINE.md sweep: 0.74 @ reRank=40 — deterministic, so exact
    assert(hits == 74L, s"recall hits $hits")
  }

  test("ivfPqTopK: recall on the sf0.01 embeddings meets the swept operating point") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probePred = col("vec_id") % 50 === 0
    val truth = Similarity.bruteForceTopK(emb, probePred, 10)
      .select("probe_id", "neighbor_id")
    val ivfpq = Similarity.ivfPqTopK(emb, probePred, 10, ncent = 32)
      .select("probe_id", "neighbor_id")
    val hits = ivfpq.join(truth, Seq("probe_id", "neighbor_id")).count()
    spark.catalog.clearCache()
    // BASELINE.md sweep: 0.44 @ nprobe=4 ncent=32 reRank=40 — the IVF
    // pruning ceiling (0.50 at nprobe=4 on this cluster-free corpus)
    // compounds with residual-PQ distortion; deterministic, so exact
    assert(hits == 44L, s"recall hits $hits")
  }

  test("cosine of identical vectors is 1.0") {
    import spark.implicits._
    val df = Seq((Seq(0.3f, 0.4f), Seq(0.3f, 0.4f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.head().getDouble(0) - 1.0) < 1e-12)
  }

  test("native dot product == builtin SPEC on real embeddings (incl. self-dot)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") % 7 === 0 && col("b.vec_id") % 11 === 0)
    val bad = pairs.select(
        Similarity.dotQ(col("a.qv"), col("b.qv")).as("native"),
        Similarity.dotQBuiltin(col("a.qv"), col("b.qv")).as("spec"))
      .filter(col("native") =!= col("spec")).count()
    assert(bad == 0)
  }

  test("hyperplane band keys: native expression == builtin SPEC on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.quantize(col("embedding")).as("qv"))
    val p = Similarity.CosineParams()
    val bad = emb.select(
        Similarity.hyperplaneBandKeys(col("qv"), p.planes, p.bandBits).as("native"),
        Similarity.hyperplaneBandKeysBuiltin(col("qv"), p.planes, p.bandBits).as("spec"))
      .filter(not(col("native") === col("spec"))).count()
    assert(bad == 0)
  }

  test("cosinePairs finds planted near-identical pairs, rejects cross-cluster ones") {
    // cluster mates have cosine ~0.999 (>> tau); cross-cluster pairs are
    // near-orthogonal (<< tau). Near-identical vectors share every band
    // key, so blocking recall on true near-dups is 1.0 here.
    val out = Similarity.cosinePairs(corpus()).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(pairs.contains((10L, 11L)) && pairs.contains((20L, 21L)))
    // no cross-cluster pair passes the exact verify
    val cluster = Map(0L -> 0, 1L -> 0, 2L -> 0, 10L -> 1, 11L -> 1, 20L -> 2, 21L -> 2)
    assert(pairs.forall { case (a, b) => cluster(a) == cluster(b) })
    // dot_q column is the exact integer dot product (positive for mates)
    assert(out.map(_.getLong(2)).forall(_ > 0))
    spark.catalog.clearCache()
  }

  test("semanticDedup groups axis clusters, keeps the min-id representative; layout-independent") {
    // nlist=1 puts all 7 vectors in one coarse cluster; the exact
    // verify then separates the 3 orthogonal axis clusters (mates
    // cosine ~0.999 >> tau, cross-axis ~0 << tau), so the dup groups
    // are exactly the axis clusters and keep = their min ids
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDedup(df, nlist = 1)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    val a = run(corpus())
    spark.catalog.clearCache()
    val b = run(corpus().repartition(5))
    spark.catalog.clearCache()
    assert(a == b) // seeded assignment + min-label closure => pure function of the data
    val canonical = a.map { case (id, canon, _) => id -> canon }.toMap
    assert(canonical == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(a.filter(_._3 == 1L).map(_._1).toSet == Set(0L, 10L, 20L))
  }

  test("embScatter: variance identity against a driver recount; identical class is zero") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(0.5f, 0.5f), 0),
      (10L, Seq(0.25f, 0.75f), 1),   // label 1: identical vectors
      (11L, Seq(0.25f, 0.75f), 1),
      (12L, Seq(0.25f, 0.75f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embScatter(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getString(2).toLong, r.getString(3).toLong))).toMap
    spark.catalog.clearCache()
    // driver recount in exact fixed point
    def q(x: Float) = math.floor(x.toDouble * Similarity.Scale).toLong
    def recount(vs: Seq[Seq[Float]]) = {
      val qs = vs.map(_.map(q))
      val n = qs.length.toLong
      val s2 = qs.map(v => v.map(x => x * x).sum).sum
      val dims = qs.head.indices.map(d => qs.map(_(d)).sum)
      val c2 = dims.map(s => s * s).sum
      (n, c2, n * s2 - c2)
    }
    assert(out(0L) == recount(Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(0.5f, 0.5f))))
    // an identical-vector class has exactly zero scatter
    assert(out(1L)._3 == 0L)
    assert(out(0L)._3 > 0L)
  }

  test("embDominantDirection: finds the planted axis; matches a BigInt driver recount") {
    import spark.implicits._
    // vectors concentrated along axis 1 with small axis-0 noise: the
    // dominant Gram direction must peak (normalized to ±1e6) at dim 1
    val emb = Seq(
      (0L, Seq(0.1f, 0.9f, 0.0f)),
      (1L, Seq(-0.1f, 0.8f, 0.1f)),
      (2L, Seq(0.05f, 1.0f, -0.05f)),
      (3L, Seq(0.0f, 0.7f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embDominantDirection(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(1L) == 1000000L, s"dominant axis must normalize to 1e6: $out")
    assert(math.abs(out(0L)) < 1000000L && math.abs(out(2L)) < 1000000L)
    // independent exact recount of the same 3 iterations in BigInt
    def q(x: Float) = BigInt(math.floor(x.toDouble * Similarity.Scale).toLong)
    val vecs = Seq(Seq(0.1f, 0.9f, 0.0f), Seq(-0.1f, 0.8f, 0.1f),
      Seq(0.05f, 1.0f, -0.05f), Seq(0.0f, 0.7f, 0.05f)).map(_.map(q))
    val g = Array.tabulate(3, 3)((i, j) => vecs.map(v => v(i) * v(j)).sum)
    var v = Array.fill(3)(BigInt(1000000))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(3)(i => (0 until 3).map(j => g(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => x * 1000000 / mx) // BigInt / truncates toward zero
    }
    assert((0 until 3).forall(i => out(i.toLong) == v(i).toLong),
      s"recount ${v.toSeq} != ${out}")
  }

  test("gram artifact: build + appends serve identically to a from-scratch direction") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("gram").toString
    Similarity.gramBuild(emb.filter(col("vec_id") % 3 === 0), path)
    Similarity.gramAppend(emb.filter(col("vec_id") % 3 === 1), path)
    Similarity.gramAppend(emb.filter(col("vec_id") % 3 === 2), path)
    val served = Similarity.directionFromGram(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val scratch = Similarity.embDominantDirection(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(served == scratch && scratch.nonEmpty)
  }

  test("cosinePairs star-caps an over-cap bucket instead of dropping it") {
    import spark.implicits._
    // 70 near-identical vectors: every band bucket holds all 70 (> cap
    // 64), so candidates must come from the star fallback and remain
    // connected to the bucket-min doc.
    val big = (0L until 70L).map(i => (i, (0 until 8).map(d =>
      (if (d == 0) 0.9f else 0.0f) + (if (d == 1) 0.001f * i else 0.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosinePairs(big).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the star keeps the cluster connected through vec 0
    assert((1L until 70L).forall(i => pairs.contains((0L, i))))
    spark.catalog.clearCache()
  }
}
