package graft.oracle

/** DuckDB oracle SQL for the similarity-search operators
  * (graft.similarity.Similarity). Shares the exact fixed-point
  * conventions: qv = floor(x * 2^20) per element (BIGINT), score =
  * integer dot product, u8 bucket coord = min(floor((x + 1) * 128), 255).
  */
object SimSql {

  private val Scale = "1048576.0" // 2^20, Similarity.Scale

  /** Quantized-embedding CTE: (vec_id, qv BIGINT[]), optionally
    * restricted to a survivor predicate (the deletion twins' oracles
    * run the PLAIN query over the surviving rows — the oracle never
    * sees the deletion path). */
  private def qCteWhere(where: Option[String]): String =
    s"q AS (SELECT vec_id, list_transform(embedding, x -> " +
      s"CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv FROM embeddings" +
      where.map(w => s" WHERE $w").getOrElse("") + ")"

  private val qCte = qCteWhere(None)

  /** Integer dot product of list columns a.qv x b.qv. */
  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum([$a[i] * $b[i] for i in generate_series(1, len($a))]) AS BIGINT)"

  /** Exact brute-force top-k per probe (probe = vec_id % `probeMod` = 0),
    * ranked by quantized dot product desc, neighbor_id asc. */
  def bruteForceTopK(probeMod: Int, k: Int): String =
    s"""WITH $qCte,
       |p AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id % $probeMod = 0),
       |s AS (SELECT probe_id, q.vec_id AS neighbor_id, ${dotSql("pv", "qv")} AS dot_q
       |  FROM p, q WHERE q.vec_id != p.probe_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT probe_id, neighbor_id, dot_q, rnk FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of Similarity.embAudit: per label the vector count,
    * distinct dimensionalities, zero-vector count, and min/max/sum of
    * the exact fixed-point squared L2 norm (HUGEINT cross-row sum,
    * emitted as canonical VARCHAR digits — a DECIMAL(38,0) output
    * column diverges in the driver hash pipeline, docs/COMPAT.md §7). */
  def embAudit: String =
    s"""WITH n AS (SELECT CAST(label AS BIGINT) AS label,
       |  CAST(len(embedding) AS BIGINT) AS dim,
       |  CAST(coalesce(list_sum(list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT) *
       |    CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT))), 0) AS BIGINT) AS norm2
       |  FROM embeddings)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
       |  CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  CAST(min(norm2) AS BIGINT) AS min_norm2,
       |  CAST(max(norm2) AS BIGINT) AS max_norm2,
       |  CAST(CAST(sum(CAST(norm2 AS HUGEINT))
       |    AS DECIMAL(38, 0)) AS VARCHAR) AS sum_norm2
       |FROM n GROUP BY 1""".stripMargin

  /** Mirror of Similarity.embScatter: per label the divide-free
    * within-class scatter numerator n·Σ‖x‖² − ‖Σx‖² and the
    * centroid-direction energy ‖Σx‖², all in HUGEINT emitted as
    * canonical VARCHAR digits (docs/COMPAT.md §7). */
  def embScatter: String =
    s"""WITH ql AS (SELECT CAST(label AS BIGINT) AS label,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |pv AS (SELECT label, qv,
       |    CAST(coalesce(list_sum(list_transform(qv, x -> x * x)), 0) AS HUGEINT)
       |      AS norm2 FROM ql),
       |e AS (SELECT label, unnest(generate_series(1, len(qv))) AS dim_idx,
       |    unnest(qv) AS q FROM ql),
       |s AS (SELECT label, dim_idx, CAST(sum(q) AS HUGEINT) AS sq
       |  FROM e GROUP BY 1, 2),
       |cn AS (SELECT label, sum(sq * sq) AS c2 FROM s GROUP BY 1),
       |nn AS (SELECT label, CAST(count(*) AS HUGEINT) AS n,
       |    sum(norm2) AS s2 FROM pv GROUP BY 1)
       |SELECT nn.label, CAST(nn.n AS BIGINT) AS n_vecs,
       |  CAST(CAST(cn.c2 AS DECIMAL(38, 0)) AS VARCHAR) AS centroid_num,
       |  CAST(CAST(nn.n * nn.s2 - cn.c2 AS DECIMAL(38, 0)) AS VARCHAR)
       |    AS scatter_num
       |FROM nn JOIN cn USING (label)""".stripMargin

  /** Mirror of Similarity.embCentroids: per-(label, dim) HUGEINT sum
    * vectors, pairwise sum-vector dots via the id-ordered self-join,
    * per-label energies — all emitted as canonical digit strings
    * (COMPAT §7). */
  def embCentroids: String =
    s"""WITH ql AS (SELECT CAST(label AS BIGINT) AS label,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |e AS (SELECT label, unnest(generate_series(1, len(qv))) AS dim_idx,
       |    unnest(qv) AS q FROM ql),
       |s AS MATERIALIZED (SELECT label, dim_idx,
       |    CAST(sum(q) AS HUGEINT) AS sq FROM e GROUP BY 1, 2),
       |n2 AS (SELECT label, sum(sq * sq) AS c2 FROM s GROUP BY 1),
       |p AS (SELECT a.label AS label_a, b.label AS label_b,
       |    sum(a.sq * b.sq) AS dot
       |  FROM s a JOIN s b ON a.dim_idx = b.dim_idx AND a.label < b.label
       |  GROUP BY 1, 2)
       |SELECT label_a, label_b,
       |  CAST(CAST(dot AS DECIMAL(38, 0)) AS VARCHAR) AS dot_num,
       |  CAST(CAST(za.c2 AS DECIMAL(38, 0)) AS VARCHAR) AS na2,
       |  CAST(CAST(zb.c2 AS DECIMAL(38, 0)) AS VARCHAR) AS nb2
       |FROM p JOIN n2 za ON za.label = p.label_a
       |JOIN n2 zb ON zb.label = p.label_b""".stripMargin

  /** Mirror of Similarity.sqQuantAudit: per-dimension exact min/max
    * grid, affine 0..255 code assignment with `//` truncation
    * (matching Spark's IntegralDivide on the non-negative operands),
    * and code-occupancy / reconstruction-error rollups. */
  def sqQuantAudit: String =
    s"""WITH $qCte,
       |e AS (SELECT unnest(generate_series(1, len(qv))) - 1 AS dim_idx,
       |    unnest(qv) AS q FROM q),
       |r AS (SELECT dim_idx, min(q) AS qmin, max(q) AS qmax FROM e GROUP BY 1),
       |c AS (SELECT e.dim_idx, e.q, r.qmin, r.qmax, r.qmax - r.qmin AS span,
       |    CASE WHEN r.qmax = r.qmin THEN 0
       |      ELSE (e.q - r.qmin) * 255 // (r.qmax - r.qmin) END AS code
       |  FROM e JOIN r USING (dim_idx)),
       |d AS (SELECT dim_idx, q, qmin, qmax, code,
       |    qmin + CASE WHEN span = 0 THEN 0 ELSE code * span // 255 END AS rec
       |  FROM c)
       |SELECT CAST(dim_idx AS BIGINT) AS dim_idx,
       |  CAST(min(qmin) AS BIGINT) AS qmin, CAST(min(qmax) AS BIGINT) AS qmax,
       |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes,
       |  CAST(max(abs(q - rec)) AS BIGINT) AS max_abs_err,
       |  CAST(sum(abs(q - rec)) AS BIGINT) AS sum_abs_err
       |FROM d GROUP BY 1""".stripMargin

  /** Mirror of Similarity.embDominantDirection: the Gram matrix as a
    * d²-cell aggregate, then `iters` unrolled power iterations with
    * the ±1e6 max-abs normalization — HUGEINT throughout (DuckDB's
    * integer `//` truncates toward zero exactly like Spark's
    * IntegralDivide, so negative components divide identically). */
  def embDominantDirection(iters: Int, where: Option[String] = None): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""w$k AS (SELECT g.i, sum(g.gij * v${k - 1}.vi) AS wi
         |  FROM g JOIN v${k - 1} ON v${k - 1}.i = g.j GROUP BY 1),
         |m$k AS (SELECT greatest(max(abs(wi)), 1) AS mx FROM w$k),
         |v$k AS (SELECT i, wi * 1000000 // mx AS vi FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${qCteWhere(where)},
       |e AS (SELECT vec_id, unnest(generate_series(1, len(qv))) - 1 AS i,
       |    unnest(qv) AS q FROM q),
       |g AS (SELECT a.i, b.i AS j,
       |    CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS gij
       |  FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT j AS i, CAST(1000000 AS HUGEINT) AS vi FROM g),
       |$iterCtes
       |SELECT CAST(i AS BIGINT) AS dim_idx, CAST(vi AS BIGINT) AS v_e6
       |FROM v$iters""".stripMargin
  }

  /** Mirror of Similarity.hardNegatives: per anchor the top-k most
    * similar DIFFERENT-label vectors, ranked by quantized dot desc,
    * negative_id asc. */
  def hardNegatives(probeMod: Int, k: Int): String =
    s"""WITH ql AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
       |    list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv FROM embeddings),
       |p AS (SELECT vec_id AS anchor_id, qv AS pv, lbl AS anchor_label FROM ql
       |  WHERE vec_id % $probeMod = 0),
       |s AS (SELECT anchor_id, anchor_label, ql.vec_id AS negative_id,
       |    ql.lbl AS negative_label, ${dotSql("pv", "qv")} AS dot_q
       |  FROM p, ql WHERE ql.lbl != p.anchor_label),
       |r AS (SELECT anchor_id, anchor_label, negative_id, negative_label, dot_q,
       |    CAST(row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY dot_q DESC, negative_id) AS BIGINT) AS rnk FROM s)
       |SELECT anchor_id, anchor_label, negative_id, negative_label, dot_q, rnk
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of Similarity.rangeSearch: all neighbors within the exact
    * rational cosine radius (den * dot^2 >= num * |a|^2 * |b|^2,
    * dot >= 0) of each probe. */
  def rangeSearch(probeMod: Int, num: Long, den: Long): String =
    s"""WITH $qCte,
       |n AS (SELECT vec_id, qv, ${dotSql("qv", "qv")} AS n2 FROM q),
       |p AS (SELECT vec_id AS probe_id, qv AS pv, n2 AS pn2 FROM n
       |  WHERE vec_id % $probeMod = 0),
       |s AS (SELECT probe_id, n.vec_id AS neighbor_id,
       |    ${dotSql("pv", "qv")} AS dot_q, n2, pn2
       |  FROM p, n WHERE n.vec_id != p.probe_id)
       |SELECT probe_id, neighbor_id, dot_q FROM s
       |WHERE dot_q >= 0
       |  AND CAST(dot_q AS HUGEINT) * CAST(dot_q AS HUGEINT) * $den
       |      >= CAST(n2 AS HUGEINT) * CAST(pn2 AS HUGEINT) * $num""".stripMargin

  /** Mirror of Similarity.mmrTopK: relevance shortlist (bruteForce
    * shape, top `fetch`), then the greedy lambda=1/2 MMR selection
    * unrolled into `k` list-expression layers — the same exact
    * integer math as the Spark higher-order-function expression. The
    * first pick is always shortlist position 1 (empty selected set =>
    * score = relevance, and the shortlist is relevance-ordered); each
    * later layer picks argmax of rel - max_selected(sim) with ties to
    * the EARLIER position, via a struct sort on (-score, position). */
  def mmrTopK(probeMod: Int, k: Int, fetch: Int): String = {
    val pick =
      "list_sort([{'s': -(rels[j] - list_max([D[j][p] for p in sel])), 'j': j} " +
        "for j in generate_series(1, len(rels)) if NOT list_contains(sel, j)])[1].j"
    // sel1..selk built as ONE comma-joined list so k = 1 (no later
    // layers) emits no dangling comma (round-7 ADVICE)
    val selCtes = (
      "sel1 AS (SELECT probe_id, ids, rels, D, [CAST(1 AS BIGINT)] AS sel FROM m)" +:
        (2 to k).map { i =>
          s"sel$i AS (SELECT probe_id, ids, rels, D, list_append(sel, $pick) AS sel FROM sel${i - 1})"
        }).mkString(",\n")
    s"""WITH $qCte,
       |p AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id % $probeMod = 0),
       |s AS (SELECT probe_id, q.vec_id AS neighbor_id, ${dotSql("pv", "qv")} AS dot_q
       |  FROM p, q WHERE q.vec_id != p.probe_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS rnk
       |  FROM s),
       |j AS (SELECT r.probe_id, r.neighbor_id, r.dot_q, r.rnk, q.qv
       |  FROM r JOIN q ON q.vec_id = r.neighbor_id WHERE r.rnk <= $fetch),
       |garr AS (SELECT probe_id,
       |    list(neighbor_id ORDER BY rnk) AS ids,
       |    list(dot_q ORDER BY rnk) AS rels,
       |    list(qv ORDER BY rnk) AS qvs
       |  FROM j GROUP BY probe_id),
       |m AS (SELECT probe_id, ids, rels,
       |    [[CAST(list_sum([qvs[a][i] * qvs[b][i]
       |        for i in generate_series(1, len(qvs[a]))]) AS BIGINT)
       |      for b in generate_series(1, len(qvs))]
       |     for a in generate_series(1, len(qvs))] AS D
       |  FROM garr),
       |$selCtes
       |SELECT probe_id, ids[sel[step]] AS neighbor_id, rels[sel[step]] AS rel_q,
       |  CAST(step AS BIGINT) AS mmr_rank
       |FROM sel$k, unnest(generate_series(1, $k)) AS u(step)""".stripMargin
  }

  /** Banded curve-bucket ANN: `bands` 4-dim u8 Hilbert keys, bucket =
    * key >> bucketShift, +-1 multi-probe, exact re-rank over the
    * candidate set. Mirrors Similarity.annTopK stage for stage. */
  def annTopK(probeMod: Int, k: Int, bands: Int, bucketShift: Int): String = {
    val chains = (0 until bands).map { j =>
      val exprs = (0 until 4).map { d =>
        s"least(floor((CAST(embedding[${j * 4 + d + 1}] AS DOUBLE) + 1.0) * 128.0), 255.0)"
      }
      DuckSql.hilbertCtes(8, exprs, "embeddings", Seq("vec_id"), s"b${j}_")
    }
    val chainSql = chains.map(_._1).mkString(",\n")
    val bucketRows = chains.zipWithIndex.map { case ((_, fin), j) =>
      s"  SELECT vec_id, $j AS band_idx, CAST(curve_key AS BIGINT) >> $bucketShift AS bucket FROM $fin"
    }.mkString("\n  UNION ALL\n")
    s"""WITH $chainSql,
       |$qCte,
       |buckets AS (
       |$bucketRows),
       |pb AS (SELECT vec_id AS probe_id, band_idx, bucket + d.d AS bucket
       |  FROM buckets, (SELECT unnest([-1, 0, 1]) AS d) d
       |  WHERE vec_id % $probeMod = 0),
       |cand AS (SELECT DISTINCT probe_id, b.vec_id AS neighbor_id
       |  FROM pb JOIN buckets b ON b.band_idx = pb.band_idx AND b.bucket = pb.bucket
       |  WHERE b.vec_id != pb.probe_id),
       |s AS (SELECT probe_id, neighbor_id, ${dotSql("pq.qv", "nq.qv")} AS dot_q
       |  FROM cand
       |  JOIN q pq ON pq.vec_id = cand.probe_id
       |  JOIN q nq ON nq.vec_id = cand.neighbor_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT probe_id, neighbor_id, dot_q, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Mirror of q_sim_recall: recall@k of the banded-curve ANN against
    * the exact brute force, per probe — the two full oracles nested as
    * subqueries (DuckDB scopes their CTEs locally), overlap counted on
    * (probe_id, neighbor_id) pairs, recall in exact ppm. */
  def annRecall(probeMod: Int, k: Int, bands: Int, bucketShift: Int): String =
    s"""WITH exact AS (SELECT probe_id, neighbor_id FROM (
       |${bruteForceTopK(probeMod, k)}
       |)),
       |ann AS (SELECT probe_id, neighbor_id FROM (
       |${annTopK(probeMod, k, bands, bucketShift)}
       |)),
       |hits AS (SELECT e.probe_id, CAST(count(*) AS BIGINT) AS overlap
       |  FROM exact e JOIN ann a
       |    ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY 1),
       |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM exact GROUP BY 1)
       |SELECT ne.probe_id, ne.n_exact,
       |  CAST(coalesce(hits.overlap, 0) AS BIGINT) AS overlap,
       |  coalesce(hits.overlap, 0) * 1000000 // ne.n_exact AS recall_ppm
       |FROM ne LEFT JOIN hits USING (probe_id)""".stripMargin

  /** Mirror of the IVF recall audit: overlap of [[ivfSeededTopK]]
    * against [[bruteForceTopK]], per probe, exact ppm — the same
    * composition as [[annRecall]] with the IVF probe path. */
  def ivfRecall(probeMod: Int, k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH exact AS (SELECT probe_id, neighbor_id FROM (
       |${bruteForceTopK(probeMod, k)}
       |)),
       |ivf AS (SELECT probe_id, neighbor_id FROM (
       |${ivfSeededTopK(probeMod, k, nlist, nprobe)}
       |)),
       |hits AS (SELECT e.probe_id, CAST(count(*) AS BIGINT) AS overlap
       |  FROM exact e JOIN ivf a
       |    ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY 1),
       |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM exact GROUP BY 1)
       |SELECT ne.probe_id, ne.n_exact,
       |  CAST(coalesce(hits.overlap, 0) AS BIGINT) AS overlap,
       |  coalesce(hits.overlap, 0) * 1000000 // ne.n_exact AS recall_ppm
       |FROM ne LEFT JOIN hits USING (probe_id)""".stripMargin

  /** Spatial multi-probe variant of [[annTopK]] — mirror of
    * Similarity.annTopK(spatialProbe = true), stage for stage: the
    * probe set per band is the probe's own subcube plus its 2*4
    * axis-adjacent subcubes (each u8 coordinate stepped by the
    * subcube side 2^(bucketShift/4), clamped to [0, 255],
    * re-encoded); candidates and the exact re-rank are unchanged. The
    * perturbed coordinates run probe-rows-only chains (WHERE pushes
    * into every chain's base CTE). */
  def annSpatialTopK(probeMod: Int, k: Int, bands: Int, bucketShift: Int,
      where: Option[String] = None): String = {
    require(bucketShift % 4 == 0 && bucketShift > 0,
      s"spatial probing needs bucketShift % 4 == 0, got $bucketShift")
    val step = 1 << (bucketShift / 4)
    def coordExpr(i: Int): String =
      s"least(floor((CAST(embedding[$i] AS DOUBLE) + 1.0) * 128.0), 255.0)"
    val chains = (0 until bands).map { j =>
      val exprs = (0 until 4).map(d => coordExpr(j * 4 + d + 1))
      DuckSql.hilbertCtes(8, exprs, "embeddings", Seq("vec_id"), s"b${j}_",
        where = where)
    }
    val variants: Seq[Map[Int, Int]] = Map.empty[Int, Int] +:
      (for (d <- 0 until 4; dl <- Seq(-step, step)) yield Map(d -> dl))
    val probeChains = for {
      j <- 0 until bands
      (pert, vi) <- variants.zipWithIndex
    } yield {
      val exprs = (0 until 4).map { d =>
        val c0 = coordExpr(j * 4 + d + 1)
        pert.get(d) match {
          case Some(dl) => s"least(greatest($c0 + $dl.0, 0.0), 255.0)"
          case None     => c0
        }
      }
      (j, DuckSql.hilbertCtes(8, exprs, "embeddings", Seq("vec_id"), s"p${j}v${vi}_",
        where = Some((where.toSeq :+ s"vec_id % $probeMod = 0")
          .map(w => s"($w)").mkString(" AND "))))
    }
    val chainSql = (chains.map(_._1) ++ probeChains.map(_._2._1)).mkString(",\n")
    val bucketRows = chains.zipWithIndex.map { case ((_, fin), j) =>
      s"  SELECT vec_id, $j AS band_idx, CAST(curve_key AS BIGINT) >> $bucketShift AS bucket FROM $fin"
    }.mkString("\n  UNION ALL\n")
    val probeRows = probeChains.map { case (j, (_, fin)) =>
      s"  SELECT vec_id AS probe_id, $j AS band_idx, " +
        s"CAST(curve_key AS BIGINT) >> $bucketShift AS bucket FROM $fin"
    }.mkString("\n  UNION ALL\n")
    s"""WITH $chainSql,
       |${qCteWhere(where)},
       |buckets AS (
       |$bucketRows),
       |pb AS (SELECT DISTINCT probe_id, band_idx, bucket FROM (
       |$probeRows)),
       |cand AS (SELECT DISTINCT probe_id, b.vec_id AS neighbor_id
       |  FROM pb JOIN buckets b ON b.band_idx = pb.band_idx AND b.bucket = pb.bucket
       |  WHERE b.vec_id != pb.probe_id),
       |s AS (SELECT probe_id, neighbor_id, ${dotSql("pq.qv", "nq.qv")} AS dot_q
       |  FROM cand
       |  JOIN q pq ON pq.vec_id = cand.probe_id
       |  JOIN q nq ON nq.vec_id = cand.neighbor_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT probe_id, neighbor_id, dot_q, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** The quantizer-invariant contract of Similarity.ivfAudit: every
    * probe (and only the probes) appears, with k neighbors, k exact
    * recomputed distances, k correct ranks, zero self-matches. The
    * Spark side RE-DERIVES these counts from the corpus per probe, so
    * any missing probe, short list, corrupted distance, rank gap, or
    * self-match breaks the hash against this constant-per-probe
    * contract. */
  def ivfAuditContract(probeMod: Int, k: Int): String =
    s"""SELECT vec_id AS probe_id,
       |  CAST(1 AS BIGINT) AS count_ok,
       |  CAST(1 AS BIGINT) AS dots_ok,
       |  CAST(1 AS BIGINT) AS ranks_ok,
       |  CAST(0 AS BIGINT) AS n_self
       |FROM embeddings WHERE vec_id % $probeMod = 0""".stripMargin

  /** Mirror of graft.similarity.Similarity.ivfSeededTopK, stage for
    * stage: centroids = the nlist vectors with the smallest
    * (8-hex md5(vec_id), vec_id); assignment = argmax integer dot with
    * ties to the smallest list_id; probe the nprobe best lists; exact
    * re-rank over the probed lists. */
  def ivfSeededTopK(probeMod: Int, k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH $qCte,
       |hq AS (SELECT vec_id, qv,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv FROM q),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) AS BIGINT) AS list_id,
       |    qv AS cq
       |  FROM (SELECT * FROM hq ORDER BY hv, vec_id LIMIT $nlist)),
       |asg0 AS (SELECT q.vec_id, c.list_id, ${dotSql("q.qv", "c.cq")} AS cdot
       |  FROM q, cents c),
       |asg AS (SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id) AS rn
       |    FROM asg0) WHERE rn = 1),
       |p AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id % $probeMod = 0),
       |pl0 AS (SELECT p.probe_id, p.pv, c.list_id, ${dotSql("p.pv", "c.cq")} AS cdot
       |  FROM p, cents c),
       |pl AS (SELECT probe_id, pv, list_id FROM (
       |    SELECT probe_id, pv, list_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cdot DESC, list_id) AS rn
       |    FROM pl0) WHERE rn <= $nprobe),
       |s AS (SELECT pl.probe_id, a.vec_id AS neighbor_id, ${dotSql("pl.pv", "nq.qv")} AS dot_q
       |  FROM pl
       |  JOIN asg a ON a.list_id = pl.list_id
       |  JOIN q nq ON nq.vec_id = a.vec_id
       |  WHERE a.vec_id != pl.probe_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT probe_id, neighbor_id, dot_q, rnk FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of graft.similarity.Similarity.pqTopK, stage for stage:
    * seeded sub-codebooks (same (md5, vec_id) bottom-ncent pick as
    * ivfSeededTopK), per-subspace squared-L2 encode with the packed
    * `dist*32 + (j-1)` argmin tie-break, per-probe ADC tables, approx
    * top-reRank cut, exact dot re-rank. */
  /** `seedWhere` restricts the codebook-seed pool (e.g.
    * `"WHERE vec_id % 5 != 0"`) — the oracle form of a FROZEN
    * codebook: q_sim_pq_append's index derives its codebook from the
    * build-time corpus only, while codes/probes cover the appended
    * union. Empty = codebook from the whole corpus (q_sim_pq). */
  def pqSeededTopK(probeMod: Int, k: Int, m: Int, ncent: Int, reRank: Int,
      seedWhere: String = ""): String = {
    val sub = s"list_transform(generate_series(0, ${m - 1}), s -> " +
      s"list_sum(list_transform(generate_series(1, wd), i -> " +
      "(xq[s*wd + i] - cq[s*wd + i]) * (xq[s*wd + i] - cq[s*wd + i]))))"
    val codeCols = (0 until m)
      .map(s => s"min(ds[${s + 1}] * 32 + (j - 1)) AS c$s").mkString(",\n  ")
    // list_sum promotes to HUGEINT, which cannot index an array — the
    // codes must come back down to BIGINT
    val codeList = (0 until m).map(s => s"CAST(c$s % 32 AS BIGINT)").mkString("[", ", ", "]")
    val adcSum = (0 until m).map(s => s"tab[codes[${s + 1}] + 1][${s + 1}]").mkString(" + ")
    s"""WITH $qCte,
       |hq AS (SELECT vec_id, qv,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv FROM q),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) AS BIGINT) AS j,
       |    qv AS cq
       |  FROM (SELECT * FROM hq $seedWhere ORDER BY hv, vec_id LIMIT $ncent)),
       |sd AS (SELECT q.vec_id, c.j, $sub AS ds
       |  FROM (SELECT vec_id, qv AS xq, len(qv) // $m AS wd FROM q) q, cents c),
       |codes0 AS (SELECT vec_id,
       |  $codeCols
       |  FROM sd GROUP BY vec_id),
       |codes AS (SELECT vec_id, $codeList AS codes FROM codes0),
       |p AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id % $probeMod = 0),
       |psd AS (SELECT p.probe_id, c.j, $sub AS ds
       |  FROM (SELECT probe_id, pv AS xq, len(pv) // $m AS wd FROM p) p, cents c),
       |ptab AS (SELECT probe_id, list(ds ORDER BY j) AS tab FROM psd GROUP BY probe_id),
       |ad AS (SELECT ptab.probe_id, codes.vec_id AS neighbor_id, $adcSum AS adist
       |  FROM ptab, codes WHERE codes.vec_id != ptab.probe_id),
       |cand AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS arn
       |    FROM ad) WHERE arn <= $reRank),
       |s AS (SELECT cand.probe_id, cand.neighbor_id, ${dotSql("p.pv", "nq.qv")} AS dot_q
       |  FROM cand
       |  JOIN p ON p.probe_id = cand.probe_id
       |  JOIN q nq ON nq.vec_id = cand.neighbor_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT probe_id, neighbor_id, dot_q, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Mirror of graft.similarity.Similarity.ivfPqTopK, stage for
    * stage: seeded coarse centroids + argmax-dot assignment
    * (ivfSeededTopK's CTEs), integer residuals, residual codebook from
    * the ncent seeds' own residuals, per-subspace packed-argmin
    * encode, per-(probe, list) ADC tables over the probe's residual,
    * top-reRank cut, exact dot re-rank. */
  /** `seedWhere` (e.g. `"WHERE vec_id % 5 != 0"`) pins BOTH frozen
    * quantizers — the coarse centroid pool and the residual codebook
    * pool — to the build-time corpus, the oracle form of
    * q_sim_ivfpq_append's add-after-train index. Empty = both derived
    * from the whole corpus (q_sim_ivfpq). */
  def ivfPqTopK(probeMod: Int, k: Int, nlist: Int, nprobe: Int,
      m: Int, ncent: Int, reRank: Int, seedWhere: String = ""): String = {
    val sub = s"list_transform(generate_series(0, ${m - 1}), s -> " +
      s"list_sum(list_transform(generate_series(1, wd), i -> " +
      "(xq[s*wd + i] - cq[s*wd + i]) * (xq[s*wd + i] - cq[s*wd + i]))))"
    val codeCols = (0 until m)
      .map(s => s"min(ds[${s + 1}] * 32 + (j - 1)) AS c$s").mkString(",\n  ")
    val codeList = (0 until m).map(s => s"CAST(c$s % 32 AS BIGINT)").mkString("[", ", ", "]")
    val adcSum = (0 until m).map(s => s"tab[codes[${s + 1}] + 1][${s + 1}]").mkString(" + ")
    s"""WITH $qCte,
       |hq AS (SELECT vec_id, qv,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv FROM q),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) AS BIGINT) AS list_id,
       |    qv AS cq
       |  FROM (SELECT * FROM hq $seedWhere ORDER BY hv, vec_id LIMIT $nlist)),
       |asg0 AS (SELECT q.vec_id, c.list_id, ${dotSql("q.qv", "c.cq")} AS cdot
       |  FROM q, cents c),
       |asg AS (SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id) AS rn
       |    FROM asg0) WHERE rn = 1),
       |resid AS (SELECT hq.vec_id, a.list_id,
       |    [hq.qv[i] - c.cq[i] for i in generate_series(1, len(hq.qv))] AS rv, hq.hv
       |  FROM hq JOIN asg a ON a.vec_id = hq.vec_id
       |  JOIN cents c ON c.list_id = a.list_id),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) AS BIGINT) AS j,
       |    rv AS cr
       |  FROM (SELECT * FROM resid $seedWhere ORDER BY hv, vec_id LIMIT $ncent)),
       |sd AS (SELECT r.vec_id, r.list_id, c.j, $sub AS ds
       |  FROM (SELECT vec_id, list_id, rv AS xq, len(rv) // $m AS wd FROM resid) r,
       |    (SELECT j, cr AS cq FROM seeds) c),
       |codes0 AS (SELECT vec_id, list_id,
       |  $codeCols
       |  FROM sd GROUP BY vec_id, list_id),
       |codes AS (SELECT vec_id, list_id, $codeList AS codes FROM codes0),
       |p AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id % $probeMod = 0),
       |pl0 AS (SELECT p.probe_id, p.pv, c.list_id, c.cq, ${dotSql("p.pv", "c.cq")} AS cdot
       |  FROM p, cents c),
       |pl AS (SELECT probe_id, list_id,
       |    [pv[i] - cq[i] for i in generate_series(1, len(pv))] AS prv
       |  FROM (
       |    SELECT probe_id, pv, list_id, cq,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cdot DESC, list_id) AS rn
       |    FROM pl0) WHERE rn <= $nprobe),
       |psd AS (SELECT r.probe_id, r.list_id, c.j, $sub AS ds
       |  FROM (SELECT probe_id, list_id, prv AS xq, len(prv) // $m AS wd FROM pl) r,
       |    (SELECT j, cr AS cq FROM seeds) c),
       |ptab AS (SELECT probe_id, list_id, list(ds ORDER BY j) AS tab
       |  FROM psd GROUP BY probe_id, list_id),
       |ad AS (SELECT ptab.probe_id, codes.vec_id AS neighbor_id, $adcSum AS adist
       |  FROM ptab JOIN codes ON codes.list_id = ptab.list_id
       |  WHERE codes.vec_id != ptab.probe_id),
       |cand AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS arn
       |    FROM ad) WHERE arn <= $reRank),
       |s AS (SELECT cand.probe_id, cand.neighbor_id, ${dotSql("p.pv", "nq.qv")} AS dot_q
       |  FROM cand
       |  JOIN p ON p.probe_id = cand.probe_id
       |  JOIN q nq ON nq.vec_id = cand.neighbor_id),
       |r AS (SELECT probe_id, neighbor_id, dot_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s)
       |SELECT probe_id, neighbor_id, dot_q, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Mirror of Similarity.ivfListStats over the q_sim_ivfpq_indexed
    * artifact: re-derives the seeded coarse assignment (ivfPqTopK's
    * CTE prefix) and aggregates per-list counts + the max/mean
    * imbalance factor — exact integer division throughout. */
  def ivfListStats(nlist: Int): String =
    s"""WITH $qCte,
       |hq AS (SELECT vec_id, qv,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv FROM q),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) AS BIGINT) AS list_id,
       |    qv AS cq
       |  FROM (SELECT * FROM hq ORDER BY hv, vec_id LIMIT $nlist)),
       |asg0 AS (SELECT q.vec_id, c.list_id, ${dotSql("q.qv", "c.cq")} AS cdot
       |  FROM q, cents c),
       |asg AS (SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id) AS rn
       |    FROM asg0) WHERE rn = 1),
       |per AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY list_id),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(max(n) AS BIGINT) AS max_n,
       |  CAST(count(*) AS BIGINT) AS n_lists FROM per)
       |SELECT list_id, n,
       |  n * 1000000 // total AS frac_ppm,
       |  max_n * n_lists * 1000 // total AS imbalance_milli
       |FROM per, tot""".stripMargin

  /** Mirror of graft.similarity.Similarity.semanticDedup stage for
    * stage: seeded coarse centroids + argmax-dot assignment
    * (ivfSeededTopK's CTEs), within-cluster candidate pairs with the
    * star-cap skew fallback, exact rational-cosine verify
    * (cosinePairs' HUGEINT test), recursive min-label flood over the
    * verified pairs, every vector labeled with its canonical. */
  def semanticDedup(nlist: Int, num: Long, den: Long, cap: Int): String =
    s"""WITH RECURSIVE $qCte,
       |hq AS (SELECT vec_id, qv,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv FROM q),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) AS BIGINT) AS list_id,
       |    qv AS cq
       |  FROM (SELECT * FROM hq ORDER BY hv, vec_id LIMIT $nlist)),
       |asg0 AS (SELECT q.vec_id, c.list_id, ${dotSql("q.qv", "c.cq")} AS cdot
       |  FROM q, cents c),
       |asg AS (SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, list_id) AS rn
       |    FROM asg0) WHERE rn = 1),
       |n2 AS (SELECT vec_id, ${dotSql("qv", "qv")} AS n2 FROM q),
       |bb AS (SELECT vec_id, list_id,
       |    count(*) OVER w AS bucket_n, min(vec_id) OVER w AS bucket_min
       |  FROM asg WINDOW w AS (PARTITION BY list_id)),
       |cand AS (
       |  SELECT DISTINCT vec_a, vec_b FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM (SELECT * FROM bb WHERE bucket_n <= $cap) a
       |    JOIN (SELECT * FROM bb WHERE bucket_n <= $cap) b
       |      ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |    UNION ALL
       |    SELECT bucket_min AS vec_a, vec_id AS vec_b FROM bb
       |    WHERE bucket_n > $cap AND vec_id <> bucket_min)),
       |dots AS (
       |  SELECT c.vec_a, c.vec_b, ${dotSql("qa.qv", "qb.qv")} AS dot_q
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.vec_a
       |  JOIN q qb ON qb.vec_id = c.vec_b),
       |prs AS (
       |  SELECT t.vec_a, t.vec_b FROM dots t
       |  JOIN n2 na ON na.vec_id = t.vec_a
       |  JOIN n2 nb ON nb.vec_id = t.vec_b
       |  WHERE t.dot_q >= 0
       |    AND CAST(t.dot_q AS HUGEINT) * CAST(t.dot_q AS HUGEINT) * $den
       |        >= CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT) * $num),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM prs
       |  UNION ALL SELECT vec_b, vec_a FROM prs),
       |reach AS (
       |  SELECT src AS id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS id, r.lbl AS lbl FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
       |SELECT a.vec_id, a.list_id,
       |  coalesce(c.lbl, a.vec_id) AS canonical_id,
       |  CAST(CASE WHEN coalesce(c.lbl, a.vec_id) = a.vec_id THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM asg a LEFT JOIN comp c ON c.id = a.vec_id""".stripMargin

  /** Embedding-cosine near-dup pairs — mirrors
    * graft.similarity.Similarity.cosinePairs stage for stage: sign-LSH
    * band keys (plane i, dim d sign = parity of
    * (1103515245*(i*dims+d+1)) mod 2^31-1, dims derived per row like
    * the Spark side), star-capped bucket pairs (the
    * Dedup.bucketPairs rule), then the exact integer accept test
    * den*dot^2 >= num*|a|^2*|b|^2 AND dot >= 0 in HUGEINT. */
  def cosinePairs(planes: Int, bandBits: Int, num: Long, den: Long, cap: Int): String =
    s"""WITH $qCte,
       |u AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS d,
       |  len(qv) AS dims FROM q),
       |n2 AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
       |pr AS (
       |  SELECT u.vec_id, p.i AS plane,
       |    sum(CASE WHEN ((1103515245 * (p.i * u.dims + u.d)) % 2147483647) % 2 = 0
       |             THEN u.v ELSE -u.v END) AS proj
       |  FROM u CROSS JOIN range($planes) p(i)
       |  GROUP BY u.vec_id, p.i),
       |bk AS (
       |  SELECT vec_id, plane // $bandBits AS band_idx,
       |    sum(CASE WHEN proj >= 0 THEN 1 << (plane % $bandBits) ELSE 0 END) AS band_hash
       |  FROM pr GROUP BY vec_id, plane // $bandBits),
       |bb AS (
       |  SELECT vec_id, band_idx, band_hash,
       |    count(*) OVER w AS bucket_n, min(vec_id) OVER w AS bucket_min
       |  FROM bk WINDOW w AS (PARTITION BY band_idx, band_hash)),
       |cand AS (
       |  SELECT DISTINCT vec_a, vec_b FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM (SELECT * FROM bb WHERE bucket_n <= $cap) a
       |    JOIN (SELECT * FROM bb WHERE bucket_n <= $cap) b
       |      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |        AND a.vec_id < b.vec_id
       |    UNION ALL
       |    SELECT bucket_min AS vec_a, vec_id AS vec_b FROM bb
       |    WHERE bucket_n > $cap AND vec_id <> bucket_min)),
       |dots AS (
       |  SELECT c.vec_a, c.vec_b, ${dotSql("qa.qv", "qb.qv")} AS dot_q
       |  FROM cand c
       |  JOIN q qa ON qa.vec_id = c.vec_a
       |  JOIN q qb ON qb.vec_id = c.vec_b)
       |SELECT t.vec_a, t.vec_b, t.dot_q
       |FROM dots t
       |JOIN n2 na ON na.vec_id = t.vec_a
       |JOIN n2 nb ON nb.vec_id = t.vec_b
       |WHERE t.dot_q >= 0
       |  AND CAST(t.dot_q AS HUGEINT) * CAST(t.dot_q AS HUGEINT) * $den
       |      >= CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT) * $num""".stripMargin
}
