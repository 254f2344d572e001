package graft.oracle

import graft.dedup.Dedup.MinHashParams

/** DuckDB oracle SQL for the text-analysis / dedup operators.
  *
  * Shares one tokenization convention with the Spark side
  * (graft.text.TextFunctions): tokens = single-space split; k-shingles
  * = k consecutive tokens joined by ' '. All numeric outputs are exact
  * integer math (`//` here, `IntegralDivide` in Spark) and all hashes
  * are md5 hex strings, so both engines agree bit-for-bit.
  */
object DocSql {

  /** k-shingle list expression over a `toks` column. */
  private def shinglesExpr(k: Int): String =
    s"CASE WHEN len(toks) >= $k THEN " +
      s"[array_to_string(toks[i:i+${k - 1}], ' ') for i in generate_series(1, len(toks)-${k - 1})] " +
      "ELSE [array_to_string(toks, ' ')] END"

  // coalesce(text, '') matches TextFunctions.tokens' NULL handling —
  // both engines then see a single empty token for NULL/empty documents.
  private val docsToks =
    "d AS (SELECT doc_id, lang, text, string_split(coalesce(text, ''), ' ') AS toks FROM documents)"

  val textStats: String =
    s"""WITH $docsToks
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS BIGINT) AS tok_chars,
       |  CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS quality_ppm,
       |  CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords
       |FROM d""".stripMargin

  def langId(stops: Seq[String], thresholdPpm: Long): String = {
    // '' -> '''' escaping keeps the generated SQL valid (and equivalent
    // to the Spark side's isin) for stopwords containing quotes.
    val inList = stops.map(s => s"'${s.replace("'", "''")}'").mkString("(", ", ", ")")
    s"""WITH $docsToks,
       |s AS (SELECT doc_id, lang,
       |  CAST(len(list_filter(toks, t -> t IN $inList)) AS BIGINT) AS stop_cnt,
       |  CAST(len(toks) AS BIGINT) AS n_tokens FROM d)
       |SELECT doc_id, lang, stop_cnt,
       |  stop_cnt * 1000000 // n_tokens AS stop_ppm,
       |  CASE WHEN stop_cnt * 1000000 // n_tokens >= $thresholdPpm
       |       THEN 'en' ELSE 'other' END AS lang_pred
       |FROM s""".stripMargin
  }

  def fingerprint(k: Int): String =
    s"""WITH $docsToks,
       |sh AS (SELECT doc_id, text, ${shinglesExpr(k)} AS shingles FROM d)
       |SELECT doc_id, md5(text) AS content_hash,
       |  list_min(list_transform(shingles, s -> md5(s))) AS fp_shingle_min
       |FROM sh""".stripMargin

  /** Gopher-style quality signals — mirrors
    * TextFunctions.repetitionPpm / upperPpm / digitPpm exactly
    * (integer ppm math, greatest(len,1) division guard). */
  /** Mirror of q_agg_incremental: the maintained partial + batch merge
    * must equal the direct aggregate over the whole corpus — the
    * oracle computes the latter. */
  val aggIncremental: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents GROUP BY source, lang""".stripMargin

  /** Mirror of q_source_evolution: rows written before the schema grew
    * read back with NULL in the added column; the hash split replays
    * which rows those were. */
  val sourceEvolution: String =
    """WITH b AS (SELECT *,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, n_chars,
      |  CASE WHEN bucket < 500000 THEN NULL ELSE source END AS source
      |FROM b""".stripMargin

  /** Mirror of q_quality_deciles: per-source quality deciles (ntile
    * over the engine-independent total order quality DESC, doc_id),
    * keeping the top `keep` deciles. ntile is the SQL-standard
    * balanced bucketing, identical in both engines given a
    * deterministic order. */
  def qualityDeciles(keep: Int): String =
    s"""WITH t AS (SELECT doc_id, source,
       |  string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |q AS (SELECT doc_id, source,
       |  CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS quality_ppm
       |  FROM t),
       |n AS (SELECT doc_id, source, quality_ppm,
       |  CAST(ntile(10) OVER (PARTITION BY source
       |    ORDER BY quality_ppm DESC, doc_id) AS BIGINT) AS decile FROM q)
       |SELECT doc_id, source, quality_ppm, decile FROM n
       |WHERE decile <= $keep""".stripMargin

  /** Mirror of CorpusOps.qualityGate: whole-score-class gate from the
    * per-group score distribution (kept iff cum_above + class count
    * fits in the ppm quota), then a semi-join back on (lang, score). */
  def qualityGate(keepPpm: Long): String =
    s"""WITH t AS (SELECT doc_id, lang,
       |  string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |q AS (SELECT doc_id, lang,
       |  CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS quality_ppm
       |  FROM t),
       |c AS (SELECT lang, quality_ppm, count(*) AS cnt FROM q GROUP BY 1, 2),
       |k AS (SELECT lang, quality_ppm,
       |  coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY quality_ppm DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_above,
       |  cnt, sum(cnt) OVER (PARTITION BY lang) AS n FROM c)
       |SELECT q.doc_id, q.lang, q.quality_ppm FROM q
       |JOIN k ON q.lang = k.lang AND q.quality_ppm = k.quality_ppm
       |WHERE k.cum_above + k.cnt <= k.n * $keepPpm // 1000000""".stripMargin

  /** Mirror of CorpusOps.qualityGateBuild + qualityGateApply: the cut
    * frame recomputed from the calibration corpus (per-group min kept
    * score), applied to the `doc_id % mod = rem` ingest slice. */
  def qualityGateApply(keepPpm: Long, mod: Long, rem: Long): String =
    s"""WITH t AS (SELECT doc_id, lang,
       |  string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |q AS (SELECT doc_id, lang,
       |  CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS quality_ppm
       |  FROM t),
       |c AS (SELECT lang, quality_ppm, count(*) AS cnt FROM q GROUP BY 1, 2),
       |k AS (SELECT lang, quality_ppm,
       |  coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY quality_ppm DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_above,
       |  cnt, sum(cnt) OVER (PARTITION BY lang) AS n FROM c),
       |cut AS (SELECT lang, CAST(min(quality_ppm) AS BIGINT) AS cut_ppm FROM k
       |  WHERE cum_above + cnt <= n * $keepPpm // 1000000 GROUP BY 1)
       |SELECT q.doc_id, q.lang, q.quality_ppm FROM q
       |JOIN cut ON q.lang = cut.lang
       |WHERE q.quality_ppm >= cut.cut_ppm AND q.doc_id % $mod = $rem""".stripMargin

  def textQuality(k: Int): String =
    s"""WITH $docsToks,
       |sh AS (SELECT doc_id, text, greatest(len(toks) - ${k - 1}, 1) AS total,
       |  len(list_distinct(list_transform(${shinglesExpr(k)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS n_distinct FROM d)
       |SELECT doc_id,
       |  CAST((total - n_distinct) * 1000000 // total AS BIGINT) AS repetition_ppm,
       |  CAST(length(regexp_replace(coalesce(text, ''), '[^A-Z]', '', 'g')) * 1000000
       |    // greatest(length(coalesce(text, '')), 1) AS BIGINT) AS upper_ppm,
       |  CAST(length(regexp_replace(coalesce(text, ''), '[^0-9]', '', 'g')) * 1000000
       |    // greatest(length(coalesce(text, '')), 1) AS BIGINT) AS digit_ppm
       |FROM sh""".stripMargin

  /** Mirror of TextFunctions.hashBucket/splitLabel: 8-hex-digit md5
    * prefix of the stringified key, mod 1e6, threshold CASE. */
  def split(cuts: Seq[(String, Long)]): String = {
    val cases = cuts.init.map { case (n, hi) => s"WHEN bucket < $hi THEN '$n'" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
       |  FROM documents)
       |SELECT doc_id, bucket,
       |  CASE $cases ELSE '${cuts.last._1}' END AS split
       |FROM b""".stripMargin
  }

  val dedupExact: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Mirror of CorpusOps.vocabulary: token explode -> (tf, df) ->
    * top-k by the total order (tf desc, df desc, token asc). */
  def vocabulary(topK: Int): String =
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(string_split(coalesce(text, ''), ' ')) AS token FROM documents)
       |SELECT token, CAST(count(*) AS BIGINT) AS tf,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |FROM tok GROUP BY token
       |ORDER BY tf DESC, df DESC, token
       |LIMIT $topK""".stripMargin

  /** Mirror of CorpusOps.balancedSample: per-class salted-hash
    * ranks, the 1-row min-class-size bound, exactly-k from every
    * class. */
  def balancedSample(salt: String): String =
    s"""WITH r AS (SELECT doc_id, lang AS label,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '$salt'), 1, 8))
       |      AS BIGINT) % 1000000 AS hb
       |  FROM documents),
       |rk AS MATERIALIZED (SELECT doc_id, label, hb,
       |    row_number() OVER (PARTITION BY label ORDER BY hb, doc_id) AS rn
       |  FROM r),
       |k AS (SELECT min(n) AS k FROM
       |  (SELECT label, count(*) AS n FROM rk GROUP BY 1))
       |SELECT doc_id, label, CAST(rn AS BIGINT) AS rn
       |FROM rk, k WHERE rn <= k""".stripMargin

  /** Mirror of CorpusOps.sourceOverlap: distinct (source, 60-bit
    * shingle hash) sets, pairwise shared counts via the id-ordered
    * self-join, exact-ppm Jaccard. */
  def sourceOverlap(k: Int): String =
    s"""WITH d AS (SELECT source,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |sh AS MATERIALIZED (SELECT DISTINCT src, h FROM
       |  (SELECT source AS src, unnest(list_transform(${shinglesExpr(k)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h
       |   FROM d)),
       |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1)
       |SELECT a.src AS source_a, b.src AS source_b,
       |  CAST(count(*) AS BIGINT) AS shared,
       |  CAST(count(*) * 1000000 // (min(za.n) + min(zb.n) - count(*))
       |    AS BIGINT) AS jaccard_ppm
       |FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
       |JOIN sz za ON za.src = a.src
       |JOIN sz zb ON zb.src = b.src
       |GROUP BY 1, 2""".stripMargin

  /** Mirror of CorpusOps.collocations: bigram lift over unigram
    * expectations in exact integer ppm (HUGEINT intermediates), same
    * strict bigram comprehension as lmSurprisal, top-k by (lift desc,
    * bigram) — UTF-8 binary order matches Spark's. */
  def collocations(minCount: Long, topK: Int): String =
    s"""WITH d AS (SELECT string_split(coalesce(text, ''), ' ') AS t
       |  FROM documents),
       |bg AS (SELECT
       |  unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)])
       |    AS bigram FROM d),
       |cnt AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cab FROM bg
       |  GROUP BY 1 HAVING count(*) >= $minCount),
       |tk AS (SELECT unnest(t) AS tok FROM d),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM tk GROUP BY 1),
       |tot AS (SELECT CAST(sum(cu) AS HUGEINT) AS total FROM uni)
       |SELECT bigram, cab, ua.cu AS ca, ub.cu AS cb,
       |  CAST(CAST(cab AS HUGEINT) * total * 1000000 //
       |    (CAST(ua.cu AS HUGEINT) * ub.cu) AS BIGINT) AS lift_ppm
       |FROM cnt
       |JOIN uni ua ON ua.tok = str_split(bigram, ' ')[1]
       |JOIN uni ub ON ub.tok = str_split(bigram, ' ')[2], tot
       |ORDER BY lift_ppm DESC, bigram LIMIT $topK""".stripMargin

  /** Mirror of CorpusOps.bpeMerges: `merges` unrolled BPE rounds over
    * the top-`vocabSize` ASCII word-frequency table. Each round:
    * weighted adjacent-pair counts over the space-prefixed symbol
    * string, argmax (cnt desc, pair asc), greedy left-to-right merge
    * via the double-space-gap boundary-anchored replace — the exact
    * expression of CorpusOps.applyMergeGreedy (see its scaladoc for
    * why both symbol boundaries must be anchored), so the iterative
    * trainer hash-gates. */
  def bpeMerges(merges: Int, vocabSize: Int): String = {
    val out = (1 to merges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"cnt AS pair_count FROM m$k"
    }.mkString("\n UNION ALL ")
    s"""WITH ${bpeCtes(merges, vocabSize)}
       |$out""".stripMargin
  }

  /** Mirror of CorpusOps.bpeSegment: the final segmentation table
    * after the same unrolled rounds (strip the leading space, count
    * symbols from the split). */
  def bpeSegments(merges: Int, vocabSize: Int): String =
    s"""WITH ${bpeCtes(merges, vocabSize)}
       |SELECT word, freq,
       |  CAST(len(str_split(s, ' ')) - 1 AS BIGINT) AS n_syms,
       |  s[2:] AS segmentation
       |FROM w$merges""".stripMargin

  /** Mirror of CorpusOps.lm3Surprisal: trigram stupid backoff — the
    * same train split (doc_id % 3 != 0), the same exact-integer
    * ladder (1e6·c123//c12, else 2e6·c23//(5·c(w2)), else
    * 4e6·c(w3)//(25·N), else 0), instance-weighted per-doc mean. */
  val lm3Surprisal: String =
    s"""WITH $docsToks,
       |tr AS (SELECT toks FROM d WHERE doc_id % 3 != 0),
       |c3 AS MATERIALIZED (SELECT g3, CAST(count(*) AS BIGINT) AS c123
       |  FROM (SELECT unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |      for i in generate_series(1, len(toks) - 2)]) AS g3 FROM tr)
       |  GROUP BY 1),
       |c2 AS MATERIALIZED (SELECT g2, CAST(count(*) AS BIGINT) AS c2
       |  FROM (SELECT unnest([toks[i] || ' ' || toks[i+1]
       |      for i in generate_series(1, len(toks) - 1)]) AS g2 FROM tr)
       |  GROUP BY 1),
       |c1 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY 1),
       |nt AS (SELECT CAST(sum(c1) AS BIGINT) AS ntot FROM c1),
       |di AS (SELECT doc_id, g3, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |      for i in generate_series(1, len(toks) - 2)]) AS g3 FROM d)
       |  GROUP BY 1, 2),
       |ji AS (SELECT di.doc_id, di.n,
       |    c3.c123, p.c2 AS c12, s.c2 AS c23, u2.c1 AS cw2, u3.c1 AS cw3,
       |    (SELECT ntot FROM nt) AS ntot
       |  FROM (SELECT doc_id, g3, n, str_split(g3, ' ') AS sp FROM di) di
       |  LEFT JOIN c3 ON di.g3 = c3.g3
       |  LEFT JOIN c2 p ON p.g2 = di.sp[1] || ' ' || di.sp[2]
       |  LEFT JOIN c2 s ON s.g2 = di.sp[2] || ' ' || di.sp[3]
       |  LEFT JOIN c1 u2 ON u2.w = di.sp[2]
       |  LEFT JOIN c1 u3 ON u3.w = di.sp[3]),
       |si AS (SELECT doc_id, n,
       |  CASE WHEN c123 IS NOT NULL THEN c123 * 1000000 // c12
       |       WHEN c23 IS NOT NULL THEN c23 * 2000000 // (cw2 * 5)
       |       WHEN cw3 IS NOT NULL THEN cw3 * 4000000 // (ntot * 25)
       |       ELSE 0 END AS s,
       |  CASE WHEN c123 IS NOT NULL THEN 3 WHEN c23 IS NOT NULL THEN 2
       |       WHEN cw3 IS NOT NULL THEN 1 ELSE 0 END AS lv
       |  FROM ji),
       |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt,
       |  CAST(sum(CASE WHEN lv = 3 THEN n ELSE 0 END) AS BIGINT) AS h3,
       |  CAST(sum(CASE WHEN lv = 2 THEN n ELSE 0 END) AS BIGINT) AS h2,
       |  CAST(sum(CASE WHEN lv = 1 THEN n ELSE 0 END) AS BIGINT) AS h1,
       |  CAST(sum(CASE WHEN lv = 0 THEN n ELSE 0 END) AS BIGINT) AS h0,
       |  CAST(sum(n * s) AS BIGINT) AS ssum
       |  FROM si GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(sc.nt, 0) AS n_trigrams,
       |  coalesce(sc.h3, 0) AS n_tri_hits,
       |  coalesce(sc.h2, 0) AS n_big_hits,
       |  coalesce(sc.h1, 0) AS n_uni_hits,
       |  coalesce(sc.h0, 0) AS n_oov,
       |  CAST(CASE WHEN coalesce(sc.nt, 0) = 0 THEN 0
       |    ELSE sc.ssum // sc.nt END AS BIGINT) AS score_ppm
       |FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin

  /** Mirror of CorpusOps.nbQuality: the same alternate-in-md5-order
    * source labels, doc_id % 5 split, top-V training vocabulary,
    * Laplace counts, and the shift-square fixed-point log2 unrolled
    * as 20 chained CTEs over the (2V + 4)-value frame — bit-identical
    * to the Scala ilog2Fp loop. All aggregate sums cast back to
    * BIGINT. */
  def nbQuality(vocabSize: Int): String = {
    val rounds = (1 to 20).map { k =>
      s"""l$k AS MATERIALIZED (SELECT key, e,
         |  CASE WHEN ((m*m) >> 30) >= 2147483648 THEN ((m*m) >> 30) >> 1
         |       ELSE (m*m) >> 30 END AS m,
         |  f*2 + CASE WHEN ((m*m) >> 30) >= 2147483648 THEN 1 ELSE 0 END AS f
         |  FROM l${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH srcl AS (SELECT src, (row_number() OVER (ORDER BY md5(src), src))
       |    % 2 = 1 AS lab_seed
       |  FROM (SELECT DISTINCT coalesce(source, '') AS src FROM documents)),
       |lab AS (SELECT doc_id, srcl.lab_seed AS s,
       |  string_split(coalesce(text, ''), ' ') AS toks
       |  FROM documents JOIN srcl ON coalesce(documents.source, '') = srcl.src),
       |tr AS (SELECT * FROM lab WHERE doc_id % 5 != 0),
       |ttok AS (SELECT doc_id, s, unnest(toks) AS token FROM tr),
       |vc AS MATERIALIZED (SELECT token FROM (
       |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM ttok GROUP BY token ORDER BY tf DESC, df DESC, token
       |  LIMIT $vocabSize)),
       |cnt AS MATERIALIZED (SELECT token,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS cs,
       |    CAST(sum(CASE WHEN s THEN 0 ELSE 1 END) AS BIGINT) AS cc
       |  FROM ttok JOIN vc USING (token) GROUP BY token),
       |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ts,
       |  CAST(sum(cc) AS BIGINT) AS tc,
       |  CAST(count(*) AS BIGINT) AS vsz FROM cnt),
       |nd AS (SELECT CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS ns,
       |  CAST(sum(CASE WHEN s THEN 0 ELSE 1 END) AS BIGINT) AS nc FROM tr),
       |vals AS MATERIALIZED (
       |  SELECT 'cs_' || token AS key, cs + 1 AS x FROM cnt
       |  UNION ALL SELECT 'cc_' || token, cc + 1 FROM cnt
       |  UNION ALL SELECT '_ts', ts + vsz FROM tot
       |  UNION ALL SELECT '_tc', tc + vsz FROM tot
       |  UNION ALL SELECT '_ns', ns FROM nd
       |  UNION ALL SELECT '_nc', nc FROM nd),
       |l0 AS MATERIALIZED (SELECT key,
       |  CAST(length(bin(x)) - 1 AS BIGINT) AS e,
       |  CASE WHEN length(bin(x)) - 1 <= 30
       |       THEN x * CAST(pow(2, 30 - (length(bin(x)) - 1)) AS BIGINT)
       |       ELSE x // CAST(pow(2, (length(bin(x)) - 1) - 30) AS BIGINT)
       |  END AS m,
       |  CAST(0 AS BIGINT) AS f FROM vals),
       |$rounds,
       |ilog AS MATERIALIZED (SELECT key, e * 1048576 + f AS lg FROM l20),
       |wts AS MATERIALIZED (SELECT c.token,
       |  (ls.lg - (SELECT lg FROM ilog WHERE key = '_ts'))
       |  - (lc.lg - (SELECT lg FROM ilog WHERE key = '_tc')) AS w
       |  FROM cnt c
       |  JOIN ilog ls ON ls.key = 'cs_' || c.token
       |  JOIN ilog lc ON lc.key = 'cc_' || c.token),
       |pri AS (SELECT (SELECT lg FROM ilog WHERE key = '_ns')
       |  - (SELECT lg FROM ilog WHERE key = '_nc') AS prior),
       |sc AS (SELECT doc_id, s, unnest(toks) AS token FROM lab
       |  WHERE doc_id % 5 = 0),
       |j AS (SELECT sc.doc_id, sc.s, w.w FROM sc
       |  LEFT JOIN wts w USING (token)),
       |agg AS (SELECT doc_id, s,
       |  CAST(sum(CASE WHEN w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_scored,
       |  CAST(coalesce(sum(w), 0) + (SELECT prior FROM pri) AS BIGINT) AS llr
       |  FROM j GROUP BY doc_id, s)
       |SELECT doc_id, n_scored, llr,
       |  CAST(CASE WHEN llr > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred_seed,
       |  CAST(CASE WHEN s THEN 1 ELSE 0 END AS BIGINT) AS is_seed
       |FROM agg""".stripMargin
  }

  /** Mirror of CorpusOps.tokenizeBpe: the same merge rounds (m1..mk
    * CTEs), then the encode pass — distinct corpus words replayed
    * through the k anchored greedy merges (dw chain, materialized for
    * the same inline-explosion reason as the w chain), symbol ids
    * 25 + rank for merged symbols (first rank wins on string
    * collisions) and ascii - 97 for base chars, reassembled per word
    * then per doc. All sums cast to BIGINT (DuckDB widens SUM to
    * HUGEINT). */
  def tokenizeBpe(merges: Int, vocabSize: Int): String =
    s"""WITH ${bpeCtes(merges, vocabSize)},
       |tokp AS (SELECT doc_id, unnest(toks) AS token,
       |  unnest(generate_series(1, len(toks))) AS pos FROM d),
       |ftok AS (SELECT doc_id, token, pos FROM tokp
       |  WHERE regexp_matches(token, '^[a-z]+$$')),
       |dw0 AS MATERIALIZED (SELECT DISTINCT token,
       |  regexp_replace(token, '(.)', ' \\1', 'g') AS s FROM ftok),
       |${applyRoundCtes("dw", "token", merges)},
       |${idAssemblyCtes("dw", "token", merges, 25,
           "CAST(ascii(ws.sym) - 97 AS BIGINT)", "n_syms")},
       |j AS (SELECT f.doc_id, f.pos, w.n_syms, w.wid_str
       |  FROM ftok f JOIN wid w USING (token))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |  array_to_string(list(wid_str ORDER BY pos), '_') AS ids_str
       |FROM j GROUP BY doc_id""".stripMargin

  /** The greedy merge-apply chain over a ($key, s) segmentation
    * frame, one CTE per rank — the two-space anchored replace trick
    * (see CorpusOps.applyMergeGreedy; round 13 had to patch its
    * anchoring once, so the template lives in exactly one place),
    * shared by the char-level, byte-level and pre-tokenized encodes. */
  private def applyRoundCtes(cte: String, key: String, merges: Int): String =
    (1 to merges).map { k =>
      s"""$cte$k AS MATERIALIZED (SELECT $key,
         |    rtrim(replace(replace(replace(s, ' ', '  ') || '  ',
         |      ' ' || m$k.a || '  ' || m$k.b || ' ',
         |      ' ' || m$k.a || m$k.b || ' '), '  ', ' ')) AS s
         |  FROM $cte${k - 1}, m$k)""".stripMargin
    }.mkString(",\n")

  /** Symbol→id assembly over the final segmentation `$cte$merges`:
    * the symbol created by merge rank k gets `baseVocabMinus1 + k`
    * (first rank wins on string collisions), base-shaped symbols map
    * through `baseIdExpr`; emits `wid` = ($key, $nAlias, wid_str). */
  private def idAssemblyCtes(cte: String, key: String, merges: Int,
      baseVocabMinus1: Int, baseIdExpr: String, nAlias: String): String = {
    val mtRows = (1 to merges).map { k =>
      s"SELECT a || b AS sym, CAST(${baseVocabMinus1 + k} AS BIGINT) AS id FROM m$k"
    }.mkString(" UNION ALL ")
    s"""mt AS MATERIALIZED (SELECT sym, min(id) AS id FROM ($mtRows) GROUP BY sym),
       |ws AS (SELECT $key, unnest(str_split(s[2:], ' ')) AS sym,
       |  unnest(generate_series(1, len(str_split(s[2:], ' ')))) AS sp
       |  FROM $cte$merges),
       |wi AS (SELECT ws.$key, ws.sp,
       |  coalesce(mt.id, $baseIdExpr) AS id
       |  FROM ws LEFT JOIN mt ON ws.sym = mt.sym),
       |wid AS (SELECT $key, CAST(count(*) AS BIGINT) AS $nAlias,
       |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY sp), '_') AS wid_str
       |  FROM wi GROUP BY $key)""".stripMargin
  }

  // every chained CTE is MATERIALIZED: DuckDB 1.0 INLINES a CTE per
  // reference, and w_k is referenced twice (pair counts + merge),
  // so the un-hinted form re-expands the corpus scan 2^merges times
  // — measured minutes for 12 rounds vs milliseconds materialized
  private def bpeRoundCtes(merges: Int): String =
    (1 to merges).map { k =>
      s"""e$k AS MATERIALIZED (SELECT freq, str_split(s, ' ') AS l FROM w${k - 1}),
         |p$k AS (SELECT l[i] AS a, l[i + 1] AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, l, unnest(generate_series(2, len(l) - 1)) AS i
         |    FROM e$k WHERE len(l) >= 3)
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (SELECT word, freq,
         |    rtrim(replace(replace(replace(s, ' ', '  ') || '  ',
         |      ' ' || m$k.a || '  ' || m$k.b || ' ',
         |      ' ' || m$k.a || m$k.b || ' '), '  ', ' ')) AS s
         |  FROM w${k - 1}, m$k)""".stripMargin
    }.mkString(",\n")

  private def bpeCtes(merges: Int, vocabSize: Int): String =
    s"""$docsToks,
       |wf AS MATERIALIZED (SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(toks) AS tok FROM d)
       |  WHERE regexp_matches(tok, '^[a-z]+$$')
       |  GROUP BY 1 ORDER BY freq DESC, word LIMIT $vocabSize),
       |w0 AS MATERIALIZED (SELECT word, freq,
       |  regexp_replace(word, '(.)', ' \\1', 'g') AS s FROM wf),
       |${bpeRoundCtes(merges)}""".stripMargin

  /** Mirror of CorpusOps.bpeMergesBytes: UTF-8 byte segmentation as
    * uppercase 2-hex-digit symbols (hex() of the string's bytes is
    * uppercase in both engines; the vocabulary total order sorts on
    * the hex string = UTF-8 binary order, engine-neutral for any
    * unicode word), then the same merge rounds. */
  def bpeMergesBytes(merges: Int, vocabSize: Int): String = {
    val out = (1 to merges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"cnt AS pair_count FROM m$k"
    }.mkString("\n UNION ALL ")
    s"""WITH ${bpeBytesCtes(merges, vocabSize)}
       |$out""".stripMargin
  }

  private def bpeBytesCtes(merges: Int, vocabSize: Int): String =
    s"""$docsToks,
       |wf AS MATERIALIZED (SELECT word, freq, hex(word) AS wh FROM (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(toks) AS tok FROM d)
       |  WHERE tok != '' GROUP BY 1)),
       |w0 AS MATERIALIZED (SELECT word, freq,
       |  regexp_replace(wh, '(..)', ' \\1', 'g') AS s
       |  FROM (SELECT word, freq, wh FROM wf
       |    ORDER BY freq DESC, wh LIMIT $vocabSize)),
       |${bpeRoundCtes(merges)}""".stripMargin

  /** Mirror of CorpusOps.tokenizeBpeBytes: the byte-level merge
    * rounds, then the encode pass over ALL non-empty tokens (hex-pair
    * segmentation, dw chain), base ids = the byte value (hex-literal
    * cast), merged symbol rank k -> 255 + k (first rank wins). */
  def tokenizeBpeBytes(merges: Int, vocabSize: Int): String =
    s"""WITH ${bpeBytesCtes(merges, vocabSize)},
       |tokp AS (SELECT doc_id, unnest(toks) AS token,
       |  unnest(generate_series(1, len(toks))) AS pos FROM d),
       |ftok AS (SELECT doc_id, token, pos FROM tokp WHERE token != ''),
       |dw0 AS MATERIALIZED (SELECT DISTINCT token,
       |  regexp_replace(hex(token), '(..)', ' \\1', 'g') AS s FROM ftok),
       |${applyRoundCtes("dw", "token", merges)},
       |${idAssemblyCtes("dw", "token", merges, 255,
           "CAST(('0x' || ws.sym) AS BIGINT)", "n_syms")},
       |j AS (SELECT f.doc_id, f.pos, w.n_syms, w.wid_str
       |  FROM ftok f JOIN wid w USING (token))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |  array_to_string(list(wid_str ORDER BY pos), '_') AS ids_str
       |FROM j GROUP BY doc_id""".stripMargin

  /** Mirror of CorpusOps.pretokenizeBpe: the same GPT-2-style BASE
    * split pattern (TextFunctions.PretokPattern — constructs chosen
    * for identical Java/RE2 semantics, docs/COMPAT.md §pretok) via
    * regexp_extract_all, then the multi-whitespace ATTACH transform
    * (graft.functions.PretokRuntime.attach — the shipped pattern's
    * `\s+(?!\S)` semantics, which RE2 cannot spell as a lookahead)
    * replayed as a lag/lead list transform: a 2+ whitespace run before
    * a non-space emits run-minus-last; a trailing literal space
    * prefixes the next piece (splitting a contraction into " '" +
    * letters, merged with an adjacent bare letter run); any other
    * trailing whitespace char stands alone. Then the byte-level merge
    * rounds over the DISTINCT pieces and the per-piece id assembly —
    * the [[tokenizeBpeBytes]] machinery with pieces in place of
    * words. */
  def tokenizePretok(merges: Int, vocabSize: Int): String = {
    // SQL string literal: single quotes in the contraction alternatives
    // double up; backslashes pass through (DuckDB regular strings)
    val pat = graft.text.TextFunctions.PretokPattern.replace("'", "''")
    val ctr = "('''s', '''t', '''re', '''ve', '''m', '''ll', '''d')"
    val wsRun = "'^[ \\t\\n\\x0B\\f\\r]+$'"
    s"""WITH ${bpeBytesCtes(merges, vocabSize)},
       |pcs AS (SELECT doc_id,
       |  regexp_extract_all(coalesce(text, ''), '$pat') AS ps FROM documents),
       |pb AS (SELECT doc_id, unnest(ps) AS piece,
       |  unnest(generate_series(1, len(ps))) AS bpos FROM pcs),
       |pn AS (SELECT doc_id, bpos, piece,
       |    lag(piece, 1) OVER w AS prv, lag(piece, 2) OVER w AS prv2,
       |    lead(piece, 1) OVER w AS nxt
       |  FROM pb WINDOW w AS (PARTITION BY doc_id ORDER BY bpos)),
       |pe AS (SELECT doc_id, bpos, CASE
       |    WHEN nxt IS NOT NULL AND len(piece) >= 2
       |         AND regexp_matches(piece, $wsRun) THEN
       |      CASE WHEN substr(piece, len(piece), 1) = ' '
       |           THEN [substr(piece, 1, len(piece) - 1)]
       |           ELSE [substr(piece, 1, len(piece) - 1),
       |                 substr(piece, len(piece), 1)] END
       |    WHEN prv IS NOT NULL AND len(prv) >= 2
       |         AND regexp_matches(prv, $wsRun)
       |         AND substr(prv, len(prv), 1) = ' ' THEN
       |      CASE WHEN piece IN $ctr THEN
       |        CASE WHEN nxt IS NOT NULL AND regexp_matches(nxt, '^\\p{L}+$$')
       |             THEN [' ''', substr(piece, 2) || nxt]
       |             ELSE [' ''', substr(piece, 2)] END
       |      ELSE [' ' || piece] END
       |    WHEN prv IS NOT NULL AND prv IN $ctr
       |         AND prv2 IS NOT NULL AND len(prv2) >= 2
       |         AND regexp_matches(prv2, $wsRun)
       |         AND substr(prv2, len(prv2), 1) = ' '
       |         AND regexp_matches(piece, '^\\p{L}+$$')
       |      THEN CAST([] AS VARCHAR[])
       |    ELSE [piece] END AS outp FROM pn),
       |pp AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY bpos, opos) AS pos,
       |    piece
       |  FROM (SELECT doc_id, bpos, unnest(outp) AS piece,
       |    unnest(generate_series(1, len(outp))) AS opos FROM pe)),
       |pw0 AS MATERIALIZED (SELECT DISTINCT piece,
       |  regexp_replace(hex(piece), '(..)', ' \\1', 'g') AS s FROM pp),
       |${applyRoundCtes("pw", "piece", merges)},
       |${idAssemblyCtes("pw", "piece", merges, 255,
           "CAST(('0x' || ws.sym) AS BIGINT)", "n_tokens")}
       |SELECT pp.doc_id, CAST(pp.pos - 1 AS BIGINT) AS pos, pp.piece,
       |  wid.n_tokens, wid.wid_str AS ids_str
       |FROM pp JOIN wid USING (piece)""".stripMargin
  }

  /** Mirror of CorpusOps.detokenizeBytes — deliberately NOT by
    * replaying the id→symbol map: the oracle re-derives the round-trip
    * identity target INDEPENDENTLY from the raw text (byte-level BPE
    * is lossless on every non-empty token, so a correct decode is
    * exactly the position-ordered separator-free token concat), while
    * n_tokens comes from the full tokenize pipeline. A Spark-side
    * defect in the symbol table, the id ordering, or the byte
    * reassembly diverges from this independent expectation and fails
    * the gate. */
  def detokenizeBytes(merges: Int, vocabSize: Int): String =
    s"""WITH g0 AS (SELECT doc_id,
       |    unnest(string_split(coalesce(text, ''), ' ')) AS token,
       |    unnest(generate_series(1, len(string_split(coalesce(text, ''), ' '))))
       |      AS pos FROM documents),
       |g AS (SELECT doc_id,
       |    array_to_string(list(token ORDER BY pos), '') AS decoded
       |  FROM g0 WHERE token != '' GROUP BY doc_id)
       |SELECT t.doc_id, t.n_tokens, g.decoded
       |FROM (
       |${tokenizeBpeBytes(merges, vocabSize)}
       |) t JOIN g ON t.doc_id = g.doc_id""".stripMargin

  /** Mirror of CorpusOps.tokenizerFertility: the per-doc byte-level
    * encode rolled up per source with the exact-ppm tokens-per-word
    * ratio. */
  def tokenizerFertility(merges: Int, vocabSize: Int): String =
    s"""SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(t.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(t.n_tokens) * 1000000 // sum(t.n_words) AS BIGINT)
       |    AS fertility_ppm
       |FROM (
       |${tokenizeBpeBytes(merges, vocabSize)}
       |) t JOIN (SELECT doc_id, coalesce(source, '') AS source
       |  FROM documents) s ON t.doc_id = s.doc_id
       |GROUP BY s.source""".stripMargin

  /** Mirror of CorpusOps.nbQualityEval: the per-doc NB scores rolled
    * into the per-true-class confusion row. */
  def nbQualityEval(vocabSize: Int): String =
    s"""SELECT is_seed, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(pred_seed) AS BIGINT) AS n_pred_seed,
       |  CAST(sum(CASE WHEN pred_seed = is_seed THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN pred_seed = is_seed THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) AS BIGINT) AS accuracy_ppm
       |FROM (
       |${nbQuality(vocabSize)}
       |) t GROUP BY is_seed""".stripMargin

  /** Mirror of CorpusOps.vocabCoverage: per-source OOV counts against
    * the same topK (tf, df, token)-ordered vocabulary. */
  def vocabCoverage(topK: Int): String =
    s"""WITH tok AS (SELECT doc_id, source,
       |  unnest(string_split(coalesce(text, ''), ' ')) AS token FROM documents),
       |v AS (SELECT token FROM (
       |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM tok GROUP BY token
       |  ORDER BY tf DESC, df DESC, token LIMIT $topK)),
       |j AS (SELECT tok.source, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM tok LEFT JOIN v ON tok.token = v.token)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(oov) AS BIGINT) AS n_oov,
       |  CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
       |FROM j GROUP BY source""".stripMargin

  /** Mirror of q_text_repetition: per-doc top-bigram share. The
    * comprehension over generate_series(1, len-1) is naturally empty
    * below 2 tokens (DuckDB's generate_series(1, 0) = []). */
  val textRepetition: String =
    s"""WITH tok AS (SELECT doc_id,
       |  string_split(coalesce(text, ''), ' ') AS t FROM documents),
       |b AS (SELECT doc_id,
       |  [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)] AS bg,
       |  GREATEST(len(t) - 1, 0) AS n_bigrams FROM tok),
       |e AS (SELECT doc_id, unnest(bg) AS g FROM b),
       |c AS (SELECT doc_id, g, count(*) AS n FROM e GROUP BY 1, 2),
       |m AS (SELECT doc_id, max(n) AS top_n FROM c GROUP BY 1)
       |SELECT b.doc_id, CAST(b.n_bigrams AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(m.top_n, 0) AS BIGINT) AS top_bigram_n,
       |  CAST(CASE WHEN b.n_bigrams = 0 THEN 0
       |    ELSE coalesce(m.top_n, 0) * 1000000 // b.n_bigrams END AS BIGINT)
       |    AS top_bigram_ppm
       |FROM b LEFT JOIN m USING (doc_id)""".stripMargin

  /** Mirror of CorpusOps.sampleBucket: 8-hex md5 prefix of
    * (key || salt), mod 1e6. */
  private def sampleBucketExpr(keyExpr: String, salt: String): String =
    s"CAST(('0x' || substr(md5(CAST($keyExpr AS VARCHAR) || '${salt.replace("'", "''")}')," +
      " 1, 8)) AS BIGINT) % 1000000"

  /** Mirror of CorpusOps.globalShuffle: one global row_number window
    * over (salted hash, doc_id) — fine at oracle scale; the Spark side
    * decomposes the same total order into the two-level prefix sum. */
  def globalShuffle(salt: String): String =
    s"""SELECT doc_id,
       |  CAST(row_number() OVER (
       |    ORDER BY ${sampleBucketExpr("doc_id", salt)}, doc_id) - 1 AS BIGINT) AS pos
       |FROM documents""".stripMargin

  /** Mirror of CorpusOps.curriculumOrder: distribution-derived
    * whole-class quality bands (floor(cum_above * nBands / n)), then
    * one global row_number window over (band, salted hash, doc_id). */
  def curriculumOrder(nBands: Int, salt: String): String =
    s"""WITH t AS (SELECT doc_id,
       |  string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |q AS (SELECT doc_id,
       |  CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS quality_ppm,
       |  ${sampleBucketExpr("doc_id", salt)} AS b FROM t),
       |c AS (SELECT quality_ppm, count(*) AS cnt FROM q GROUP BY 1),
       |bd AS (SELECT quality_ppm,
       |  coalesce(sum(cnt) OVER (ORDER BY quality_ppm DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * $nBands
       |    // sum(cnt) OVER () AS band FROM c)
       |SELECT q.doc_id, CAST(bd.band AS BIGINT) AS band,
       |  CAST(row_number() OVER (ORDER BY bd.band, q.b, q.doc_id) - 1 AS BIGINT) AS pos
       |FROM q JOIN bd ON q.quality_ppm = bd.quality_ppm""".stripMargin

  /** Mirror of CorpusOps.stratifiedSample over documents.lang. */
  def stratifiedSample(rates: Seq[(String, Long)], defaultPpm: Long, salt: String): String = {
    val cases = rates
      .map { case (v, ppm) => s"WHEN '${v.replace("'", "''")}' THEN $ppm" }
      .mkString(" ")
    s"""WITH b AS (SELECT doc_id, lang AS stratum,
       |  ${sampleBucketExpr("doc_id", salt)} AS sample_bucket FROM documents)
       |SELECT doc_id, stratum, sample_bucket FROM b
       |WHERE sample_bucket < CASE stratum $cases ELSE $defaultPpm END""".stripMargin
  }

  /** Mirror of CorpusOps.contamination: split labels from the q_split
    * hash, distinct 60-bit shingle hashes (the ShingleHashes
    * convention), df-capped postings, inverted-index join, exact
    * integer containment ppm. */
  def contamination(p: graft.text.CorpusOps.ContaminationParams): String = {
    val cases = p.cuts.init
      .map { case (n, hi) => s"WHEN bucket < $hi THEN '$n'" }.mkString(" ")
    s"""WITH $docsToks,
       |sp AS (SELECT doc_id, toks,
       |  CASE $cases ELSE '${p.cuts.last._1}' END AS split FROM (
       |    SELECT doc_id, toks,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |        % 1000000 AS bucket FROM d)),
       |sh AS (SELECT doc_id, split, list_distinct(list_transform(${shinglesExpr(p.shingleK)},
       |  s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS shs FROM sp),
       |posts AS (SELECT doc_id, split, CAST(len(shs) AS BIGINT) AS n_sh,
       |  unnest(shs) AS h FROM sh),
       |rare AS (SELECT h FROM posts GROUP BY h HAVING count(*) <= ${p.maxDf}),
       |kept AS (SELECT posts.* FROM posts JOIN rare USING (h)),
       |pairs AS (SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
       |    CAST(count(*) AS BIGINT) AS overlap, max(b.n_sh) AS bench_n
       |  FROM kept t JOIN kept b ON t.h = b.h
       |  WHERE t.split = '${p.corpusSplit}' AND b.split = '${p.benchSplit}'
       |  GROUP BY 1, 2)
       |SELECT train_id, bench_id, overlap,
       |  CAST(overlap * 1000000 // bench_n AS BIGINT) AS containment_ppm
       |FROM pairs WHERE overlap >= ${p.minOverlap}""".stripMargin
  }

  /** Mirror of CorpusOps.packSequences: the oracle computes the SAME
    * exclusive prefix sum with one global window — fine at oracle
    * scale; the Spark side's two-level bucket decomposition must be
    * invisible in the result. */
  def packSequences(ctxTokens: Long): String =
    s"""WITH d AS (SELECT doc_id,
       |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (SELECT doc_id, n_tokens,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset
       |  FROM d)
       |SELECT doc_id, n_tokens, start_offset,
       |  CAST(start_offset // $ctxTokens AS BIGINT) AS bin_idx
       |FROM p""".stripMargin

  /** Mirror of CorpusOps.bm25Rank: identical exact-integer saturation /
    * linear-idf / score formula, top-k on the same total order. */
  def bm25Rank(terms: Seq[String], k: Int): String = {
    def esc(t: String) = t.replace("'", "''")
    val tfCols = terms.indices.map(i =>
      s"CAST(len(list_filter(toks, x -> x = '${esc(terms(i))}')) AS BIGINT) AS tf_$i").mkString(",\n  ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(",\n  ")
    val score = terms.indices.map { i =>
      s"((CAST(1000000 AS BIGINT) * (n_docs - df_$i + 1) // (df_$i + 1)) * " +
        s"(CAST(44000000 AS BIGINT) * tf_$i * total_tokens // " +
        s"(20 * total_tokens * tf_$i + 6 * total_tokens + 18 * dl * n_docs)))"
    }.mkString(" + ")
    s"""WITH $docsToks,
       |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |  $tfCols
       |  FROM d),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS total_tokens,
       |  $dfCols
       |  FROM b),
       |sc AS (SELECT doc_id, dl, $score AS score FROM b, s)
       |SELECT doc_id, dl, score FROM sc WHERE score > 0
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Mirror of Dedup.minhashPairsAgainst over the hash split: new =
    * `newSplit` docs, old = `oldSplit` docs; asymmetric band join with
    * the old-side representative cap. */
  def incrementalPairs(p: MinHashParams, cuts: Seq[(String, Long)],
      oldSplit: String, newSplit: String): String =
    incrementalPairsMulti(p, cuts, Seq(oldSplit), newSplit)

  /** [[incrementalPairs]] with a multi-split old side — the oracle for
    * the appended signature index (old = original corpus ∪ appended
    * batches), computed from scratch over the union. */
  def incrementalPairsMulti(p: MinHashParams, cuts: Seq[(String, Long)],
      oldSplits: Seq[String], newSplit: String): String = {
    val cases = cuts.init
      .map { case (n, hi) => s"WHEN bucket < $hi THEN '$n'" }.mkString(" ")
    val oldIn = oldSplits.map(s => s"'$s'").mkString(", ")
    val matchSum = (0 until p.numHashes)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $docsToks,
       |${sigBandCtes(p)},
       |sp AS (SELECT doc_id,
       |  CASE $cases ELSE '${cuts.last._1}' END AS split FROM (
       |    SELECT doc_id,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |        % 1000000 AS bucket FROM d)),
       |nb AS (SELECT b.doc_id AS new_id, band_idx, band
       |  FROM bands0 b JOIN sp ON sp.doc_id = b.doc_id WHERE sp.split = '$newSplit'),
       |ob0 AS (SELECT b.doc_id AS old_id, band_idx, band
       |  FROM bands0 b JOIN sp ON sp.doc_id = b.doc_id WHERE sp.split IN ($oldIn)),
       |obw AS (SELECT old_id, band_idx, band,
       |    count(*) OVER (PARTITION BY band_idx, band) AS bn,
       |    min(old_id) OVER (PARTITION BY band_idx, band) AS bmin
       |  FROM ob0),
       |ob AS (SELECT old_id, band_idx, band FROM obw
       |  WHERE bn <= ${p.maxBucketSize} OR old_id = bmin),
       |cand AS (SELECT DISTINCT new_id, old_id
       |  FROM nb JOIN ob USING (band_idx, band)),
       |m AS (SELECT new_id, old_id, CAST($matchSum AS BIGINT) AS minhash_matches
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.new_id
       |  JOIN sig sb ON sb.doc_id = cand.old_id)
       |SELECT new_id, old_id, minhash_matches FROM m
       |WHERE minhash_matches >= ${p.minMatches}""".stripMargin
  }

  /** Mirror of Dedup.chunkDupes: same fixed-width token windows, same
    * md5 chunk hash; the canonical location via a window instead of
    * Spark's min(struct) — same global first occurrence. */
  def chunkDupes(w: Int): String =
    s"""WITH $docsToks,
       |c AS (SELECT doc_id,
       |  unnest(generate_series(0, (len(toks) + ${w - 1}) // $w - 1)) AS chunk_idx,
       |  toks FROM d),
       |ch AS (SELECT doc_id, chunk_idx,
       |  array_to_string(toks[chunk_idx * $w + 1 : chunk_idx * $w + $w], ' ') AS chunk
       |  FROM c),
       |h AS (SELECT md5(chunk) AS chunk_hash, doc_id, chunk_idx FROM ch),
       |g AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM h GROUP BY 1),
       |f AS (SELECT chunk_hash, doc_id AS keep_doc,
       |  CAST(chunk_idx AS BIGINT) AS keep_chunk FROM (
       |    SELECT h.*, row_number() OVER (PARTITION BY chunk_hash
       |      ORDER BY doc_id, chunk_idx) AS rn FROM h) WHERE rn = 1)
       |SELECT g.chunk_hash, n_copies, n_docs, keep_doc, keep_chunk
       |FROM g JOIN f USING (chunk_hash) WHERE n_copies > 1""".stripMargin

  /** Mirror of Dedup.cdcDupes: content-defined cut points (md5 of the
    * token ends in `zeroNibbles` zero hex digits), chunk ids by a
    * per-doc prefix sum over the cut flags, then chunkDupes' duplicate
    * aggregate with the same first-occurrence keep rule. */
  def cdcDupes(zeroNibbles: Int): String = {
    val zeros = "0" * zeroNibbles
    s"""WITH $docsToks,
       |t AS (SELECT doc_id, unnest(toks) AS token,
       |  unnest(generate_series(1, len(toks))) AS pos FROM d),
       |b AS (SELECT doc_id, pos, token,
       |  CASE WHEN substr(md5(token), ${33 - zeroNibbles}, $zeroNibbles)
       |    = '$zeros' THEN 1 ELSE 0 END AS cut FROM t),
       |cx AS (SELECT doc_id, pos, token,
       |  CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS chunk_idx FROM b),
       |ch AS (SELECT doc_id, chunk_idx,
       |  array_to_string(list(token ORDER BY pos), ' ') AS chunk
       |  FROM cx GROUP BY doc_id, chunk_idx),
       |h AS (SELECT md5(chunk) AS chunk_hash, doc_id, chunk_idx FROM ch),
       |g AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM h GROUP BY 1),
       |f AS (SELECT chunk_hash, doc_id AS keep_doc,
       |  CAST(chunk_idx AS BIGINT) AS keep_chunk FROM (
       |    SELECT h.*, row_number() OVER (PARTITION BY chunk_hash
       |      ORDER BY doc_id, chunk_idx) AS rn FROM h) WHERE rn = 1)
       |SELECT g.chunk_hash, n_copies, n_docs, keep_doc, keep_chunk
       |FROM g JOIN f USING (chunk_hash) WHERE n_copies > 1""".stripMargin
  }

  /** Mirror of Dedup.cdcDupesBytes: the same hex-string byte stream,
    * sliding-window md5 cut test, lag/row_number chunk ranges plus the
    * per-doc tail chunk, substring chunk hashes, and the duplicate
    * aggregate (keep via row_number — same global first occurrence as
    * the Spark pack). */
  def cdcDupesBytes(zeroNibbles: Int, window: Int): String = {
    val zeros = "0" * zeroNibbles
    val w2 = window * 2
    s"""WITH hx0 AS (SELECT doc_id, hex(coalesce(text, '')) AS hx
       |  FROM documents),
       |hd AS (SELECT doc_id, hx, CAST(len(hx) // 2 AS BIGINT) AS nb
       |  FROM hx0 WHERE len(hx) > 0),
       |p AS (SELECT doc_id,
       |  CAST(unnest(generate_series($window, nb)) AS BIGINT) AS i FROM hd),
       |c AS (SELECT p.doc_id, p.i FROM p JOIN hd USING (doc_id)
       |  WHERE substr(md5(substr(hd.hx, CAST((p.i - $window) * 2 + 1 AS INT), $w2)),
       |    ${33 - zeroNibbles}, $zeroNibbles) = '$zeros'),
       |r AS (SELECT doc_id,
       |    CAST(coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
       |      AS BIGINT) AS s,
       |    i AS e,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
       |      AS BIGINT) AS chunk_idx
       |  FROM c),
       |ca AS (SELECT doc_id, max(i) AS mx, CAST(count(*) AS BIGINT) AS ncuts
       |  FROM c GROUP BY 1),
       |tails AS (SELECT hd.doc_id, coalesce(ca.mx, 0) + 1 AS s, hd.nb AS e,
       |    coalesce(ca.ncuts, 0) AS chunk_idx
       |  FROM hd LEFT JOIN ca USING (doc_id)
       |  WHERE coalesce(ca.mx, 0) < hd.nb),
       |chunks AS (SELECT doc_id, s, e, chunk_idx FROM r
       |  UNION ALL SELECT doc_id, s, e, chunk_idx FROM tails),
       |h AS (SELECT chunks.doc_id, chunk_idx,
       |    md5(substr(hd.hx, CAST((s - 1) * 2 + 1 AS INT),
       |      CAST((e - s + 1) * 2 AS INT))) AS chunk_hash
       |  FROM chunks JOIN hd USING (doc_id)),
       |g AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM h GROUP BY 1),
       |f AS (SELECT chunk_hash, doc_id AS keep_doc,
       |  CAST(chunk_idx AS BIGINT) AS keep_chunk FROM (
       |    SELECT h.*, row_number() OVER (PARTITION BY chunk_hash
       |      ORDER BY doc_id, chunk_idx) AS rn FROM h) WHERE rn = 1)
       |SELECT g.chunk_hash, n_copies, n_docs, keep_doc, keep_chunk
       |FROM g JOIN f USING (chunk_hash) WHERE n_copies > 1""".stripMargin
  }

  /** Mirror of Dedup.removeBoilerplate: chunkDupes' chunking, df on
    * the chunk hash, surviving chunks reassembled in chunk order.
    * string_agg skips the CASE-NULLed boilerplate chunks; the coalesce
    * covers an all-boilerplate doc (Spark's concat_ws over an empty
    * collect_list is ''). */
  def removeBoilerplate(w: Int, maxDf: Int): String =
    s"""WITH $docsToks,
       |c AS (SELECT doc_id,
       |  unnest(generate_series(0, (len(toks) + ${w - 1}) // $w - 1)) AS chunk_idx,
       |  toks FROM d),
       |ch AS (SELECT doc_id, chunk_idx,
       |  array_to_string(toks[chunk_idx * $w + 1 : chunk_idx * $w + $w], ' ') AS chunk
       |  FROM c),
       |h AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS chunk_hash FROM ch),
       |b AS (SELECT chunk_hash, true AS bp FROM h GROUP BY 1
       |  HAVING count(DISTINCT doc_id) > $maxDf)
       |SELECT h.doc_id,
       |  coalesce(string_agg(CASE WHEN b.bp IS NULL THEN h.chunk END,
       |    ' ' ORDER BY h.chunk_idx), '') AS clean_text,
       |  CAST(count(b.bp) AS BIGINT) AS n_dropped
       |FROM h LEFT JOIN b USING (chunk_hash)
       |GROUP BY 1""".stripMargin

  /** Mirror of q_profile: per-column non-null and exact distinct
    * counts plus the table row count (count/count DISTINCT are BIGINT
    * in DuckDB — no cast needed, but kept explicit per COMPAT §7). */
  def profile(cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS "column", CAST(count($c) AS BIGINT) AS non_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_rows
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of TextFunctions.redactPii over the same deterministically
    * PII-augmented text (the synthetic corpus contains no organic PII,
    * so the query injects doc_id-derived email/phone/IP on BOTH
    * engines, then scrubs). Patterns come from the ONE shared list
    * (`TextFunctions.PiiPatterns`) — chosen to behave identically
    * under Java regex and RE2; replacement order mirrors the Spark
    * fold (emails first). DuckDB regexp_replace needs the 'g' flag for
    * global replace (Spark replaces all matches by default). */
  def redactPii: String = {
    val Seq((email, eTag), (phone, pTag), (ip, iTag)) =
      graft.text.TextFunctions.PiiPatterns
    s"""WITH a AS (SELECT doc_id,
       |  coalesce(text, '') || ' contact ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) ||
       |  '@example.com or 555-123-' || lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0') ||
       |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |  CAST(doc_id * 3 % 256 AS VARCHAR) || '.' || CAST(doc_id * 7 % 256 AS VARCHAR) AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$email')) +
       |    len(regexp_extract_all(aug, '$phone')) +
       |    len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_pii,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$email', '$eTag', 'g'), '$phone', '$pTag', 'g'), '$ip', '$iTag', 'g') AS redacted
       |FROM a""".stripMargin
  }

  /** Mirror of SparkEntry's q_text_nfc: the same per-doc_id injection
    * of decomposed/composed sequences, normalized with DuckDB's
    * `nfc_normalize` (utf8proc) against Spark's Java-Normalizer
    * expression — both UAX #15 NFC, proven byte-identical by the hash
    * gate. chr() codepoints, not string literals, so the SQL dump
    * can never be silently re-normalized by an editor/serializer. */
  def textNfc: String =
    s"""WITH a AS (SELECT doc_id,
       |  coalesce(text, '') || ' caf' ||
       |  ([ 'e' || chr(769), 'A' || chr(778), 'n' || chr(771),
       |     'o' || chr(776), chr(233) ])[CAST(doc_id % 5 AS INT) + 1] ||
       |  ' x' || chr(769) AS aug
       |  FROM documents)
       |SELECT doc_id, nfc_normalize(aug) AS text_nfc,
       |  CAST(length(aug) AS BIGINT) AS n_chars_raw,
       |  CAST(length(nfc_normalize(aug)) AS BIGINT) AS n_chars_nfc
       |FROM a""".stripMargin

  /** Mirror of CorpusOps.tokenizeToIds: same vocab total order for id
    * assignment, same md5-bucket OOV hashing, sequence rebuilt with an
    * ordered list aggregate. */
  def tokenizeToIds(vocabSize: Int, oovBuckets: Int): String =
    s"""WITH $docsToks,
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
       |vc AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM tok GROUP BY token ORDER BY tf DESC, df DESC, token LIMIT $vocabSize),
       |v AS (SELECT token,
       |  CAST(row_number() OVER (ORDER BY tf DESC, df DESC, token) - 1 AS BIGINT) AS id
       |  FROM vc),
       |t AS (SELECT doc_id, unnest(toks) AS token,
       |  unnest(generate_series(1, len(toks))) AS pos FROM d),
       |j AS (SELECT t.doc_id, t.pos,
       |  coalesce(v.id, $vocabSize +
       |    CAST(('0x' || substr(md5(t.token), 1, 8)) AS BIGINT) % $oovBuckets) AS id
       |  FROM t LEFT JOIN v USING (token))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  array_to_string(list(id ORDER BY pos), '_') AS ids_str
       |FROM j GROUP BY doc_id""".stripMargin

  /** Mirror of CorpusOps.kmvDistinctShingles: same 60-bit md5-prefix
    * hashes, same bottom-k rule, same (k-1)*2^60 // h_(k) estimate in
    * HUGEINT (the numerator exceeds BIGINT for k > 8). */
  def kmvDistinctShingles(k: Int, shingleK: Int): String = {
    val num = (BigInt(k - 1) << 60).toString
    s"""WITH $docsToks,
       |sh AS (SELECT lang AS stratum, ${shinglesExpr(shingleK)} AS shingles FROM d),
       |dh AS (SELECT DISTINCT stratum,
       |  unnest(list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h
       |  FROM sh),
       |ex AS (SELECT stratum, CAST(count(*) AS BIGINT) AS exact_distinct FROM dh GROUP BY 1),
       |sk AS (SELECT stratum, max(h) AS kth_min FROM (
       |    SELECT stratum, h, row_number() OVER (PARTITION BY stratum ORDER BY h) AS rn FROM dh)
       |  WHERE rn <= $k GROUP BY 1)
       |SELECT stratum, exact_distinct,
       |  CASE WHEN exact_distinct < $k THEN exact_distinct
       |       ELSE CAST(CAST('$num' AS HUGEINT) // kth_min AS BIGINT) END AS est_distinct
       |FROM ex JOIN sk USING (stratum)""".stripMargin
  }

  /** Mirror of CorpusOps.kmvSketchEstimate over the FULL corpus — the
    * persisted-partials lifecycle merges exactly, so the stored-sketch
    * query q_sketch_kmv_append is gated by this plain one-shot build
    * (n_sketch = min(k, distinct), no exact-distinct audit column). */
  def kmvSketchEstimate(k: Int, shingleK: Int): String = {
    val num = (BigInt(k - 1) << 60).toString
    s"""WITH $docsToks,
       |dh AS (SELECT DISTINCT lang AS stratum,
       |  unnest(list_transform(${shinglesExpr(shingleK)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h
       |  FROM d),
       |sk AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_sketch,
       |    max(h) AS kth_min
       |  FROM (SELECT stratum, h,
       |      row_number() OVER (PARTITION BY stratum ORDER BY h) AS rn FROM dh)
       |  WHERE rn <= $k GROUP BY 1)
       |SELECT stratum, n_sketch,
       |  CASE WHEN n_sketch < $k THEN n_sketch
       |       ELSE CAST(CAST('$num' AS HUGEINT) // kth_min AS BIGINT) END AS est_distinct
       |FROM sk""".stripMargin
  }

  /** Mirror of CorpusOps.hllDistinctShingles: same 60-bit hashes split
    * 6 register bits / 54 rank bits, same raw harmonic-mean estimate
    * as one HUGEINT integral division (the numerator 709*4096*2^55
    * exceeds BIGINT). bin() drops leading zeros in both engines, so
    * rho = 55 - length(bin(rem)) agrees bit-for-bit. */
  def hllDistinctShingles(shingleK: Int): String = {
    val num = (BigInt(709) * 4096 * (BigInt(1) << 55)).toString
    val twoPow55 = (BigInt(1) << 55).toString
    s"""WITH $docsToks,
       |sh AS (SELECT lang AS stratum,
       |  unnest(list_distinct(list_transform(${shinglesExpr(shingleK)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS h
       |  FROM d),
       |r AS (SELECT stratum, h >> 54 AS reg,
       |    CASE WHEN (h & ((CAST(1 AS BIGINT) << 54) - 1)) = 0 THEN 55
       |         ELSE 55 - length(bin(h & ((CAST(1 AS BIGINT) << 54) - 1))) END AS rho
       |  FROM sh),
       |m AS (SELECT stratum, reg, max(rho) AS mx FROM r GROUP BY 1, 2),
       |agg AS (SELECT stratum, CAST(count(*) AS BIGINT) AS present,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mx AS INT)) AS BIGINT) AS sp
       |  FROM m GROUP BY 1)
       |SELECT stratum, CAST(64 - present AS BIGINT) AS n_zero_regs,
       |  CAST(CAST('$num' AS HUGEINT)
       |    // (CAST(sp + (64 - present) * CAST('$twoPow55' AS BIGINT) AS HUGEINT) * 1000)
       |    AS BIGINT) AS est_distinct
       |FROM agg""".stripMargin
  }

  /** Mirror of CorpusOps.kmvSetOps: per-stratum bottom-k sketches,
    * pairwise union sketch = bottom-k of the merged hash sets,
    * membership flags -> k_inter, same HUGEINT estimates. */
  def kmvSetOps(k: Int, shingleK: Int): String = {
    val num = (BigInt(k - 1) << 60).toString
    s"""WITH $docsToks,
       |dh AS (SELECT DISTINCT lang AS stratum,
       |  unnest(list_transform(${shinglesExpr(shingleK)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS h
       |  FROM d),
       |sk AS (SELECT stratum, h FROM (
       |    SELECT stratum, h, row_number() OVER (PARTITION BY stratum ORDER BY h) AS rn
       |    FROM dh)
       |  WHERE rn <= $k),
       |st AS (SELECT DISTINCT stratum FROM sk),
       |pairs AS (SELECT a.stratum AS sa, b.stratum AS sb
       |  FROM st a, st b WHERE a.stratum < b.stratum),
       |uni AS (SELECT p.sa, p.sb, s.h,
       |    max(CASE WHEN s.stratum = p.sa THEN 1 ELSE 0 END) AS in_a,
       |    max(CASE WHEN s.stratum = p.sb THEN 1 ELSE 0 END) AS in_b
       |  FROM pairs p JOIN sk s ON s.stratum IN (p.sa, p.sb)
       |  GROUP BY 1, 2, 3),
       |botk AS (SELECT * FROM (
       |    SELECT sa, sb, h, in_a, in_b,
       |      row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |    FROM uni)
       |  WHERE rn <= $k),
       |res AS (SELECT sa AS stratum_a, sb AS stratum_b,
       |    CAST(count(*) AS BIGINT) AS nk, max(h) AS kth,
       |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS k_inter
       |  FROM botk GROUP BY 1, 2),
       |ue AS (SELECT *,
       |    CASE WHEN nk < $k THEN nk
       |         ELSE CAST(CAST('$num' AS HUGEINT) // kth AS BIGINT) END AS union_est
       |  FROM res)
       |SELECT stratum_a, stratum_b, union_est, k_inter,
       |  k_inter * 1000000 // nk AS jaccard_ppm,
       |  CAST(CAST(k_inter AS HUGEINT) * union_est // nk AS BIGINT) AS inter_est
       |FROM ue""".stripMargin
  }

  /** Mirror of CorpusOps.weightedSample: the packSequences global
    * prefix sum plus the systematic-pick count
    * floor((start+n)/stride) - floor(start/stride). */
  def weightedSample(stride: Long): String =
    s"""WITH d AS (SELECT doc_id,
       |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (SELECT doc_id, n_tokens,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset
       |  FROM d)
       |SELECT doc_id, n_tokens, start_offset,
       |  (start_offset + n_tokens) // $stride - start_offset // $stride AS n_picks
       |FROM p
       |WHERE (start_offset + n_tokens) // $stride - start_offset // $stride >= 1""".stripMargin

  /** Mirror of CorpusOps.bloomDecontaminate: same split hash, same two
    * probe bits (h % m, (h >> 30) % m), same bit_or word bitset, same
    * left-join probe (unset word = 0), false positives reproduced
    * bit-for-bit. Masks are HUGEINT because DuckDB's BIGINT `<< 63`
    * raises overflow (Spark's shiftleft wraps); the words never leave
    * the CTE, and `(bits & mask) != 0` is sign-agnostic, so the hit
    * flags agree with Spark's negative-Long word encoding. */
  def bloomDecontaminate(words: Int, p: graft.text.CorpusOps.ContaminationParams): String = {
    val mBits = words * 64L
    val cases = p.cuts.init
      .map { case (n, hi) => s"WHEN bucket < $hi THEN '$n'" }.mkString(" ")
    s"""WITH $docsToks,
       |sp AS (SELECT doc_id, toks,
       |  CASE $cases ELSE '${p.cuts.last._1}' END AS split FROM (
       |    SELECT doc_id, toks,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |        % 1000000 AS bucket FROM d)),
       |sh AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
       |  ${shinglesExpr(p.shingleK)},
       |  s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS h FROM sp),
       |bbit AS (SELECT DISTINCT unnest([h % $mBits, (h >> 30) % $mBits]) AS bit
       |  FROM sh WHERE split = '${p.benchSplit}'),
       |wds AS (SELECT bit // 64 AS word,
       |    bit_or(CAST(1 AS HUGEINT) << CAST(bit % 64 AS INT)) AS bits
       |  FROM bbit GROUP BY 1),
       |tr AS (SELECT doc_id, h % $mBits AS b1, (h >> 30) % $mBits AS b2
       |  FROM sh WHERE split = '${p.corpusSplit}'),
       |probe AS (SELECT t.doc_id,
       |    CASE WHEN (coalesce(w1.bits, CAST(0 AS HUGEINT)) & (CAST(1 AS HUGEINT) << CAST(t.b1 % 64 AS INT))) != 0
       |          AND (coalesce(w2.bits, CAST(0 AS HUGEINT)) & (CAST(1 AS HUGEINT) << CAST(t.b2 % 64 AS INT))) != 0
       |      THEN 1 ELSE 0 END AS hit
       |  FROM tr t
       |  LEFT JOIN wds w1 ON w1.word = t.b1 // 64
       |  LEFT JOIN wds w2 ON w2.word = t.b2 // 64)
       |SELECT doc_id AS train_id, CAST(count(*) AS BIGINT) AS n_sh,
       |  CAST(sum(hit) AS BIGINT) AS n_hits
       |FROM probe GROUP BY 1 HAVING sum(hit) >= 1""".stripMargin
  }

  /** Mirror of CorpusOps.cmsTokenCounts: same salted 8-hex md5 bucket
    * (`r:token`), same min-over-rows estimate, same (cnt desc, token)
    * topN pick. sum(BIGINT) widens to HUGEINT — cast back. */
  def cmsTokenCounts(depth: Int, width: Int, topN: Int): String =
    cmsTokenCountsWhere(depth, width, topN, "1 = 1")

  /** Survivor-corpus CMS for the deletion-lifecycle gate: the oracle
    * never sees the delete path — it builds from scratch over the rows
    * passing `pred`, the same from-scratch-over-survivors convention
    * as [[lmSurprisalCountsWhere]]. */
  def cmsTokenCountsWhere(depth: Int, width: Int, topN: Int,
      pred: String): String =
    s"""WITH tok AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS token
       |  FROM documents WHERE $pred),
       |counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
       |rws AS (SELECT r FROM range($depth) t(r)),
       |bk AS (SELECT r,
       |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT)
       |      % $width AS b,
       |    cnt FROM counts, rws),
       |sketch AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS cms FROM bk GROUP BY r, b),
       |top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT $topN),
       |eb AS (SELECT token, cnt, r,
       |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT)
       |      % $width AS b
       |  FROM top, rws),
       |j AS (SELECT eb.token, eb.cnt, s.cms FROM eb
       |  JOIN sketch s ON s.r = eb.r AND s.b = eb.b)
       |SELECT token, cnt AS true_cnt, min(cms) AS cms_est
       |FROM j GROUP BY token, cnt""".stripMargin

  /** Mirror of CorpusOps.domainStats: per-source aggregates + the
    * lower discrete median via the same row_number rule. */
  val domainStats: String =
    s"""WITH d AS (SELECT source, lang,
       |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM d GROUP BY 1),
       |m AS (SELECT source, n_tokens AS median_tokens FROM (
       |    SELECT source, n_tokens,
       |      row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn,
       |      count(*) OVER (PARTITION BY source) AS cnt FROM d)
       |  WHERE rn = (cnt + 1) // 2)
       |SELECT source, n_docs, total_tokens, n_langs, median_tokens
       |FROM a JOIN m USING (source)""".stripMargin

  /** Mirror of CorpusOps.chunkWindows: same start grid (1, 1+stride,
    * ... capped at max(n-win+1, 1), cap appended when off-grid), same
    * arithmetic chunk_idx, 1-based inclusive list slicing. */
  def chunkWindows(win: Int, stride: Int): String =
    s"""WITH d AS (SELECT doc_id,
       |  string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, toks,
       |  greatest(len(toks) - $win + 1, 1) AS last_start FROM d),
       |st AS (SELECT doc_id, toks, CASE WHEN ((last_start - 1) % $stride) = 0
       |  THEN range(1, last_start + 1, $stride)
       |  ELSE list_append(range(1, last_start + 1, $stride), last_start) END AS starts
       |  FROM s),
       |e AS (SELECT doc_id, toks, unnest(starts) AS start FROM st)
       |SELECT doc_id,
       |  CAST((start + $stride - 2) // $stride AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(len(toks[start:start + $win - 1]) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(toks[start:start + $win - 1], ' ') AS chunk_text
       |FROM e""".stripMargin

  /** Shared CTE chain for CorpusOps.mixtureWeights/mixtureSample:
    * alpha=1/2 mixture via the same floor(sqrt(double)) integer sqrt;
    * sums cast back to BIGINT because DuckDB widens sum(BIGINT) to
    * HUGEINT. Ends in `mixw(source, total_tokens, raw_ppm,
    * weight_ppm, boost_ppm)`. */
  private val mixtureCtes: String =
    s"""d AS (SELECT source,
       |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |per AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |  FROM d GROUP BY 1),
       |isq_t AS (SELECT source, total_tokens,
       |  CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT) AS isq FROM per),
       |tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS sum_tok,
       |  CAST(sum(isq) AS BIGINT) AS sum_isq FROM isq_t),
       |w AS (SELECT source, total_tokens,
       |  total_tokens * 1000000 // sum_tok AS raw_ppm,
       |  isq * 1000000 // sum_isq AS weight_ppm
       |  FROM isq_t, tot),
       |mixw AS (SELECT source, total_tokens, raw_ppm, weight_ppm,
       |  weight_ppm * 1000000 // greatest(raw_ppm, 1) AS boost_ppm FROM w)""".stripMargin

  /** Mirror of CorpusOps.mixtureWeights. */
  val mixtureWeights: String =
    s"""WITH $mixtureCtes
       |SELECT source, total_tokens, raw_ppm, weight_ppm, boost_ppm FROM mixw""".stripMargin

  /** Mirror of CorpusOps.mixtureSample: per-source keep rate =
    * boost / max(boost), selection by the shared salted hash bucket. */
  def mixtureSample(salt: String): String =
    s"""WITH $mixtureCtes,
       |mx AS (SELECT CAST(max(boost_ppm) AS BIGINT) AS max_boost FROM mixw),
       |rates AS (SELECT source, boost_ppm * 1000000 // max_boost AS keep_ppm
       |  FROM mixw, mx)
       |SELECT doc_id, source, keep_ppm
       |FROM documents JOIN rates USING (source)
       |WHERE ${sampleBucketExpr("doc_id", salt)} < keep_ppm""".stripMargin

  /** Shared CTE chain: shingles -> base hash per shingle (one md5) ->
    * h0..hN affine-family signature -> exploded bands -> distinct
    * candidate pairs, where in-cap buckets self-join all pairs and
    * over-cap buckets emit the star to the bucket's min doc_id (the
    * cap/star rule that Dedup.bucketPairs implements as one window
    * pass for every Spark-side consumer). Mirrors
    * Dedup.shingleBaseHashes / signatureFromBase exactly (same md5
    * base, same (a*h + b) mod 2^31-1 family). */
  /** docs -> shingles -> signatures -> exploded per-band rows
    * (`bands0(doc_id, band_idx, band)`) — shared by the all-pairs
    * chain ([[sigCandCtes]]) and the incremental chain
    * ([[incrementalPairs]]). */
  private def sigBandCtes(p: MinHashParams): String = {
    val P = graft.dedup.Dedup.HashP
    val hs = (0 until p.numHashes).map { i =>
      val (a, b) = graft.dedup.Dedup.hashCoef(i)
      s"  list_min(list_transform(bh, h -> (h * $a + $b) % $P)) AS h$i"
    }.mkString(",\n")
    val bandRows = (0 until p.bands).map { j =>
      val parts = (0 until p.rowsPerBand)
        .map(r => s"CAST(h${j * p.rowsPerBand + r} AS VARCHAR)").mkString(" || '_' || ")
      if (j == 0) s"  SELECT doc_id, 0 AS band_idx, $parts AS band FROM sig"
      else s"  UNION ALL SELECT doc_id, $j, $parts FROM sig"
    }.mkString("\n")
    s"""sh AS (SELECT doc_id, ${shinglesExpr(p.shingleK)} AS shingles FROM d),
       |bhs AS (SELECT doc_id, shingles, list_transform(shingles,
       |  s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % $P) AS bh FROM sh),
       |sig AS (SELECT doc_id,
       |$hs
       |FROM bhs),
       |bands0 AS (
       |$bandRows)""".stripMargin
  }

  private def sigCandCtes(p: MinHashParams): String = {
    s"""${sigBandCtes(p)},
       |bands AS (SELECT doc_id, band_idx, band,
       |    count(*) OVER (PARTITION BY band_idx, band) AS bucket_n,
       |    min(doc_id) OVER (PARTITION BY band_idx, band) AS bucket_min
       |  FROM bands0),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bands a JOIN bands b
       |      ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
       |    WHERE a.bucket_n <= ${p.maxBucketSize}
       |  UNION ALL
       |  SELECT bucket_min AS doc_a, doc_id AS doc_b FROM bands
       |    WHERE bucket_n > ${p.maxBucketSize} AND doc_id > bucket_min))""".stripMargin
  }

  /** docs -> tokens -> signatures -> candidates -> signature-match
    * counts: the full MinHash pair pipeline as a CTE chain ending in
    * `m(doc_a, doc_b, minhash_matches)` — shared by [[minhashPairs]]
    * and [[dedupClusters]]. */
  private def minhashPairCtes(p: MinHashParams): String = {
    val matchSum = (0 until p.numHashes)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$docsToks,
       |${sigCandCtes(p)},
       |m AS (SELECT doc_a, doc_b, CAST($matchSum AS BIGINT) AS minhash_matches
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.doc_a
       |  JOIN sig sb ON sb.doc_id = cand.doc_b)""".stripMargin
  }

  def minhashPairs(p: MinHashParams): String =
    s"""WITH ${minhashPairCtes(p)}
       |SELECT doc_a, doc_b, minhash_matches FROM m
       |WHERE minhash_matches >= ${p.minMatches}""".stripMargin

  /** The same full pipeline over a RESTRICTED corpus (`pred` over
    * documents' columns) — the oracle of the DELETION lifecycle
    * (q_dedup_delete): the from-scratch pair graph over the SURVIVING
    * documents, computed without ever seeing the delete verb. */
  private def minhashPairCtesPred(p: MinHashParams, pred: String): String = {
    val matchSum = (0 until p.numHashes)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""d AS (SELECT doc_id, lang, text, string_split(coalesce(text, ''), ' ') AS toks
       |  FROM documents WHERE $pred),
       |${sigCandCtes(p)},
       |m AS (SELECT doc_a, doc_b, CAST($matchSum AS BIGINT) AS minhash_matches
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.doc_a
       |  JOIN sig sb ON sb.doc_id = cand.doc_b)""".stripMargin
  }

  /** [[minhashPairs]] over the documents satisfying `pred`. */
  def minhashPairsWhere(p: MinHashParams, pred: String): String =
    s"""WITH ${minhashPairCtesPred(p, pred)}
       |SELECT doc_a, doc_b, minhash_matches FROM m
       |WHERE minhash_matches >= ${p.minMatches}""".stripMargin

  /** Mirror of GraphRank.pageRank over the MinHash pair graph:
    * symmetrized edges + outdegrees, then `iters` unrolled power
    * iterations in exact integer math (divide-before-sum makes each
    * contribution order-independent; HUGEINT intermediates cast back
    * to BIGINT at the end — docs/COMPAT.md convention). */
  def graphRank(p: MinHashParams, iters: Int): String = {
    val scale = 1000000000000L
    val base = scale * 15 / 100
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS doc_id, sum(r${k - 1}.r // e.outdeg) AS c
         |  FROM ed e JOIN r${k - 1} ON r${k - 1}.doc_id = e.src GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT n.doc_id, $base + 85 * coalesce(c$k.c, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN c$k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION ALL SELECT doc_b, doc_a FROM pr),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
       |nodes AS (SELECT doc_id FROM documents),
       |r0 AS (SELECT doc_id, CAST($scale AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT doc_id, CAST(r AS BIGINT) AS rank_e12 FROM r$iters""".stripMargin
  }

  /** Mirror of GraphRank.pageRankPersonalized: same unrolled
    * iterations, but teleport mass and initial rank go only to nodes
    * satisfying `seedSql` (a predicate over `n.doc_id`). */
  def graphRankPersonalized(p: MinHashParams, iters: Int,
      seedSql: String): String = {
    val scale = 1000000000000L
    val base = scale * 15 / 100
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS doc_id, sum(r${k - 1}.r // e.outdeg) AS c
         |  FROM ed e JOIN r${k - 1} ON r${k - 1}.doc_id = e.src GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT n.doc_id,
         |    (CASE WHEN $seedSql THEN $base ELSE 0 END) +
         |    85 * coalesce(c$k.c, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN c$k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION ALL SELECT doc_b, doc_a FROM pr),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
       |nodes AS (SELECT doc_id FROM documents),
       |r0 AS (SELECT n.doc_id,
       |  CAST(CASE WHEN $seedSql THEN $scale ELSE 0 END AS BIGINT) AS r
       |  FROM nodes n),
       |$iterCtes
       |SELECT doc_id, CAST(r AS BIGINT) AS rank_e12 FROM r$iters""".stripMargin
  }

  /** Mirror of GraphRank.pageRankWeighted over the MinHash pair
    * graph with the match count as the edge weight: symmetrized
    * weighted edges + per-src total out-weight, then `iters` unrolled
    * power iterations where each edge carries (r·w) // Σw —
    * divide-before-sum, bit-for-bit like the unweighted mirror. */
  def graphRankWeighted(p: MinHashParams, iters: Int): String = {
    val scale = 1000000000000L
    val base = scale * 15 / 100
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS doc_id,
         |    sum((r${k - 1}.r * e.w) // e.sumw) AS c
         |  FROM ed e JOIN r${k - 1} ON r${k - 1}.doc_id = e.src GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT n.doc_id, $base + 85 * coalesce(c$k.c, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN c$k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b, minhash_matches AS w FROM m
       |  WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst, w FROM pr
       |  UNION ALL SELECT doc_b, doc_a, w FROM pr),
       |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sumw FROM edges GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, e.w, s.sumw FROM edges e JOIN sw s USING (src)),
       |nodes AS (SELECT doc_id FROM documents),
       |r0 AS (SELECT doc_id, CAST($scale AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT doc_id, CAST(r AS BIGINT) AS rank_e12 FROM r$iters""".stripMargin
  }

  /** Mirror of Triangles.perNode over the MinHash pair graph: the
    * naive id-ordered 3-way self-join enumerates each triangle once
    * (x < y < z since pairs are canonical doc_a < doc_b), then
    * per-node counts by unioning the three corners — same result set
    * as the engine's degree-oriented enumeration, which only changes
    * WHICH corner finds each triangle. */
  def graphTriangles(p: MinHashParams): String =
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |tri AS (SELECT p1.doc_a AS x, p1.doc_b AS y, p2.doc_b AS z
       |  FROM pr p1
       |  JOIN pr p2 ON p2.doc_a = p1.doc_b
       |  JOIN pr p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
       |tn AS (SELECT x AS doc_id FROM tri UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM tn GROUP BY 1""".stripMargin

  /** Mirror of Triangles.clustering: the triangle counts left-joined
    * onto per-node degrees, cc_ppm = 2·n_tri·10⁶ // (deg·(deg−1)). */
  def graphClustering(p: MinHashParams): String =
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |tri AS (SELECT p1.doc_a AS x, p1.doc_b AS y, p2.doc_b AS z
       |  FROM pr p1
       |  JOIN pr p2 ON p2.doc_a = p1.doc_b
       |  JOIN pr p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
       |tn AS (SELECT x AS doc_id FROM tri UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri),
       |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM tn GROUP BY 1),
       |dg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM
       |  (SELECT doc_a AS doc_id FROM pr UNION ALL SELECT doc_b FROM pr)
       |  GROUP BY 1)
       |SELECT dg.doc_id, dg.degree, coalesce(tc.n_tri, 0) AS n_tri,
       |  CAST(CASE WHEN dg.degree < 2 THEN 0
       |    ELSE coalesce(tc.n_tri, 0) * 2000000 // (dg.degree * (dg.degree - 1))
       |  END AS BIGINT) AS cc_ppm
       |FROM dg LEFT JOIN tc USING (doc_id)""".stripMargin

  /** Mirror of LabelProp.communities over the MinHash pair graph:
    * `iters` unrolled synchronous rounds; each round counts neighbor
    * labels per node UNION ALL one self-vote (the previous label
    * frame itself — which also carries isolated nodes through), and
    * adopts the plurality label (ties to the smallest) via the same
    * packed-long max the engine uses — max(cnt·P + (P−1−label)),
    * label recovered as P−1−(m % P), P=2^32 — so the argmax is
    * order-independent in both engines. */
  def graphLabelProp(p: MinHashParams, iters: Int): String = {
    val pk = 1L << 32
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT dst, label, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT e.dst, l.label FROM edges e JOIN l${k - 1} l ON l.doc_id = e.src
         |    UNION ALL SELECT doc_id, label FROM l${k - 1}
         |  ) GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT dst AS doc_id,
         |    ${pk - 1} - (max(cnt * $pk + (${pk - 1} - label)) % $pk) AS label
         |  FROM c$k GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION ALL SELECT doc_b, doc_a FROM pr),
       |l0 AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS label FROM documents),
       |$iterCtes
       |SELECT doc_id, CAST(label AS BIGINT) AS community FROM l$iters""".stripMargin
  }

  /** Mirror of LabelProp.communitiesConverged — an ITERATE-UNTIL-
    * CONVERGED computation gated in pure SQL: the same unrolled LP
    * rounds as [[graphLabelProp]] up to the `cap`, a per-round
    * changed-labels count, and a STOP-ROUND SELECTOR — the result is
    * round min{k : changed_k = 0} (the zero-diff confirmation round,
    * whose labels equal round k−1's by definition), or round `cap`
    * when no round converged (exactly the Spark loop's cap
    * semantics). The unroll bounds the replay at `cap` rounds, so
    * the oracle is a pure function like every other; the engines
    * must agree on WHICH round is the stop round and on its labels —
    * both are part of the hash. */
  def graphLabelPropConverged(p: MinHashParams, cap: Int): String = {
    val pk = 1L << 32
    val iterCtes = (1 to cap).map { k =>
      s"""c$k AS (SELECT dst, label, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT e.dst, l.label FROM edges e JOIN l${k - 1} l ON l.doc_id = e.src
         |    UNION ALL SELECT doc_id, label FROM l${k - 1}
         |  ) GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT dst AS doc_id,
         |    ${pk - 1} - (max(cnt * $pk + (${pk - 1} - label)) % $pk) AS label
         |  FROM c$k GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val allRounds = (0 to cap)
      .map(k => s"SELECT CAST($k AS BIGINT) AS k, doc_id, label FROM l$k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION ALL SELECT doc_b, doc_a FROM pr),
       |l0 AS MATERIALIZED (SELECT doc_id, CAST(doc_id AS BIGINT) AS label
       |  FROM documents),
       |$iterCtes,
       |alll AS ($allRounds),
       |chg AS (SELECT a.k AS k,
       |    CAST(count(*) FILTER (WHERE a.label != b.label) AS BIGINT) AS n
       |  FROM alll a JOIN alll b ON b.doc_id = a.doc_id AND b.k = a.k - 1
       |  WHERE a.k >= 1 GROUP BY 1),
       |stopk AS (SELECT coalesce(min(k) FILTER (WHERE n = 0),
       |    CAST($cap AS BIGINT)) AS k FROM chg)
       |SELECT doc_id, CAST(label AS BIGINT) AS community FROM alll
       |WHERE k = (SELECT k FROM stopk)""".stripMargin
  }

  /** Mirror of LabelProp.convergence: the same unrolled LP rounds as
    * [[graphLabelProp]], then one (iter, n_changed) row per round —
    * the count of nodes whose label differs from the previous
    * round's. */
  def graphLabelPropConverge(p: MinHashParams, iters: Int): String = {
    val pk = 1L << 32
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT dst, label, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT e.dst, l.label FROM edges e JOIN l${k - 1} l ON l.doc_id = e.src
         |    UNION ALL SELECT doc_id, label FROM l${k - 1}
         |  ) GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT dst AS doc_id,
         |    ${pk - 1} - (max(cnt * $pk + (${pk - 1} - label)) % $pk) AS label
         |  FROM c$k GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val diffs = (1 to iters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter, CAST(count(*) AS BIGINT) AS n_changed
         |FROM l$k a JOIN l${k - 1} b ON a.doc_id = b.doc_id
         |WHERE a.label != b.label""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION ALL SELECT doc_b, doc_a FROM pr),
       |l0 AS MATERIALIZED (SELECT doc_id, CAST(doc_id AS BIGINT) AS label
       |  FROM documents),
       |$iterCtes
       |$diffs""".stripMargin
  }

  /** Mirror of LabelProp.modularity: the LP labels of
    * [[graphLabelProp]] rolled into per-community exact-integer
    * modularity numerators 4·m·e_c − K_c² (Q = Σ mod_num / 4m²,
    * division left to the reader so the gate stays integer-exact). */
  def graphModularity(p: MinHashParams, iters: Int): String = {
    val pk = 1L << 32
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT dst, label, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT e.dst, l.label FROM edges e JOIN l${k - 1} l ON l.doc_id = e.src
         |    UNION ALL SELECT doc_id, label FROM l${k - 1}
         |  ) GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT dst AS doc_id,
         |    ${pk - 1} - (max(cnt * $pk + (${pk - 1} - label)) % $pk) AS label
         |  FROM c$k GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(p)},
       |pr AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |ab AS MATERIALIZED (SELECT DISTINCT least(doc_a, doc_b) AS u,
       |    greatest(doc_a, doc_b) AS v FROM pr
       |  WHERE least(doc_a, doc_b) != greatest(doc_a, doc_b)),
       |edges AS (SELECT u AS src, v AS dst FROM ab
       |  UNION ALL SELECT v, u FROM ab),
       |l0 AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS label FROM documents),
       |$iterCtes,
       |lab AS MATERIALIZED (SELECT doc_id, CAST(label AS BIGINT) AS community
       |  FROM l$iters),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM ab UNION ALL SELECT v FROM ab
       |  ) GROUP BY 1),
       |mtot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ab),
       |intra AS (SELECT lu.community, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM ab JOIN lab lu ON lu.doc_id = ab.u
       |  JOIN lab lv ON lv.doc_id = ab.v
       |  WHERE lu.community = lv.community GROUP BY 1),
       |kc AS (SELECT lab.community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(coalesce(sum(deg.deg), 0) AS BIGINT) AS degree_sum
       |  FROM lab LEFT JOIN deg ON deg.node = lab.doc_id GROUP BY 1)
       |SELECT kc.community, kc.n_nodes, kc.degree_sum,
       |  CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
       |  CAST(4 * mtot.m * coalesce(intra.intra_edges, 0)
       |    - kc.degree_sum * kc.degree_sum AS BIGINT) AS mod_num
       |FROM kc CROSS JOIN mtot
       |LEFT JOIN intra ON intra.community = kc.community""".stripMargin
  }

  /** Transitive closure of the MinHash pair graph as CTEs ending in
    * `comp(id, lbl)` — a recursive CTE floods every node's id along
    * the (symmetrized) edges; each node keeps the minimum id that
    * reached it = its component's canonical id. Shared by
    * [[dedupClusters]] and [[pipeline]]; the enclosing WITH must be
    * RECURSIVE. */
  private def closureCtes(p: MinHashParams): String =
    s"""prs AS (SELECT doc_a, doc_b FROM m WHERE minhash_matches >= ${p.minMatches}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |reach AS (
       |  SELECT src AS id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS id, r.lbl AS lbl FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)""".stripMargin

  /** Mirror of Dedup.clusters, computed INDEPENDENTLY of the Spark
    * label-propagation loop via [[closureCtes]]. Docs in no pair are
    * their own canonical; cluster_size counts every member. */
  def dedupClusters(p: MinHashParams): String =
    s"""WITH RECURSIVE ${minhashPairCtes(p)},
       |${closureCtes(p)},
       |assigned AS (SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS canonical_id
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT doc_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM assigned""".stripMargin

  /** [[dedupClusters]] over the documents satisfying `pred` — the
    * oracle of q_dedup_clusters_delete: the recursive-CTE closure over
    * the SURVIVING corpus only (the `d` CTE is already restricted, so
    * `assigned` resolves from it instead of raw documents). */
  def dedupClustersWhere(p: MinHashParams, pred: String): String =
    s"""WITH RECURSIVE ${minhashPairCtesPred(p, pred)},
       |${closureCtes(p)},
       |assigned AS (SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS canonical_id
       |  FROM d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT doc_id, canonical_id,
       |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM assigned""".stripMargin

  /** Mirror of Dedup.clustersBest: per-cluster keeper = argmax
    * quality_ppm (type-token ratio, exact integer ppm), ties broken by
    * MIN doc_id. Computed via an explicit row_number so the tie-break
    * is deterministic (DuckDB's arg_max is not on ties). */
  def dedupClustersBest(p: MinHashParams): String =
    s"""WITH RECURSIVE ${minhashPairCtes(p)},
       |${closureCtes(p)},
       |assigned AS (SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS canonical_id,
       |  CAST(len(list_distinct(d.toks)) * 1000000 // len(d.toks) AS BIGINT) AS q
       |  FROM d LEFT JOIN comp c ON c.id = d.doc_id),
       |sized AS (SELECT *,
       |  CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS cluster_size,
       |  row_number() OVER (PARTITION BY canonical_id ORDER BY q DESC, doc_id ASC) AS rn
       |  FROM assigned)
       |SELECT canonical_id, doc_id AS keep_id, q AS keep_quality_ppm, cluster_size
       |FROM sized WHERE rn = 1""".stripMargin

  /** Mirror of CorpusOps.rarityScore: exact mean inverse document
    * frequency in ppm. */
  val rarityScore: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(string_split(coalesce(text, ''), ' ')) AS token FROM documents),
      |dfreq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM tok GROUP BY token),
      |j AS (SELECT t.doc_id, 1000000 // dfreq.df AS inv
      |  FROM tok t JOIN dfreq USING (token))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(CAST(sum(inv) AS BIGINT) // count(*) AS BIGINT) AS rarity_ppm
      |FROM j GROUP BY doc_id""".stripMargin

  /** Mirror of CorpusOps.domainCap: deterministic per-source top-k by
    * salted hash order. */
  def domainCap(maxPerDomain: Int, salt: String): String =
    s"""WITH b AS (SELECT doc_id, source,
       |  ${sampleBucketExpr("doc_id", salt)} AS bk FROM documents),
       |r AS (SELECT doc_id, source,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY bk, doc_id) AS BIGINT)
       |    AS pick_rank FROM b)
       |SELECT doc_id, source, pick_rank FROM r
       |WHERE pick_rank <= $maxPerDomain""".stripMargin

  /** Mirror of CorpusOps.tokenBudget: the oracle computes the SAME
    * exclusive per-source running total with one window per source —
    * fine at oracle scale; the Spark side's two-level bucket
    * decomposition must be invisible in the result. */
  def tokenBudget(budgetTokens: Long, salt: String): String =
    s"""WITH d AS (SELECT doc_id, source,
       |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens,
       |  ${sampleBucketExpr("doc_id", salt)} AS bk FROM documents),
       |p AS (SELECT doc_id, source, n_tokens,
       |  CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY source
       |    ORDER BY bk, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before
       |  FROM d)
       |SELECT doc_id, source, n_tokens, cum_before FROM p
       |WHERE cum_before < $budgetTokens""".stripMargin

  /** Mirror of Dedup.substrPairs, with the winnowing selection
    * recomputed INDEPENDENTLY: instead of the Spark side's native
    * run-length scan, the oracle enumerates the a + b = w - 1 window
    * decompositions over per-doc lag/lead window minima — same
    * value-based rule, different formulation, so a selection bug in
    * either engine surfaces as a mismatch. */
  def substrPairs(p: graft.dedup.Dedup.SubstrParams): String = {
    val lagCols = (1 until p.w).map(a =>
      s"min(h) OVER (PARTITION BY doc_id ORDER BY off ROWS BETWEEN $a PRECEDING AND 1 PRECEDING) AS lm$a")
    val leadCols = (1 until p.w).map(b =>
      s"min(h) OVER (PARTITION BY doc_id ORDER BY off ROWS BETWEEN 1 FOLLOWING AND $b FOLLOWING) AS rm$b")
    val winCols = (lagCols ++ leadCols).mkString(",\n  ")
    val anchorCond = (0 until p.w).map { a =>
      val b = p.w - 1 - a
      val left = if (a == 0) Nil else Seq(s"off >= $a", s"lm$a > h")
      val right = if (b == 0) Nil else Seq(s"off + $b <= m - 1", s"rm$b > h")
      val parts = left ++ right
      if (parts.isEmpty) "TRUE" else parts.mkString("(", " AND ", ")")
    }.mkString("(", "\n    OR ", ")")
    s"""WITH $docsToks,
       |sh AS (SELECT doc_id, ${shinglesExpr(p.k)} AS shingles FROM d),
       |pos AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS m,
       |  unnest(generate_series(1, len(shingles))) - 1 AS off,
       |  unnest(shingles) AS s FROM sh),
       |ph AS (SELECT doc_id, m, off, s,
       |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM pos),
       |win AS (SELECT doc_id, m, off, s, h,
       |  $winCols
       |  FROM ph),
       |anch AS (SELECT doc_id, h, s, CAST(min(off) AS BIGINT) AS off FROM win
       |  WHERE $anchorCond
       |  GROUP BY doc_id, h, s),
       |rare AS (SELECT h FROM anch GROUP BY h HAVING count(*) <= ${p.maxDf}),
       |cap AS (SELECT anch.* FROM anch JOIN rare USING (h)),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.off AS a_first, b.off AS b_first
       |  FROM cap a JOIN cap b
       |    ON a.h = b.h AND a.s = b.s AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_anchors,
       |  CAST(min(a_first) AS BIGINT) AS a_off, CAST(min(b_first) AS BIGINT) AS b_off
       |FROM pr GROUP BY doc_a, doc_b
       |HAVING count(*) >= ${p.minAnchors}""".stripMargin
  }

  /** Shared canonical-docs + per-doc stage-signal CTEs for the
    * pipeline oracles (`canon` = docs whose component label is their
    * own id; `qual` = the quality/split/sample signals per canonical
    * doc) — extracted so [[pipeline]] and [[pipelineStages]] cannot
    * drift apart. */
  private def canonQualCtes(sampleSalt: String): String =
    s"""canon AS (SELECT d.doc_id, d.lang, d.toks FROM d
       |  LEFT JOIN comp c ON c.id = d.doc_id
       |  WHERE coalesce(c.lbl, d.doc_id) = d.doc_id),
       |qual AS (SELECT doc_id, lang, toks,
       |  greatest(len(toks) - 2, 1) AS total,
       |  len(list_distinct(list_transform(${shinglesExpr(3)},
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS nd,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |    % 1000000 AS split_bucket,
       |  ${sampleBucketExpr("doc_id", sampleSalt)} AS sample_bucket
       |  FROM canon)""".stripMargin

  /** Mirror of TrainingPipeline.stageCounts: cumulative survivor
    * counts per pipeline stage, from the SAME stage definitions as
    * [[pipeline]] — a stage-interaction bug localizes to the first
    * stage whose count diverges instead of failing only the final
    * manifest. */
  def pipelineStages(mh: MinHashParams, maxRepetitionPpm: Long,
      cuts: Seq[(String, Long)], keepSplit: String,
      sampleRates: Seq[(String, Long)], defaultSamplePpm: Long,
      sampleSalt: String): String = {
    val splitCases = cuts.init
      .map { case (n, hi) => s"WHEN split_bucket < $hi THEN '$n'" }.mkString(" ")
    val rateCases = sampleRates
      .map { case (v, ppm) => s"WHEN '${v.replace("'", "''")}' THEN $ppm" }.mkString(" ")
    s"""WITH RECURSIVE ${minhashPairCtes(mh)},
       |${closureCtes(mh)},
       |${canonQualCtes(sampleSalt)},
       |f AS (SELECT
       |  ((total - nd) * 1000000 // total < $maxRepetitionPpm) AS q,
       |  ((CASE $splitCases ELSE '${cuts.last._1}' END) = '$keepSplit') AS s,
       |  (sample_bucket < CASE lang $rateCases ELSE $defaultSamplePpm END) AS m
       |  FROM qual),
       |agg AS (SELECT
       |  CAST(count(*) AS BIGINT) AS canonical,
       |  CAST(coalesce(sum(CASE WHEN q THEN 1 ELSE 0 END), 0) AS BIGINT) AS quality,
       |  CAST(coalesce(sum(CASE WHEN q AND s THEN 1 ELSE 0 END), 0) AS BIGINT) AS split,
       |  CAST(coalesce(sum(CASE WHEN q AND s AND m THEN 1 ELSE 0 END), 0) AS BIGINT) AS sample
       |  FROM f),
       |inp AS (SELECT CAST(count(*) AS BIGINT) AS input FROM documents)
       |SELECT '0_input' AS stage, input AS n_docs FROM inp
       |UNION ALL SELECT '1_canonical', canonical FROM agg
       |UNION ALL SELECT '2_quality', quality FROM agg
       |UNION ALL SELECT '3_split', split FROM agg
       |UNION ALL SELECT '4_sample', sample FROM agg""".stripMargin
  }

  /** Mirror of graft.pipeline.TrainingPipeline.run: the end-to-end
    * training-data pipeline — canonical-only docs (closure), quality
    * filter, split keep, stratified sample, pack — recomputed as ONE
    * composed SQL query from the same stage definitions the individual
    * oracles use. */
  def pipeline(mh: MinHashParams, maxRepetitionPpm: Long,
      cuts: Seq[(String, Long)], keepSplit: String,
      sampleRates: Seq[(String, Long)], defaultSamplePpm: Long,
      sampleSalt: String, ctxTokens: Long): String = {
    val splitCases = cuts.init
      .map { case (n, hi) => s"WHEN split_bucket < $hi THEN '$n'" }.mkString(" ")
    val rateCases = sampleRates
      .map { case (v, ppm) => s"WHEN '${v.replace("'", "''")}' THEN $ppm" }.mkString(" ")
    s"""WITH RECURSIVE ${minhashPairCtes(mh)},
       |${closureCtes(mh)},
       |${canonQualCtes(sampleSalt)},
       |kept AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens FROM qual
       |  WHERE (total - nd) * 1000000 // total < $maxRepetitionPpm
       |    AND (CASE $splitCases ELSE '${cuts.last._1}' END) = '$keepSplit'
       |    AND sample_bucket < CASE lang $rateCases ELSE $defaultSamplePpm END),
       |p AS (SELECT doc_id, lang, n_tokens,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset
       |  FROM kept)
       |SELECT doc_id, lang, n_tokens, start_offset,
       |  CAST(start_offset // $ctxTokens AS BIGINT) AS bin_idx
       |FROM p""".stripMargin
  }

  val simhash: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents),
      |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h FROM tok),
      |bits AS (SELECT doc_id, bb.b AS b,
      |    SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(generate_series(0, 31)) AS b) bb
      |  GROUP BY doc_id, bb.b)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id""".stripMargin

  /** Exact-Jaccard verify over the same banded-LSH candidate set as
    * Dedup.jaccardPairs (band blocking + integer set math). The verify
    * set per doc is the distinct 60-bit md5-prefix hashes of its
    * shingles — 15 hex digits, the exact convention of the native
    * ShingleHashes expression on the Spark side. */
  def jaccardPairs(p: MinHashParams): String =
    s"""WITH $docsToks,
       |${sigCandCtes(p)},
       |dsh AS (SELECT doc_id, list_distinct(list_transform(shingles,
       |  s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS sh FROM sh),
       |pairs AS (SELECT doc_a, doc_b,
       |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS inter,
       |    CAST(len(a.sh) + len(b.sh) AS BIGINT) AS sz_sum
       |  FROM cand
       |  JOIN dsh a ON a.doc_id = cand.doc_a
       |  JOIN dsh b ON b.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, inter, sz_sum - inter AS uni
       |FROM pairs WHERE 2 * inter >= sz_sum - inter""".stripMargin

  /** Mirror of Linkage.setSimJoin over the two derived registries:
    * the FULL quadratic exact-Jaccard join on distinct-k-shingle
    * 60-bit hash sets — no prefix filter needed oracle-side, because
    * the filter is lossless (that losslessness is exactly what this
    * oracle hash-gates). */
  def setSimJoin(threshPpm: Long, shingleK: Int): String =
    s"""WITH d AS (SELECT doc_id, source,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |s0 AS (SELECT doc_id, source, ${shinglesExpr(shingleK)} AS sh FROM d),
       |l AS (SELECT doc_id AS left_id, list_distinct(list_transform(sh,
       |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS sh
       |  FROM s0 WHERE length(source) = 4),
       |r AS (SELECT doc_id AS right_id, list_distinct(list_transform(sh,
       |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS sh
       |  FROM s0 WHERE length(source) = 5),
       |p AS (SELECT left_id, right_id,
       |    CAST(len(list_filter(l.sh, x -> list_contains(r.sh, x))) AS BIGINT)
       |      AS inter,
       |    CAST(len(l.sh) + len(r.sh) AS BIGINT) AS sz FROM l, r)
       |SELECT left_id, right_id, inter, sz - inter AS uni,
       |  CAST(inter * 1000000 // (sz - inter) AS BIGINT) AS jaccard_ppm
       |FROM p WHERE inter * 1000000 >= $threshPpm * (sz - inter)""".stripMargin

  /** Mirror of Linkage.containJoin: the full quadratic exact
    * containment join — left-prefix losslessness is what the driver
    * hash-gates, like [[setSimJoin]]. */
  def containJoin(threshPpm: Long, shingleK: Int): String =
    s"""WITH d AS (SELECT doc_id, source,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |s0 AS (SELECT doc_id, source, ${shinglesExpr(shingleK)} AS sh FROM d),
       |l AS (SELECT doc_id AS left_id, list_distinct(list_transform(sh,
       |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS sh
       |  FROM s0 WHERE length(source) = 4),
       |r AS (SELECT doc_id AS right_id, list_distinct(list_transform(sh,
       |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS sh
       |  FROM s0 WHERE length(source) = 5),
       |p AS (SELECT left_id, right_id,
       |    CAST(len(list_filter(l.sh, x -> list_contains(r.sh, x))) AS BIGINT)
       |      AS inter,
       |    CAST(len(l.sh) AS BIGINT) AS n_left FROM l, r)
       |SELECT left_id, right_id, inter, n_left,
       |  CAST(inter * 1000000 // n_left AS BIGINT) AS contain_ppm
       |FROM p WHERE inter * 1000000 >= $threshPpm * n_left""".stripMargin

  /** Mirror of Linkage.linkBestMatch over the two derived registries
    * (left = 4-char sources src0..src9, right = 5-char src10..src19):
    * rare-shingle blocking, exact 60-bit-hash Jaccard verify, top-1
    * per left id. Shares shinglesExpr's short-doc convention and the
    * md5-prefix hash convention with the Spark side. */
  def linkBestMatch(maxDf: Int, threshPpm: Long, shingleK: Int): String =
    s"""WITH d AS (SELECT doc_id, source,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |l AS (SELECT doc_id AS left_id, ${shinglesExpr(shingleK)} AS sh
       |  FROM d WHERE length(source) = 4),
       |r AS (SELECT doc_id AS right_id, ${shinglesExpr(shingleK)} AS sh
       |  FROM d WHERE length(source) = 5),
       |le AS (SELECT left_id, unnest(list_distinct(list_transform(sh,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)))) AS s FROM l),
       |re AS (SELECT right_id, unnest(list_distinct(list_transform(sh,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)))) AS s FROM r),
       |rare AS (SELECT s FROM
       |  (SELECT s, count(*) AS dfl FROM le GROUP BY 1) a
       |  JOIN (SELECT s, count(*) AS dfr FROM re GROUP BY 1) b USING (s)
       |  WHERE dfl <= $maxDf AND dfr <= $maxDf),
       |cand AS (SELECT DISTINCT left_id, right_id
       |  FROM le JOIN rare USING (s) JOIN re USING (s)),
       |lh AS (SELECT left_id, list_distinct(list_transform(sh,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS h FROM l),
       |rh AS (SELECT right_id, list_distinct(list_transform(sh,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS h FROM r),
       |scored AS (SELECT left_id, right_id,
       |    CAST(len(list_filter(lh.h, x -> list_contains(rh.h, x))) AS BIGINT) AS inter,
       |    CAST(len(lh.h) + len(rh.h) AS BIGINT) AS sz_sum
       |  FROM cand JOIN lh USING (left_id) JOIN rh USING (right_id)),
       |j AS (SELECT left_id, right_id, inter, sz_sum - inter AS uni,
       |    inter * 1000000 // (sz_sum - inter) AS jaccard_ppm
       |  FROM scored WHERE inter * 1000000 // (sz_sum - inter) >= $threshPpm)
       |SELECT left_id, right_id, inter, uni, jaccard_ppm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |    ORDER BY jaccard_ppm DESC, right_id) AS rn FROM j)
       |WHERE rn = 1""".stripMargin

  /** Mirror of Linkage.linkEditDistance: the same blocking CTEs, a
    * Levenshtein verify, top-1 per left by (dist, right_id). */
  def linkEditDistance(maxDf: Int, maxNormPpm: Long, shingleK: Int,
      minShared: Int): String =
    s"""WITH d AS (SELECT doc_id, source, coalesce(text, '') AS txt,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |l AS (SELECT doc_id AS left_id, txt AS lt, ${shinglesExpr(shingleK)} AS sh
       |  FROM d WHERE length(source) = 4),
       |r AS (SELECT doc_id AS right_id, txt AS rt, ${shinglesExpr(shingleK)} AS sh
       |  FROM d WHERE length(source) = 5),
       |le AS (SELECT left_id, unnest(list_distinct(list_transform(sh,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)))) AS s FROM l),
       |re AS (SELECT right_id, unnest(list_distinct(list_transform(sh,
       |  x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)))) AS s FROM r),
       |rare AS (SELECT s FROM
       |  (SELECT s, count(*) AS dfl FROM le GROUP BY 1) a
       |  JOIN (SELECT s, count(*) AS dfr FROM re GROUP BY 1) b USING (s)
       |  WHERE dfl <= $maxDf AND dfr <= $maxDf),
       |cand AS (SELECT left_id, right_id
       |  FROM le JOIN rare USING (s) JOIN re USING (s)
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared),
       |sc AS (SELECT left_id, right_id,
       |    CAST(levenshtein(l.lt, r.rt) AS BIGINT) AS dist,
       |    CAST(greatest(length(l.lt), length(r.rt)) AS BIGINT) AS max_len
       |  FROM cand JOIN l USING (left_id) JOIN r USING (right_id)),
       |j AS (SELECT left_id, right_id, dist, max_len,
       |    dist * 1000000 // greatest(max_len, 1) AS norm_ppm FROM sc
       |  WHERE dist * 1000000 // greatest(max_len, 1) <= $maxNormPpm)
       |SELECT left_id, right_id, dist, max_len, norm_ppm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |    ORDER BY dist, right_id) AS rn FROM j)
       |WHERE rn = 1""".stripMargin

  /** Mirror of Postings.phraseSearch: positional postings via zipped
    * unnest (0-based positions matching Spark's posexplode), one CTE
    * slice per phrase token shifted to its start position, joined on
    * (doc_id, start). */
  def phraseSearch(phrase: Seq[String], where: Option[String] = None): String = {
    def esc(t: String) = t.replace("'", "''")
    val slices = phrase.zipWithIndex.map { case (t, i) =>
      s"s$i AS (SELECT doc_id, pos - $i AS strt FROM p WHERE token = '${esc(t)}')"
    }.mkString(",\n")
    val joins = (1 until phrase.length)
      .map(i => s"JOIN s$i USING (doc_id, strt)").mkString(" ")
    val whereSql = where.map(w => s" WHERE $w").getOrElse("")
    s"""WITH d AS (SELECT doc_id,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents$whereSql),
       |p AS (SELECT doc_id, unnest(toks) AS token,
       |    unnest(generate_series(0, len(toks) - 1)) AS pos FROM d),
       |$slices
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(min(strt) AS BIGINT) AS first_pos
       |FROM s0 $joins GROUP BY doc_id""".stripMargin
  }

  /** Mirror of Fusion.hybridSearch: BM25 and phrase rankings (each
    * bounded to top-r by its own total order) fused by integer RRF.
    * The ranker SQLs nest as subqueries with their own WITH chains. */
  def rrfFusion(terms: Seq[String], phrase: Seq[String],
      r: Int, k: Int, kRrf: Long): String =
    s"""WITH bm AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
       |  FROM (${bm25Rank(terms, r)})),
       |ph0 AS (SELECT * FROM (${phraseSearch(phrase)})
       |  ORDER BY n_hits DESC, first_pos, doc_id LIMIT $r),
       |ph AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY n_hits DESC, first_pos, doc_id) AS rnk
       |  FROM ph0),
       |u AS (SELECT doc_id, rnk FROM bm UNION ALL SELECT doc_id, rnk FROM ph)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rankers,
       |  CAST(sum(1000000 // ($kRrf + rnk)) AS BIGINT) AS rrf_score
       |FROM u GROUP BY 1 ORDER BY rrf_score DESC, doc_id LIMIT $k""".stripMargin

  /** Mirror of CorpusOps.domainTerms: per-source top-k tokens by
    * integer lift vs the corpus-wide rate. */
  def domainTerms(k: Int, minTf: Long): String =
    s"""WITH tok AS (SELECT source,
       |    unnest(string_split(coalesce(text, ''), ' ')) AS token FROM documents),
       |st AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |gt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS tf_global FROM st GROUP BY 1),
       |stot AS (SELECT source, CAST(sum(tf) AS BIGINT) AS src_tokens
       |  FROM st GROUP BY 1),
       |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens FROM stot),
       |scored AS (SELECT st.source, st.token, CAST(st.tf AS BIGINT) AS tf,
       |    CAST(st.tf * total_tokens * 1000000 // (src_tokens * tf_global)
       |      AS BIGINT) AS lift_ppm
       |  FROM st JOIN gt USING (token) JOIN stot USING (source), tot
       |  WHERE st.tf >= $minTf)
       |SELECT source, CAST(rnk AS BIGINT) AS rnk, token, tf, lift_ppm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY lift_ppm DESC, token) AS rnk FROM scored)
       |WHERE rnk <= $k""".stripMargin

  /** Mirror of CorpusOps.lmSurprisal: per-doc instance-weighted mean
    * of the corpus inverse bigram conditional in ppm. Shares
    * textRepetition's strict bigram comprehension (empty below 2
    * tokens) and first-space prefix extraction with the Spark side. */
  val lmSurprisal: String = lmSurprisalOver("SELECT doc_id, text FROM documents")

  /** [[lmSurprisal]] over an arbitrary corpus SELECT (doc_id, text) —
    * the oracle of pipelines whose training corpus is a DERIVED state
    * (q_text_lm_sync: the versioned table's v3 snapshot, reconstructed
    * here from the raw table by replaying the recipe in SQL). Both the
    * scored documents and the count tables come from the same corpus,
    * exactly as the serve path scores the table state it synced to. */
  def lmSurprisalOver(corpusSql: String): String =
    s"""WITH corpus AS ($corpusSql),
       |d AS (SELECT doc_id,
       |    string_split(coalesce(text, ''), ' ') AS t FROM corpus),
       |b AS (SELECT doc_id,
       |  unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)]) AS g
       |  FROM d),
       |dg AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY 1, 2),
       |c2 AS (SELECT g, CAST(sum(n) AS BIGINT) AS c2 FROM dg GROUP BY 1),
       |c1 AS (SELECT split_part(g, ' ', 1) AS prev,
       |    CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nb,
       |    CAST(sum(n * (c1 * 1000000 // c2)) AS BIGINT) AS ssum
       |  FROM dg JOIN c2 USING (g)
       |  JOIN c1 ON c1.prev = split_part(dg.g, ' ', 1) GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
       |  CAST(CASE WHEN coalesce(nb, 0) = 0 THEN 0
       |    ELSE ssum // nb END AS BIGINT) AS surprisal_ppm
       |FROM d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** [[lmSurprisal]] with the COUNT tables restricted to the documents
    * satisfying `pred` while every document is still scored — the
    * oracle of the LM deletion lifecycle (q_text_lm_delete): the
    * from-scratch survivor-trained scorer, computed without ever
    * seeing the negated-partial path. */
  def lmSurprisalCountsWhere(pred: String): String =
    s"""WITH d AS (SELECT doc_id,
       |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
       |b AS (SELECT doc_id,
       |  unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)]) AS g
       |  FROM d),
       |dg AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY 1, 2),
       |dtr AS (SELECT doc_id,
       |    string_split(coalesce(text, ''), ' ') AS t FROM documents WHERE $pred),
       |btr AS (SELECT doc_id,
       |  unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)]) AS g
       |  FROM dtr),
       |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM btr GROUP BY 1),
       |c1 AS (SELECT split_part(g, ' ', 1) AS prev,
       |    CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nb,
       |    CAST(sum(n * (c1 * 1000000 // c2)) AS BIGINT) AS ssum
       |  FROM dg JOIN c2 USING (g)
       |  JOIN c1 ON c1.prev = split_part(dg.g, ' ', 1) GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
       |  CAST(CASE WHEN coalesce(nb, 0) = 0 THEN 0
       |    ELSE ssum // nb END AS BIGINT) AS surprisal_ppm
       |FROM d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Mirror of Postings.keywordInContext: 0-based positions from the
    * zipped unnest, 1-based inclusive list slice with a clamped left
    * edge. */
  def keywordInContext(term: String, window: Int): String = {
    val esc = term.replace("'", "''")
    s"""WITH d AS (SELECT doc_id,
       |    string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS token,
       |    unnest(generate_series(0, len(toks) - 1)) AS pos FROM d),
       |occ AS (SELECT doc_id, pos FROM p WHERE token = '$esc')
       |SELECT occ.doc_id, CAST(occ.pos AS BIGINT) AS pos,
       |  array_to_string(d.toks[greatest(occ.pos - $window + 1, 1)
       |    : occ.pos + $window + 1], ' ') AS context
       |FROM occ JOIN d USING (doc_id)""".stripMargin
  }

  /** Mirror of q_contingency: full-marginal-grid χ² with every
    * division a defined integer op. */
  val contingency: String =
    s"""WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
       |  FROM documents GROUP BY 1, 2),
       |rows_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
       |cols_ AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM cells),
       |grid AS (SELECT source, r, lang, c FROM rows_, cols_),
       |f AS (SELECT g.r, g.c, coalesce(cells.o, 0) AS o
       |  FROM grid g LEFT JOIN cells USING (source, lang))
       |SELECT CAST(CAST(sum(
       |    (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
       |    * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
       |    * 1000000 // (CAST(r AS HUGEINT) * c * n)
       |    ) AS DECIMAL(38, 0)) AS VARCHAR)
       |  AS chi2_ppm,
       |  CAST((n_sources - 1) * (n_langs - 1) AS BIGINT) AS df, n
       |FROM f, tot GROUP BY df, n""".stripMargin

  /** Mirror of q_corpus_diff: two deterministic snapshots derived
    * from the documents table (old drops doc_id%11==3; new drops
    * doc_id%13==5 and appends ' v2' to %7==0 texts), classified by
    * content hash via a full outer join. */
  val corpusDiff: String =
    s"""WITH olds AS (SELECT doc_id AS id, md5(coalesce(text, '')) AS h_old
       |  FROM documents WHERE doc_id % 11 <> 3),
       |news AS (SELECT doc_id AS id,
       |  md5(coalesce(CASE WHEN doc_id % 7 = 0
       |    THEN coalesce(text, '') || ' v2' ELSE text END, '')) AS h_new
       |  FROM documents WHERE doc_id % 13 <> 5),
       |j AS (SELECT h_old, h_new
       |  FROM olds FULL OUTER JOIN news ON olds.id = news.id)
       |SELECT CASE WHEN h_old IS NULL THEN 'added'
       |    WHEN h_new IS NULL THEN 'removed'
       |    WHEN h_old = h_new THEN 'unchanged'
       |    ELSE 'changed' END AS class,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM j GROUP BY 1""".stripMargin
}
