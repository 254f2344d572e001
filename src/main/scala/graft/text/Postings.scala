package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index (postings lists) + exact phrase search —
  * the full-text-search primitive a corpus store serves alongside the
  * similarity indexes. BM25 ([[CorpusOps.bm25Rank]]) ranks by bag of
  * words; phrase search needs POSITIONS, which is exactly what this
  * index adds: one (token, doc_id, pos) row per token occurrence.
  *
  * An n-token phrase match at start position p is n postings rows
  * whose (doc_id, pos - i) all equal (doc, p) — so phrase search is
  * (n-1) equi-joins on (doc_id, start) between the per-token postings
  * slices, never a scan of document text.
  *
  * Shape at 100 TB: the build is one narrow posexplode (no shuffle;
  * the optional sort in [[buildIndex]] is a range exchange paid once
  * at write time so the serving files are token-clustered); each
  * probe reads ONLY its phrase tokens' slices — an `IN` pushdown into
  * the parquet scan, with row-group skipping doing the pruning on the
  * token-sorted layout — so probe cost scales with the phrase tokens'
  * document frequency, not the corpus. The per-token slices join on
  * (doc_id, start): equi-joins whose sides are df-sized, broadcast
  * when a phrase token is rare (AQE's pick), co-partitioned hash
  * otherwise.
  */
object Postings {

  /** The positional postings frame: (token, doc_id, pos), one row per
    * token occurrence, 0-based positions. */
  def positional(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos").cast("long"))

  /** Write the postings as a token-sorted parquet artifact — the
    * build side of the serve split. Sorting clusters each token's
    * postings into contiguous row groups, so a probe's token filter
    * prunes via row-group min/max stats instead of scanning. */
  def buildIndex(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    positional(docs, idCol, textCol)
      .repartitionByRange(col("token"))
      .sortWithinPartitions(col("token"), col("doc_id"), col("pos"))
      .write.mode("overwrite").parquet(path)

  /** Exact phrase search over a postings frame: documents containing
    * the consecutive token sequence, with the exact occurrence count
    * and the first match position. */
  def phraseSearch(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val parts = phrase.zipWithIndex.map { case (t, i) =>
      postings.filter(col("token") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    parts.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("start")).as("first_pos"))
  }

  /** The serving path: probe the persisted index. The phrase-token
    * filters reach the scan as pushed predicates over the
    * token-clustered files. */
  def phraseSearchIndexed(spark: SparkSession, path: String,
      phrase: Seq[String]): DataFrame =
    phraseSearch(spark.read.parquet(path), phrase)

  /** Keyword-in-context (concordance): every occurrence of `term`
    * with `window` tokens of context on each side — the classic
    * corpus-linguistics view, and the snippet generator a retrieval
    * stack serves next to its hits. Output (doc_id, pos, context)
    * with the context tokens space-joined.
    *
    * Shape at 100 TB: occurrences come from the postings frame (an
    * equi-filter on the term — over the persisted index that is a
    * pushed predicate into the token-clustered scan), then ONE
    * equi-join back to the documents table re-tokenizes only matching
    * docs and slices the window in-row. Cost ∝ term df, never the
    * corpus. */
  def keywordInContext(postings: DataFrame, docs: DataFrame, term: String,
      window: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val occ = postings.filter(col("token") === term)
      .select(col("doc_id"), col("pos"))
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("t"))
    occ.join(toks, "doc_id")
      .select(col("doc_id"), col("pos"),
        // slice is 1-based; clamp the left edge, length covers both sides
        concat_ws(" ", slice(col("t"),
          greatest(col("pos") - window + 1, lit(1)).cast("int"),
          (col("pos") + window + 1 -
            greatest(col("pos") - window + 1, lit(1)) + 1).cast("int")))
          .as("context"))
  }

  /** Grow the index with a new batch — a pure FILE ADD (no
    * read-modify-write of existing files). Postings are per-row-pure
    * (each (token, doc_id, pos) row is a function of its own document
    * alone), so build + any append sequence serves IDENTICALLY to a
    * from-scratch build over the union — the strongest append regime,
    * same as the sketch family. The cost is physical, not logical:
    * appended files are batch-clustered rather than token-clustered,
    * so row-group skipping degrades on them until [[compactIndex]]
    * restores the global token order. */
  def appendIndex(batch: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    positional(batch, idCol, textCol)
      .sortWithinPartitions(col("token"), col("doc_id"), col("pos"))
      .write.mode("append").parquet(path)

  /** DELETE documents from a persisted postings index — the
    * per-row-pure family's takedown verb (round-16 verdict #1):
    * postings rows are each a function of their own document alone,
    * so deletion is a pure FILE FILTER — rewrite the index without the
    * deleted doc_ids (one scan of the index, never the corpus) and
    * serve-equivalence to a from-scratch build over the survivors is
    * structural (spec'd anyway). Token clustering is preserved
    * (filtering never reorders rows within files), the `_batches`
    * stream markers are carried over like [[compactIndex]], and the
    * swap is the same crash-safe two-rename. Ids absent from the
    * index are a no-op. */
  def deleteDocs(spark: SparkSession, path: String,
      deletedIds: DataFrame, idCol: String = "doc_id"): Unit = {
    val del = deletedIds.select(col(idCol).as("doc_id")).distinct()
    graft.core.DirSwap.replace(spark, path)(
      spark.read.parquet(path)
        .join(broadcast(del), Seq("doc_id"), "left_anti")
        .select(col("token"), col("doc_id"), col("pos"))
        .write.mode("overwrite").parquet(_))
  }

  /** Re-sort the whole index into token-clustered files after a run
    * of appends — the postings twin of the layout/sketch compactors:
    * one range exchange over the stored rows (never the corpus), a
    * crash-safe two-rename directory swap ([[graft.core.DirSwap]] —
    * the old index stays recoverable at every crash point), zero
    * logical change (serve-equivalence spec'd). The stream-ingest
    * `_batches` idempotence markers are carried into the compacted
    * directory before the swap, so a restarted stream's re-delivered
    * batch still finds its marker and append == from-scratch
    * serve-equivalence survives compaction. */
  def compactIndex(spark: SparkSession, path: String): Unit =
    graft.core.DirSwap.replace(spark, path)(
      spark.read.parquet(path)
        .repartitionByRange(col("token"))
        .sortWithinPartitions(col("token"), col("doc_id"), col("pos"))
        .write.mode("overwrite").parquet(_))
}
