package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.text.Postings

/** Streaming full-text indexing — the ingest-time shape of
  * [[graft.text.Postings]]: documents arriving as a stream grow the
  * persisted positional postings index per micro-batch, and phrase
  * probes serve from the artifact at any point.
  *
  * This is the strongest ingest regime of the five artifact families
  * (with the sketches): postings are PER-ROW-PURE (each (token,
  * doc_id, pos) row is a function of its own document alone), so
  * appends are pure file adds with no probe-then-append ordering
  * argument, and ANY interleaving of micro-batches produces an index
  * bit-identical in content to one from-scratch build over the same
  * rows — StreamTextSpec asserts exactly that, plus serve-equivalence
  * through [[Postings.compactIndex]] after the stream stops.
  */
object StreamText {

  /** Per micro-batch of (doc_id, text) rows: append the batch's
    * postings to the index at `indexPath`. The `_batches/<id>`
    * idempotence marker (same contract as the other ingest loops)
    * makes restart/retry append each batch exactly once. */
  def ingestPostings(docs: DataFrame, indexPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.once(batch.sparkSession, s"$indexPath/_batches", batchId) {
          Postings.appendIndex(batch, indexPath)
        }
      }
      .start()

  /** Streaming ingest for the persisted BPE word-count artifact
    * ([[graft.text.CorpusOps.bpeCountsBuild]]): each micro-batch of
    * (doc_id, text) rows contributes its own (word, freq) PARTIAL
    * frame. Sum-merge is associative but duplicate-SENSITIVE — a
    * re-delivered batch would double-count its words — so unlike the
    * idempotent-merge loops (bloom OR, sketch max) this one commits
    * each batch ATOMICALLY via [[AtomicIngest.commitBatch]]: the
    * partial is staged under a hidden `_staging_<id>` directory and
    * published by a single directory rename, so a crash anywhere
    * leaves either no trace of the batch or the complete batch, never
    * a half-appended or double-appended one (the round-12 marker
    * scheme had a crash window between append and marker creation).
    * Stream == sequential bpeCountsBuild/Append calls: StreamingSpec
    * asserts the merges trained from the streamed artifact match the
    * from-scratch batch trainer. The artifact must exist before the
    * stream starts. */
  def ingestBpeCounts(docs: DataFrame, countsPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.commitBatch(batch.sparkSession, countsPath, batchId) {
          staging => graft.text.CorpusOps.bpeCountsBuild(batch, staging)
        }
      }
      .start()

  /** Streaming ingest for the persisted NB-classifier count artifact
    * ([[graft.text.CorpusOps.nbCountsBuild]]): each micro-batch
    * contributes its (token, source) train-count and per-source
    * doc-count PARTIALS. Counts are source-keyed (labels are derived
    * at SERVE time from the merged source set, so a batch introducing
    * a brand-new source merges exactly — per-label partials would
    * not). Duplicate-sensitive sum-merge → atomic per-batch commit
    * via [[AtomicIngest.commitBatch]]. Stream == sequential
    * nbCountsBuild parts, gated by the plain nbQuality oracle;
    * StreamingSpec asserts the served scores match the from-scratch
    * batch classifier. The artifact must exist before the stream
    * starts. */
  def ingestNbCounts(docs: DataFrame, countsPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.commitBatch(batch.sparkSession, countsPath, batchId) {
          staging => graft.text.CorpusOps.writeNbPartial(batch, staging)
        }
      }
      .start()

  /** DELETION-AWARE NB count ingest — [[ingestNbCounts]] over a CDC
    * stream: (doc_id, text, source, op) rows, op ∈ {"add",
    * "delete"}. Each micro-batch becomes ONE atomically committed
    * partial with adds counted positive and tombstoned docs NEGATED
    * ([[graft.text.CorpusOps.writeNbCdcPartial]]), so at every batch
    * boundary the served classifier equals a from-scratch train over
    * adds-so-far minus tombstones-so-far (StreamingSpec replays a
    * mixed stream). The subtraction family's CDC contract is STRICTER
    * than the graph's in one way and LOOSER in another: tombstone
    * rows must carry their full payload (the departed text/source —
    * subtraction needs the counts back), but a doc added and
    * tombstoned in the SAME batch is fine (sum-merge nets it to
    * zero; the graph loop must forbid that shape). A tombstone for a
    * never-ingested doc is OUT of contract here (counts would go
    * negative — masked by the vtf > 0 guard but diverging from
    * from-scratch), unlike the graph's absent-id no-op; CDC feeds
    * that can re-deliver tombstones across batches need the marker
    * window only, which AtomicIngest already provides. Full-source
    * takedowns keep [[graft.text.CorpusOps.nbCountsDelete]]'s honest
    * limit: rebuild. */
  def ingestNbCountsCdc(docs: DataFrame, countsPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.commitBatch(batch.sparkSession, countsPath, batchId) {
          staging => graft.text.CorpusOps.writeNbCdcPartial(batch, staging)
        }
      }
      .start()

  /** DELETION-AWARE CMS ingest — the frequency sketch rides the same
    * CDC stream as the NB/Gram count artifacts: (doc_id, text, op)
    * rows, op ∈ {"add", "delete"}; each micro-batch becomes ONE
    * atomically committed (r, b, cms) partial with adds positive and
    * tombstones negated
    * ([[graft.text.CorpusOps.writeCmsCdcPartial]]), so at every batch
    * boundary the served estimate equals a from-scratch sketch over
    * adds-so-far minus tombstones-so-far (StreamTextSpec replays a
    * mixed stream). Same contract as the other subtraction loops:
    * tombstones carry their payload and refer to previously ingested
    * docs; a doc added and tombstoned in one batch nets to zero. The
    * artifact (a [[graft.text.CorpusOps.writeCmsSketch]] build) must
    * exist before the stream starts; serve reads recursively, so
    * committed batch dirs merge like any append. */
  def ingestCmsCdc(docs: DataFrame, sketchPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.commitBatch(batch.sparkSession, sketchPath, batchId) {
          staging => graft.text.CorpusOps.writeCmsCdcPartial(batch, staging)
        }
      }
      .start()
}

/** The per-micro-batch guards of every `foreachBatch` ingest loop:
  * [[once]], the plain `_batches/<id>` marker, and [[commitBatch]].
  *
  * [[commitBatch]] is the atomic per-batch commit for
  * duplicate-sensitive persisted artifacts (BPE word counts, Gram
  * partials, NB classifier counts, CMS partials): stage the batch's
  * partial frame under a hidden directory inside the artifact, then
  * publish it with ONE filesystem rename to a visible `batch_<id>`
  * subdirectory. Readers use `recursiveFileLookup`, so they see the
  * original flat build files plus every committed batch directory and
  * never the `_staging_*` dirs (leading underscore = hidden to
  * Spark's file index). The rename is the commit point: a crash
  * before it leaves only hidden staging garbage (overwritten on
  * retry); after it, the batch directory doubles as the idempotence
  * marker, so re-delivery is a no-op. This closes the round-12
  * ADVICE crash window where the marker was created after a
  * non-atomic append. */
object AtomicIngest {

  /** Run `work` for micro-batch `batchId` unless `<markerDir>/<id>`
    * exists, then create that empty marker file — the at-least-once
    * guard of the non-duplicate-sensitive loops. NOT atomic: a crash
    * after `work` and before the marker re-runs `work` on replay (each
    * loop documents why its work tolerates that); duplicate-sensitive
    * artifacts use [[commitBatch]]. The marker resolves through the
    * Hadoop FileSystem API, so the guard works wherever the artifact
    * lives (HDFS/S3/local), and [[graft.core.DirSwap.swap]] carries
    * `_batches` markers across compactions. */
  def once(spark: org.apache.spark.sql.SparkSession, markerDir: String,
      batchId: Long)(work: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$markerDir/$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      work
      fs.create(marker, true).close()
    }
  }

  def commitBatch(spark: org.apache.spark.sql.SparkSession,
      artifactPath: String, batchId: Long)(
      writePartial: String => Unit): Unit = {
    val committed =
      new org.apache.hadoop.fs.Path(s"$artifactPath/batch_$batchId")
    val fs = committed.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(committed)) {
      val staging =
        new org.apache.hadoop.fs.Path(s"$artifactPath/_staging_$batchId")
      if (fs.exists(staging)) fs.delete(staging, true)
      writePartial(staging.toString)
      require(fs.rename(staging, committed),
        s"atomic commit rename failed: $staging -> $committed")
    }
  }
}
