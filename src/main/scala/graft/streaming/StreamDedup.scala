package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.Dedup
import graft.dedup.Dedup.MinHashParams

/** Per-bucket stream state: the first-arrived document of an LSH band
  * bucket, against which later arrivals in the bucket are paired. */
case class BucketAnchor(anchorId: Long, anchorTsUs: Long)

/** A streaming near-dup pair: `doc_id` collided with the earlier
  * `anchor_id` in band `band_idx`. */
case class DupPair(anchor_id: Long, doc_id: Long, band_idx: Int)

/** Streaming MinHash near-deduplication — the streaming counterpart of
  * [[graft.dedup.Dedup.minhashPairs]].
  *
  * The signature/band projection is STATELESS (the same native
  * `ShingleMinHash` expression the batch path uses), so it runs
  * unchanged inside a streaming plan; the only stateful operator is
  * one `flatMapGroupsWithState` keyed on (band_idx, band_hash): each
  * bucket keeps its first-arrived document as the anchor and every
  * later arrival emits an (anchor, doc) pair — the streaming analog of
  * the batch star rule ([[graft.dedup.Dedup.bucketPairs]]),
  * which also connects a bucket through one hub instead of emitting
  * the quadratic pair set.
  *
  * State is bounded: one fixed-size [[BucketAnchor]] per band bucket,
  * expired by an event-time timeout once the watermark passes
  * `anchor_ts + horizonUs` — so a forever-running stream holds state
  * only for buckets active within the horizon, and a document is
  * reported as a near-dup only against anchors at most `horizonUs`
  * older. That windowed semantic is exactly what streaming dedup means
  * operationally (dedup against the recent past); the full-corpus
  * closure remains the batch operator's job.
  *
  * Scale: one shuffle on the band key (the same key the batch join
  * shuffles on); state per key is two longs. Pairs are emitted
  * per-band, so a pair colliding in b bands appears up to b times —
  * downstream consumers take the distinct, which append-mode streaming
  * cannot do in-plan (it would be a second unbounded stateful op).
  *
  * [[nearDupPairsBatch]] is the executable batch SPEC: identical
  * anchor choice — min (ts_us, doc_id) per bucket — on a static frame
  * (StreamingSpec asserts stream == batch on replayed input).
  */
object StreamDedup {

  /** Streaming near-dup pairs over a (doc_id, ts_us, text) stream.
    * `delay` is the watermark lateness bound; `horizonUs` is how far
    * back a document is deduplicated against bucket anchors. */
  def nearDupPairs(docs: DataFrame, p: MinHashParams = MinHashParams(),
      horizonUs: Long = Long.MaxValue / 4, delay: String = "0 seconds"): Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the watermarked event-time column must flow INTO the stateful
    // operator (Spark's unsupported-operation checker requires it)
    val exploded = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts_us").cast("long").as("ts_us"),
        posexplode(Dedup.bandHashes(Dedup.minhashSignature(col("text"), p), p))
          .as(Seq("band_idx", "band_hash")))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .select("doc_id", "ts_us", "band_idx", "band_hash", "event_time")
      .withWatermark("event_time", delay)
      .as[(Long, Long, Int, String, java.sql.Timestamp)]
    exploded
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[BucketAnchor, DupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), rows: Iterator[(Long, Long, Int, String, java.sql.Timestamp)],
            state: GroupState[BucketAnchor]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
            // same total order as the batch anchor choice
            var anchor = state.getOption
            rows.toSeq.sortBy(r => (r._2, r._1)).foreach { case (id, ts, bi, _, _) =>
              anchor match {
                case None => anchor = Some(BucketAnchor(id, ts))
                case Some(a) if a.anchorId != id => out += DupPair(a.anchorId, id, bi)
                case _ => ()
              }
            }
            anchor.foreach { a =>
              state.update(a)
              // expire once the watermark passes anchor_ts + horizon
              // (ms granularity, rounded up; saturating add)
              val deadlineMs = a.anchorTsUs / 1000 + math.min(
                horizonUs / 1000 + 1, Long.MaxValue / 2)
              state.setTimeoutTimestamp(deadlineMs)
            }
            out.iterator
          }
      }
  }

  /** The streaming INGEST loop over the persisted signature index —
    * what production runs at the front door of a 100 TB corpus: each
    * micro-batch (1) probes the index for its documents' near-dup
    * matches in everything ingested before it (new-vs-old only, the
    * [[graft.dedup.Dedup.minhashPairsAgainstIndex]] semantics, cost ∝
    * the batch) and (2) appends its own signatures + band partials
    * ([[graft.dedup.Dedup.appendSignatureIndex]]) so every LATER
    * batch dedups against this one — the foreachBatch form of the
    * build→append→probe lifecycle `q_dedup_incr_append` gates.
    *
    * Delivery: a `_batches/<id>` marker skips micro-batches already
    * processed, so the common restart/retry path neither re-appends
    * signatures nor re-emits matches. The marker is resolved through
    * the Hadoop FileSystem API (same resolution as the index's own
    * parquet paths), so the guard works wherever the index lives —
    * HDFS/S3, not just the driver's local disk. The residual window (crash
    * AFTER the index append but BEFORE the marker write) re-appends
    * one batch's signatures on recovery: self-pairs are filtered and
    * the verify join re-decides every candidate, but doubled bucket
    * PARTIALS inflate merged counts, which can tip a near-cap bucket
    * into the star rule (pairs to the representative instead of every
    * member) — a recall reduction on exactly that batch's buckets,
    * not a correctness failure elsewhere. Production closes the
    * window by committing the batch's files and marker atomically
    * (e.g. a table format's transactional commit). StreamingSpec
    * asserts the two-batch stream equals the sequential batch calls. */
  def ingestDedup(docs: DataFrame, indexPath: String, resultPath: String,
      checkpoint: String, p: MinHashParams = MinHashParams())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.once(batch.sparkSession, s"$indexPath/_batches", batchId) {
          // eager probe: writes matches AND releases the batch's
          // persisted signatures (no cache growth across micro-batches)
          Dedup.probeIndexInto(batch, indexPath, resultPath, p)
          Dedup.appendSignatureIndex(batch, indexPath, p)
        }
      }
      .start()

  /** The streaming INGEST loop of the SIMILARITY-GRAPH lifecycle —
    * the foreachBatch form of `writeSimilarityGraph` →
    * `appendSimilarityGraph`: each micro-batch grows the stored edge
    * artifact (new×old through the stored signature index, new×new
    * within the batch, crossing-bucket retraction), so at every
    * micro-batch boundary the served `edges/` equals a from-scratch
    * build of everything ingested so far — the
    * [[graft.dedup.Dedup.appendSimilarityGraph]] guarantee, which
    * StreamingSpec asserts over a replayed two-batch stream. The
    * graph artifact must already exist ([[graft.dedup.Dedup
    * .writeSimilarityGraph]], possibly over an empty frame).
    *
    * Micro-batch ids must be MONOTONE in doc_id across batches (the
    * append contract). Same `_gbatches/<id>` marker idempotence as
    * [[ingestDedup]]; the two residual crash windows inside the
    * append itself are both handled (round-15 ADVICE): a crash
    * BETWEEN the edges write and the index append leaves edge debris
    * that the append's replay guard scrubs on restart (stored edges
    * with doc_b above the stored index max can only be that debris —
    * replay is idempotent, not double-counting); a crash AFTER the index
    * append, BEFORE the marker, fail-fasts on restart (the replayed
    * batch's min id is ≤ the stored max because its own ids are
    * already in the index, so the monotonicity require trips and
    * surfaces the half-committed batch — recreate the marker to
    * acknowledge, since the append itself fully committed).
    *
    * `maintainLabels = true` additionally brings the COMPONENT-LABELS
    * sidecar up to date after each batch's append
    * ([[graft.dedup.Dedup.refreshComponentLabels]] — the sidecar must
    * exist: call [[graft.dedup.Dedup.writeComponentLabels]] once after
    * the initial build), so dedup consumers ([[graft.dedup.Dedup
    * .clustersOf]]) serve current clusters at every micro-batch
    * boundary without ever re-solving the stored graph. Crash shape:
    * the refresh COMPOSES (it reads its own watermark and applies
    * whatever edge delta exists), so a crash between the append and
    * the refresh costs nothing on recovery — after the documented
    * recreate-the-marker acknowledgement, the NEXT batch's refresh
    * catches the labels up along with its own delta; until then the
    * served labels are the consistent pre-append snapshot, at most one
    * batch stale.
    *
    * `maintainTriangles = true` does the same for the TRIANGLE-STATS
    * sidecar ([[graft.dedup.Dedup.refreshTriangleStats]]; create it
    * once with [[graft.dedup.Dedup.writeTriangleStats]] after the
    * initial build), so the density consumers
    * ([[graft.graph.Triangles.withCc]] over the served stats) stay
    * current per micro-batch without re-paying the full-graph wedge
    * enumeration. Same composing-refresh crash shape as the labels
    * sidecar — each refresh reads its own watermark.
    *
    * `maintainRanks = true` rides the RANK-SCORES sidecar along
    * ([[graft.dedup.Dedup.refreshRankScores]]; create it once with
    * [[graft.dedup.Dedup.writeRankScores]]): each batch's refresh
    * warm-starts the power iteration from the stored vector, so the
    * per-batch cost is a handful of rounds, not the cold
    * log(scale/tol) schedule. Crash shape is even simpler than the
    * exact sidecars: the refresh compares its meta against the edge
    * artifact and re-converges from whatever vector is stored —
    * ANY stored vector is a valid starting guess.
    *
    * `maintainCommunities = true` does the same for the LP-COMMUNITY
    * sidecar ([[graft.dedup.Dedup.refreshLpCommunities]]; create it
    * once with [[graft.dedup.Dedup.writeLpCommunities]]): the
    * delta-LPA warm start re-settles the stored assignment per batch.
    * Same any-stored-state-is-a-valid-start crash shape as ranks. */
  def ingestSimilarityGraph(docs: DataFrame, graphPath: String,
      checkpoint: String, p: MinHashParams = MinHashParams(),
      maintainLabels: Boolean = false,
      maintainTriangles: Boolean = false,
      maintainRanks: Boolean = false,
      maintainCommunities: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.once(batch.sparkSession, s"$graphPath/_gbatches", batchId) {
          Dedup.appendSimilarityGraph(batch, graphPath, p)
          if (maintainLabels)
            Dedup.refreshComponentLabels(batch.sparkSession, graphPath)
          if (maintainTriangles)
            Dedup.refreshTriangleStats(batch.sparkSession, graphPath)
          if (maintainRanks)
            Dedup.refreshRankScores(batch.sparkSession, graphPath)
          if (maintainCommunities)
            Dedup.refreshLpCommunities(batch.sparkSession, graphPath)
        }
      }
      .start()

  /** DELETION-AWARE streaming ingest of the similarity-graph
    * lifecycle — [[ingestSimilarityGraph]] over a CDC stream (the
    * add/tombstone shape `q_corpus_diff` classifies): each micro-batch
    * carries (doc_id, text, op) rows with op ∈ {"add", "delete"}, and
    * at every micro-batch boundary the served artifact equals a
    * from-scratch build over (everything added so far) MINUS
    * (everything tombstoned so far) — StreamingSpec asserts over a
    * mixed add/delete replay. Per batch, tombstones apply FIRST
    * ([[graft.dedup.Dedup.deleteFromSimilarityGraph]] — which also
    * re-lines any existing sidecars), then adds append as usual; the
    * `maintain*` flags refresh the sidecars for the appended half
    * exactly like the add-only loop.
    *
    * CONTRACT: add ids are monotone across batches (the append
    * contract); tombstone ids refer to documents ingested in EARLIER
    * batches (deleting an id added in the same micro-batch is out of
    * contract — split it into two batches, or simply don't add it);
    * a tombstone for a never-ingested id is a no-op (the delete
    * verb's absent-id rule), so at-least-once tombstone delivery is
    * safe even across the marker window.
    *
    * CRASH/REPLAY under the `_gbatches/<id>` marker: a crash inside
    * the delete re-runs it on replay and CONVERGES (the delete verb's
    * re-run guarantee); a crash between the delete and the append
    * replays the batch, whose delete re-run is then a no-op and whose
    * append proceeds normally; the append's own two crash windows are
    * handled exactly as in [[ingestSimilarityGraph]]. */
  def ingestSimilarityGraphCdc(docs: DataFrame, graphPath: String,
      checkpoint: String, p: MinHashParams = MinHashParams(),
      maintainLabels: Boolean = false,
      maintainTriangles: Boolean = false,
      maintainRanks: Boolean = false,
      maintainCommunities: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.once(batch.sparkSession, s"$graphPath/_gbatches", batchId) {
          val dels = batch.filter(col("op") === "delete").select(col("doc_id"))
          // fail-fast on the out-of-contract shape instead of silently
          // ingesting it: tombstones run FIRST, so a doc added and
          // tombstoned in the same batch would survive as if never
          // deleted (the count-family CDC loops net this shape to
          // zero; the graph cannot — split it into two batches)
          require(batch.filter(col("op") === "add").select(col("doc_id"))
            .join(dels, Seq("doc_id"), "left_semi").isEmpty,
            "CDC batch adds and tombstones the same doc_id — out of " +
              "contract for the graph loop (tombstones apply first); " +
              "split the add and the tombstone into separate batches")
          if (!dels.isEmpty)
            Dedup.deleteFromSimilarityGraph(batch.sparkSession, graphPath, dels, p)
          Dedup.appendSimilarityGraph(
            batch.filter(col("op") === "add").select(col("doc_id"), col("text")),
            graphPath, p)
          if (maintainLabels)
            Dedup.refreshComponentLabels(batch.sparkSession, graphPath)
          if (maintainTriangles)
            Dedup.refreshTriangleStats(batch.sparkSession, graphPath)
          if (maintainRanks)
            Dedup.refreshRankScores(batch.sparkSession, graphPath)
          if (maintainCommunities)
            Dedup.refreshLpCommunities(batch.sparkSession, graphPath)
        }
      }
      .start()

  /** Executable batch SPEC of [[nearDupPairs]] (with an unbounded
    * horizon): per band bucket, the anchor is the min-(ts_us, doc_id)
    * member and every other member pairs with it. Returns the DISTINCT
    * (anchor_id, doc_id) set — the per-band multiplicity is an
    * artifact of append-mode emission, not part of the semantics. */
  def nearDupPairsBatch(docs: DataFrame, p: MinHashParams = MinHashParams()): DataFrame = {
    val exploded = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts_us").cast("long").as("ts_us"),
        posexplode(Dedup.bandHashes(Dedup.minhashSignature(col("text"), p), p))
          .as(Seq("band_idx", "band_hash")))
    val w = Window.partitionBy(col("band_idx"), col("band_hash"))
    exploded
      .withColumn("anchor", min(struct(col("ts_us"), col("doc_id"))).over(w))
      .filter(col("anchor.doc_id") =!= col("doc_id"))
      .select(col("anchor.doc_id").as("anchor_id"), col("doc_id"))
      .distinct()
  }
}
