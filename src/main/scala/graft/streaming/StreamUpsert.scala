package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.layout.Layout

/** Streaming CDC maintenance of a hive-partitioned sink — the loop
  * that closes [[graft.layout.Layout.upsertPartitioned]] the way
  * [[StreamDedup.ingestDedup]] closes the signature index and
  * [[StreamSim.ingestTopK]] the ANN index: a stream of change rows
  * drives partition-scoped upserts, one merge per micro-batch.
  */
object StreamUpsert {

  /** Per micro-batch of change rows: merge the batch into ONLY the
    * sink partitions it touches ([[Layout.upsertPartitioned]] —
    * directory-pruned existing-side read, newest-row-per-key window,
    * dynamic partition overwrite; untouched partition directories are
    * neither read nor rewritten). The sink must exist before the
    * stream starts (the initial load writes it partitioned by
    * `partCol`).
    *
    * Ordering note: a key updated in TWO micro-batches converges to
    * the `orderCols`-newest version regardless of batch boundaries,
    * because each merge re-decides per key over existing ∪ batch —
    * StreamingSpec asserts the two-batch stream equals sequential
    * upsertPartitioned calls, including a key updated in both.
    *
    * Delivery: the same Hadoop-FS `_batches/<id>` idempotence marker
    * as the ingest loops — a replayed micro-batch is skipped, so
    * restart/retry does not re-merge (upserts are idempotent per key
    * anyway for identical change rows; the marker spares the
    * partition rewrite). The residual crash window (merge committed,
    * marker not yet written) re-runs one merge on recovery, which is
    * a no-op on the data: the newest-row-per-key decision is stable
    * under re-application. */
  def ingestUpsert(changes: DataFrame, sinkPath: String, checkpoint: String,
      partCol: String, keyCols: Seq[String], orderCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.once(batch.sparkSession, s"$sinkPath/_batches", batchId) {
          Layout.upsertPartitioned(sinkPath, batch, partCol, keyCols,
            orderCols.map(c => org.apache.spark.sql.functions.col(c).desc))
        }
      }
      .start()

  /** Streaming CDC maintenance of a VERSIONED table
    * ([[graft.layout.VersionedTable]]): each micro-batch of
    * (keyCol, ..., op) rows, op ∈ {"add", "delete"}, becomes exactly
    * ONE commit — adds upsert, tombstones drop their key, both in the
    * same atomic manifest ([[graft.layout.VersionedTable.applyCdc]]),
    * so every version boundary IS a micro-batch boundary and a reader
    * pinned to version N sees whole batches only. Time travel makes
    * this loop the auditable CDC sink: "what did the table serve
    * after batch 3?" is `read(asOf = 4)` (v1 is the initial load),
    * which the in-place hive loop above cannot answer.
    *
    * Delivery: the `_batches/<id>` marker skips a replayed
    * micro-batch, so the version chain advances exactly once per
    * batch. Crash window (manifest committed, marker not yet
    * written): recovery re-applies the batch ONCE more — adds
    * re-upsert to the same rows and tombstones re-delete absent keys
    * (both no-ops on the data), leaving only a duplicate version with
    * identical content, which retention vacuums; StreamingSpec
    * replays exactly that crash shape. The table must exist
    * ([[graft.layout.VersionedTable.create]]) before the stream
    * starts.
    *
    * `maintainOptimize` keeps the CURVE LAYOUT live under the stream
    * (the same maintain-flag contract as the similarity-graph loop's
    * sidecars): after each commit the loop runs
    * [[graft.layout.VersionedTable.optimizeIncremental]], re-clustering
    * only that batch's debris into the cells it dirtied — so readers
    * get manifest-level pruning continuously instead of between
    * nightly optimizes. Requires a prior
    * [[graft.layout.VersionedTable.optimizeCurve]] (the stored layout
    * the incremental verb re-buckets with). Crash between the
    * optimize commit and the marker replays the batch once more —
    * content converges exactly as in the plain loop, the extra
    * versions age out under retention. */
  def ingestVersionedCdc(changes: DataFrame, tablePath: String,
      checkpoint: String, keyCol: String,
      maintainOptimize: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        AtomicIngest.once(batch.sparkSession, s"$tablePath/_batches", batchId) {
          graft.layout.VersionedTable.applyCdc(batch, tablePath, keyCol)
          if (maintainOptimize)
            graft.layout.VersionedTable.optimizeIncremental(
              batch.sparkSession, tablePath, keyCol)
        }
      }
      .start()
}
