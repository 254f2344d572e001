package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one directory protocol for persisted artifacts (sketches,
  * count indexes, postings, signature and ANN indexes, graph edges and
  * sidecars): every whole-directory rewrite goes through [[replace]],
  * and the few verbs that must stage several directories before
  * swapping any of them call [[swap]] directly.
  *
  * [[replace]] clears a stale `<path>_compacting` left by a crashed
  * earlier attempt, runs the caller's write into a fresh
  * `<path>_compacting`, then [[swap]]s it in (a single rename when no
  * live directory exists yet).
  *
  * The naive `delete(live); rename(tmp, live)` has a window where a
  * crash leaves NO live directory at all — only the `_compacting`
  * copy, requiring manual recovery (round-11 ADVICE). [[swap]]
  * narrows that to two metadata-only renames and keeps the old data
  * recoverable at every step:
  *
  *  1. delete any `<live>_old` leftover from a previously crashed
  *     swap (its live dir was already healthy, or step 3 below never
  *     ran — either way the leftover is dead);
  *  2. rename live → `<live>_old`, rename tmp → live;
  *  3. delete `<live>_old` LAST.
  *
  * A crash before step 2's second rename leaves the full index at
  * `<live>_old` (recovery = one rename back); a crash after it
  * leaves a healthy live dir plus a stale `_old` that the next swap
  * (or a manual delete) clears. A concurrent reader can still
  * observe the missing-path instant between the two renames — that
  * is the documented limit of swap-by-rename on a filesystem without
  * atomic directory exchange; serve loops that cannot tolerate it
  * should pause ingest/probes around compaction (the streaming specs
  * run compaction between batches for exactly this reason).
  *
  * MARKER RULE — the one place that decides which stream-ingest
  * idempotence markers survive a swap. Before its renames, [[swap]]
  * carries into `tmp`:
  *  - every `_batches/<id>` file (the marker of the per-batch loops,
  *    [[graft.streaming.AtomicIngest.once]]);
  *  - every non-hidden child DIRECTORY of `live` that `tmp` lacks,
  *    recreated EMPTY — a committed `batch_<id>` directory
  *    ([[graft.streaming.AtomicIngest.commitBatch]]) or a superseded
  *    part name is its own re-delivery marker, so a restarted stream
  *    still skips the batch while readers find no rows in it.
  * Files at the live root and hidden names (`_staging_*`,
  * `_temporary`, `.`-prefixed) are not carried. Without the rule, a
  * stream that crashed mid-batch and restarts after compaction finds
  * no marker for its re-delivered batch and applies it a second
  * time, breaking the append == from-scratch serve-equivalence
  * contract. Copying (not renaming) means the live directory is never
  * mutated before the swap. Flat artifacts, and staged verbs that
  * restage every child directory, are unaffected by the rule.
  */
object DirSwap {

  /** Replace the directory at `path` with what `write` writes into the
    * temp path it is given — the only whole-directory replace. */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit =
    replace(new Path(path).getFileSystem(spark.sessionState.newHadoopConf()), path)(write)

  private[core] def replace(fs: FileSystem, path: String)(write: String => Unit): Unit = {
    val live = new Path(path)
    val tmp = new Path(path + "_compacting")
    fs.delete(tmp, true) // leftover from a previously crashed replace
    write(tmp.toString)
    if (fs.exists(live)) swap(fs, live, tmp)
    else require(fs.rename(tmp, live), s"replace: could not move $tmp into $live")
  }

  def swap(fs: FileSystem, live: Path, tmp: Path): Unit = {
    preserveBatchMarkers(fs, live, tmp)
    preserveChildDirs(fs, live, tmp)
    val old = new Path(live.toString + "_old")
    fs.delete(old, true) // leftover from a previously crashed swap
    require(fs.rename(live, old), s"swap: could not move $live aside")
    require(fs.rename(tmp, live), s"swap: could not move $tmp into $live " +
      s"— the index is intact at $old (rename it back to recover)")
    fs.delete(old, true) // delete LAST: every earlier crash point keeps a full copy
    ()
  }

  /** `_batches/<id>` markers are empty files, so "copy" is creation by
    * name; a live dir without markers is a no-op. */
  private def preserveBatchMarkers(fs: FileSystem, live: Path, tmp: Path): Unit = {
    val src = new Path(live, "_batches")
    if (!fs.exists(src)) return
    val dst = new Path(tmp, "_batches")
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      if (st.isFile) fs.create(new Path(dst, st.getPath.getName), true).close()
    }
  }

  private def preserveChildDirs(fs: FileSystem, live: Path, tmp: Path): Unit =
    if (fs.exists(live)) fs.listStatus(live).foreach { st =>
      val n = st.getPath.getName
      val carried = new Path(tmp, n)
      if (st.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
          !fs.exists(carried))
        fs.mkdirs(carried)
    }
}
