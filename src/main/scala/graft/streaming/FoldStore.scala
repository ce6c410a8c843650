package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe stage-and-swap for the package's append-only fold-delta
  * artifacts (r13 ADVICE): the old idiom staged the merged state into a
  * `<root>_c` temp, then `delete(root); rename(tmp, root)` — a crash
  * BETWEEN those two leaves the artifact directory missing, and every
  * read side's "absent ⇒ empty relation" branch then silently reports
  * wrong thresholds / re-admits duplicates instead of failing loudly.
  *
  * The swap here never passes through an absent-root state with no
  * recovery marker: rename the live root ASIDE (`<root>_old`), rename
  * the staged temp INTO PLACE, then delete the aside copy. Every crash
  * point leaves a complete directory:
  *
  *   - during/after staging `_c`: root still live (stage writes are
  *     `mode(overwrite)`, so a partial `_c` is simply rewritten next
  *     time and never read — readers only ever open root);
  *   - between the two renames: root absent but `_old` holds the
  *     complete pre-swap state — [[recover]] restores it;
  *   - after the swap, before cleanup: root live (new state), `_old`
  *     stale — [[recover]] deletes the leftover.
  *
  * [[recover]] runs at the head of every swap AND every read
  * ([[exists]]), so an interrupted compaction heals on the next touch
  * with no operator intervention. Single-writer folds (the package-wide
  * contract) make the heal race-free. */
object FoldStore {

  /** The Hadoop filesystem that holds `path`, under the session's
    * Hadoop configuration. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def asidePath(root: Path) = new Path(root.toString + "_old")
  private def stagePath(root: Path) = new Path(root.toString + "_c")

  /** Heal an interrupted [[swap]] so `root` reflects a complete state:
    * restore the aside copy if the swap died between its renames,
    * delete a stale aside left by a swap that died before cleanup.
    * Returns whether `root` exists afterwards. */
  def recover(fs: FileSystem, root: Path): Boolean = {
    val aside = asidePath(root)
    if (!fs.exists(root) && fs.exists(aside)) fs.rename(aside, root)
    val live = fs.exists(root)
    if (live && fs.exists(aside)) fs.delete(aside, true)
    live
  }

  /** Delete `root` and any swap leftovers beside it (fresh run). */
  def clear(fs: FileSystem, root: Path): Unit =
    for (p <- Seq(root, asidePath(root), stagePath(root))) fs.delete(p, true)

  /** [[recover]], then the existence answer read sides branch on. */
  def exists(fs: FileSystem, root: Path): Boolean = recover(fs, root)

  /** Replace `root`'s contents with the state `stage` writes to the
    * supplied temp path (as a complete, self-contained directory —
    * callers use `write.mode("overwrite").parquet`). No-op when `root`
    * is absent even after recovery (nothing folded yet). */
  def swap(fs: FileSystem, root: Path)(stage: Path => Unit): Unit = {
    if (!recover(fs, root)) return
    val tmp = stagePath(root)
    stage(tmp)
    val aside = asidePath(root)
    fs.rename(root, aside)
    fs.rename(tmp, root)
    fs.delete(aside, true)
    ()
  }
}
