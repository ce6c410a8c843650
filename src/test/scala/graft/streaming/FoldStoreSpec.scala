package graft.streaming

import graft.SparkSpec

/** [[FoldStore]]'s rename-aside swap: every crash point of the old
  * delete-then-rename idiom left a recoverable directory here, and both
  * the read side and the next compact heal it (r13 ADVICE — a crash
  * between delete and rename made merged() silently return an empty
  * relation: wrong thresholds, re-admitted duplicates). Crash points
  * are simulated by performing the protocol's filesystem steps by hand
  * and stopping mid-way. */
class FoldStoreSpec extends SparkSpec {

  import org.apache.hadoop.fs.Path

  private def fs = FoldStore.fs(spark, artifactPath("foldstore_spec"))

  // each test JVM is a new application, so the path starts out absent
  private def fresh(tag: String): Path = new Path(artifactPath(s"foldstore_spec/$tag"))

  private def mk(p: Path, marker: String): Unit = {
    fs.mkdirs(p)
    fs.create(new Path(p, marker), true).close()
  }
  private def has(p: Path, marker: String): Boolean =
    fs.exists(new Path(p, marker))

  test("happy path: swap replaces contents atomically and leaves no " +
      "siblings") {
    val root = fresh("happy")
    mk(root, "old_data")
    FoldStore.swap(fs, root)(tmp => mk(tmp, "new_data"))
    assert(has(root, "new_data") && !has(root, "old_data"))
    assert(!fs.exists(new Path(root.toString + "_old")) &&
      !fs.exists(new Path(root.toString + "_c")))
  }

  test("crash between rename-aside and rename-into-place: root absent " +
      "but _old complete — reads heal and see the PRE-swap state") {
    val root = fresh("midswap")
    // state: root was renamed aside, tmp staged but not yet in place
    mk(new Path(root.toString + "_old"), "old_data")
    mk(new Path(root.toString + "_c"), "new_data")
    assert(FoldStore.exists(fs, root), "recovery must restore the root")
    assert(has(root, "old_data"),
      "the restored root must hold the complete pre-swap state")
    // the stale staged dir is harmless: the next swap overwrites it
    FoldStore.swap(fs, root)(tmp => mk(tmp, "newer_data"))
    assert(has(root, "newer_data"))
  }

  test("crash after swap before cleanup: stale _old next to the live " +
      "root is deleted, root untouched") {
    val root = fresh("postswap")
    mk(root, "new_data")
    mk(new Path(root.toString + "_old"), "old_data")
    assert(FoldStore.exists(fs, root))
    assert(has(root, "new_data"), "live root must win over stale aside")
    assert(!fs.exists(new Path(root.toString + "_old")),
      "stale aside must be reclaimed")
  }

  test("swap on an absent root is a no-op (nothing folded yet)") {
    val root = fresh("absent")
    var staged = false
    FoldStore.swap(fs, root) { _ => staged = true }
    assert(!staged && !fs.exists(root))
  }
}
