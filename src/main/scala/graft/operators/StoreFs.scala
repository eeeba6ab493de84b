package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-`FileSystem` plumbing for every PERSISTED derived artifact
  * (the minhash signature store, the IVF-PQ ANN index, parquet result
  * memos). One rule: any path a Spark job writes with
  * `df.write.parquet` must be discovered and gated through the SAME
  * filesystem abstraction Spark wrote it with — `java.io.File` /
  * `java.nio.file` resolve only local POSIX paths, so against an
  * `hdfs://` or `s3a://` store they return `null`/false and the caller
  * maps that to "nothing there yet": a serve silently drops every
  * admitted append, a skip-if-exists gate re-runs (or worse, trusts a
  * half-written store). That is a wrong-ANSWER shape with no error, in
  * exactly the cluster deployment the persisted stores exist for —
  * the one failure class a local bench and oracle can never catch.
  *
  * All methods are driver-side metadata calls (exists/listStatus/
  * rename): no job runs, nothing reads data. The `FileSystem` is
  * resolved per-path from the session's Hadoop configuration, so one
  * code path serves `file:`, `hdfs:` and object stores alike.
  */
object StoreFs {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff the dataset at `dir` is COMPLETE: its `_SUCCESS` commit
    * marker exists. The marker is what Spark's file output committer
    * writes last, so it is the only existence test a skip-if-exists
    * caller may trust — testing the directory alone accepts a crashed
    * half-write. (Deployments that disable the marker via
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` opt out
    * of this discipline store-wide; the stores here require it.) */
  def datasetComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    fs(spark, dir).exists(p)
  }

  /** The COMPLETED child datasets of `dir`: subdirectories carrying a
    * `_SUCCESS` marker, as scheme-qualified path strings in
    * lexicographic order. Empty when `dir` does not exist yet — and,
    * unlike `java.io.File.listFiles`, empty-vs-unresolvable is not
    * conflated: a reachable remote filesystem with no appends lists
    * empty, an unreachable one throws instead of silently serving a
    * stale store. */
  def completedChildren(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && f.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.toString).sorted
  }

  /** Delete `dir` (recursively) if present. Returns true when
    * something was deleted. */
  def delete(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).delete(new Path(dir), true)

  /** Promote `src` over `dest`: remove any existing `dest` and rename
    * `src` into place. The rename is atomic ONLY on rename-native
    * filesystems (`file:`, HDFS); on object stores (s3a) it is a
    * copy+delete that materializes `dest` file-by-file — and since
    * `_SUCCESS` sorts before `part-*`, a marker written inside `src`
    * could become visible while data files are still copying. Callers
    * must therefore never let a trusted marker ride through the
    * rename: either the promotion happens inside a store-level marker
    * bracket (the [[Dedup.compactMinhashSigStore]] protocol — readers
    * gate on `meta/_SUCCESS`, deleted before and recreated after), or
    * the staged `src` is stripped of its own `_SUCCESS` first and the
    * marker is created fresh after the rename returns (the
    * [[Dedup.appendMinhashSigStore]] shard promotion). Under either
    * bracket an observer sees the old layout, an incomplete (ignored)
    * dataset, or the new one — on any filesystem. */
  def promote(spark: SparkSession, src: String, dest: String): Unit = {
    val f = fs(spark, dest)
    val d = new Path(dest)
    if (f.exists(d)) f.delete(d, true)
    val parent = d.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    require(f.rename(new Path(src), d),
      s"promote failed: rename($src -> $dest) returned false")
  }

  /** First-writer-wins promotion of an IMMUTABLE dataset: rename the
    * staged `src` to `dest` only if no COMPLETE dataset is already
    * there, and never touch a complete one — the discipline that makes
    * a fingerprint-keyed directory safe for concurrent writers (two
    * sessions that both saw "not complete" both build; one promotes,
    * the other discards its stage and reads the winner's table).
    * A `dest` that exists WITHOUT a marker is a crashed partial from a
    * writer that died mid-promote; it is deleted and replaced. Returns
    * true when `src` was promoted, false on a lost race (`src` is
    * deleted either way). Like [[promote]], callers must marker-
    * bracket: strip `src`'s own `_SUCCESS` before calling and
    * [[createMarker]] on `dest` after a `true` return, so a non-atomic
    * object-store rename never exposes a half-copied dataset as
    * complete. */
  def promoteIfAbsent(spark: SparkSession, src: String, dest: String): Boolean = {
    val f = fs(spark, dest)
    val d = new Path(dest)
    if (datasetComplete(spark, dest)) { f.delete(new Path(src), true); false }
    else {
      if (f.exists(d)) f.delete(d, true) // crashed partial — no marker
      val parent = d.getParent
      if (parent != null && !f.exists(parent)) f.mkdirs(parent)
      if (f.rename(new Path(src), d)) true
      else if (datasetComplete(spark, dest)) {
        // a concurrent writer renamed into place between our delete and
        // rename — their complete dataset serves; ours is discarded
        f.delete(new Path(src), true); false
      } else throw new IllegalStateException(
        s"promoteIfAbsent: rename($src -> $dest) failed with no complete " +
          "dataset at the destination — filesystem fault, not a lost race")
    }
  }

  /** (Re-)create a zero-length `_SUCCESS` marker under `dir` — the
    * closing half of a marker-bracketed rewrite. */
  def createMarker(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    val m = new Path(dir, "_SUCCESS")
    if (!f.exists(m)) f.create(m, true).close()
  }

  /** Remove the `_SUCCESS` marker under `dir` — the opening half of a
    * marker-bracketed rewrite: with the marker gone, gate-checking
    * readers see the dataset as incomplete for the whole rewrite. */
  def deleteMarker(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir, "_SUCCESS"), false)

  /** True iff `dir` holds at least one committer data file (`part-*`) —
    * regardless of marker state. Crash-repair checks use it to tell
    * "dataset written but marker stripped" from "nothing there". */
  def dataFilesPresent(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    f.exists(p) && f.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
  }

  /** Output-file sizing for a frame about to be WRITTEN as a persisted
    * serve-side dataset (guide §6: aim for large-MB output files; the
    * stores here are written once and re-SCANNED by every serve, so the
    * file count is the serve's task count and footer-read count). The
    * writer otherwise emits one file per input partition: at bench
    * scale a signature table cached at session shuffle width lands as
    * 30–60 near-empty files and every serve pays a task per file
    * (measured r17: the compact-serve scan ran 59 tasks over 59 tiny
    * files, in-rows ≈ tasks).
    *
    * An AQE `rebalance`: one shuffle after the frame's last stage,
    * whose partitions AQE then coalesces (or splits) by the bytes it
    * MEASURED, so a tiny frame lands as one file and a corpus-sized one
    * as many. The frame's own stages keep their width, which a
    * `coalesce` to the file count would not: with no shuffle it
    * narrows the frame's last stage too (an append shard's signature
    * hashing or an ANN index's codes join would run in one task at
    * bench scale). Without AQE the rebalance writes one file per
    * shuffle partition. */
  def sizedForWrite(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.hint("rebalance")
}
