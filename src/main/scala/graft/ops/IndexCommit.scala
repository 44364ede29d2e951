package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** ONE commit-marker discipline for every multi-directory persisted
  * index (near-dup sig+shingles, BM25 postings+docstats+meta,
  * binary-quant vectors+codes, …) — the z-order staged-swap idea
  * applied to APPENDS, factored out so each family shares the same
  * crash-recovery story instead of growing its own.
  *
  * Protocol (single-writer per index root, the `.lock` contract):
  *   1. writer entry: [[recover]] converges any crashed predecessor;
  *   2. the PRE-mutation data-file listing of every participating
  *      directory persists to `<root>/_append_pending`;
  *   3. the mutation's writes run;
  *   4. the marker deletes — the COMMIT point.
  *
  * Recovery: a surviving marker means a crash inside the window, and
  * every data file NOT in the pre-listing is the crashed mutation's
  * partial output — deleting those reconverges all directories to the
  * exact pre-mutation bytes. Like the z-order "less than both markers"
  * branch this DISCARDS rather than completes (the batch is not
  * durable anywhere, so completion is impossible); the caller's replay
  * re-adds it, and each family's replay guards make that idempotent.
  * A TORN marker (directory exists, no `_SUCCESS` inside) means the
  * crash hit the marker write itself — nothing was mutated, the marker
  * just drops. Validity is gated on the `_SUCCESS` file, NOT on data
  * files being present: `_SUCCESS` is written only at the atomic
  * FileOutputCommitter job commit, after every part file has been
  * renamed into place, so its presence proves the listing is COMPLETE.
  * (Counting parquet files would accept a partially-committed marker —
  * v1 commit renames part files sequentially, so a crash mid-commit can
  * leave a strict subset in place — and a recovery driven by an
  * incomplete listing would delete committed pre-existing index files
  * as "partial output": silent loss of durable data, the exact class
  * this discipline exists to close.) Belt-and-braces the marker also
  * writes via `coalesce(1)` so the listing is one part file. The
  * rollback itself deletes by exact file name, never touching
  * `_SUCCESS`/`_append_pending`, so data-dir `_SUCCESS` files carry no
  * meaning here — only the marker's does. `postRecover` runs after a
  * real rollback for state the listing cannot restore — DERIVED
  * artifacts that overwrite in place (the BM25 meta) rebuild from the
  * rolled-back relations instead — and runs BEFORE the marker deletes,
  * so a crash between rollback and rebuild leaves the marker in place
  * and the next writer entry re-runs the (idempotent) recovery instead
  * of leaving the derived artifact permanently inconsistent.
  *
  * Two rules hold for every marker-guarded family (near-dup/hash-set,
  * BM25, binary-quant), each stated once as a [[IndexCommit.Marker]]:
  *   - EVERY writer entry recovers first — append, compact, delete and
  *     the maintenance compaction. A rewrite that skipped it would give
  *     every file a new name while a crashed append's marker still
  *     lists the OLD names, and the next entry's rollback would then
  *     delete the whole rewritten index. The check is one filesystem
  *     `exists`, not a Spark job.
  *   - the catalog's bucket spec is the ONLY bucket spec: appends and
  *     in-place rewrites take count, bucket columns and sort columns
  *     from the catalog ([[graft.io.IO.appendBucketed]],
  *     [[graft.io.IO.rewriteTable]]), never from a caller argument.
  *
  * Why replay-idempotence alone is not enough (the r14 verdict's gap):
  * a crashed half-append leaves the index INCONSISTENT until the same
  * batch happens to be redelivered — e.g. near-dup sig rows whose
  * shingles are missing silently drop their candidate pairs at verify
  * time, and a BM25 crash between the postings and docstats writes
  * would DUPLICATE postings on replay (the batch guard keys docstats,
  * which never saw the batch). The marker closes both holes.
  */
/** A writer lost the fence: a NEWER writer entered the same index root
  * (after stealing a stale lock from this one), so this writer's
  * mutation must not commit — the newer writer's entry recovery owns
  * the root now.
  */
class FencedWriterException(msg: String)
  extends IllegalStateException(msg)

object IndexCommit {

  val MarkerDir = "_append_pending"
  val FenceDir = ".fence"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ----------------------------------------------- fencing tokens

  /** Highest allocated writer epoch under `root` (0 when none). */
  def maxEpoch(spark: SparkSession, root: String): Long = {
    val dir = new Path(new Path(root), FenceDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** Allocate a MONOTONE writer epoch for `root` — the fencing token
    * the stale-steal `.lock` alone cannot provide: exclusive-create of
    * `<root>/.fence/<epoch>` arbitrates (at most one writer owns any
    * epoch; losers retry above the new max), so a writer that stole a
    * stale lock ALWAYS carries a strictly higher epoch than the writer
    * it stole from. Validating `myEpoch == maxEpoch` right before a
    * mutation commits turns the classic double-steal interleaving into
    * a rejected commit instead of silent corruption. Old epoch files
    * prune on allocation (a short tail is kept for debugging; pruning
    * below the max never changes the max).
    */
  def acquireFence(spark: SparkSession, root: String): Long = {
    val dir = new Path(new Path(root), FenceDir)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    var e = maxEpoch(spark, root) + 1
    var got = false
    while (!got) {
      try {
        fs.create(new Path(dir, e.toString), false).close()
        got = true
      } catch { case _: java.io.IOException =>
        e = math.max(maxEpoch(spark, root), e) + 1
      }
    }
    fs.listStatus(dir).foreach { s =>
      scala.util.Try(s.getPath.getName.toLong).toOption
        .filter(_ < e - 8).foreach(_ => fs.delete(s.getPath, false))
    }
    e
  }

  /** Throw [[FencedWriterException]] iff a newer writer has entered
    * `root` since `epoch` was allocated.
    */
  def requireFence(spark: SparkSession, root: String, epoch: Long): Unit = {
    val mx = maxEpoch(spark, root)
    if (mx != epoch)
      throw new FencedWriterException(
        s"writer epoch $epoch was fenced off by a newer writer " +
          s"(epoch $mx) on $root — this mutation must not commit; " +
          "the newer writer's entry recovery owns the root")
  }

  /** Data files (relative names) of one participating directory. */
  def dataFiles(fs: FileSystem, dir: Path): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet

  /** Converge a crashed mutation under `root`. Returns true iff a
    * valid pending marker was found (and the rollback + `postRecover`
    * ran).
    */
  def recover(spark: SparkSession, root: String, dirs: Seq[String],
              refreshTables: Seq[String] = Nil,
              postRecover: () => Unit = () => ()): Boolean = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    val pending = new Path(rootP, MarkerDir)
    if (!fs.exists(pending)) false
    else {
      // _SUCCESS only appears at atomic job commit, i.e. AFTER every
      // part file of the listing was renamed in — a marker without it
      // is torn (possibly a PARTIAL listing) and must be dropped, never
      // acted on: rolling back against an incomplete listing would
      // delete durable pre-existing index files.
      val valid = fs.exists(new Path(pending, "_SUCCESS"))
      if (valid) {
        val pre = spark.read.parquet(pending.toString).collect()
          .map(r => (r.getString(0), r.getString(1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        for (d <- dirs) {
          val dir = new Path(rootP, d)
          val keep = pre.getOrElse(d, Set.empty[String])
          dataFiles(fs, dir).filterNot(keep).foreach { f =>
            fs.delete(new Path(dir, f), false) }
        }
        refreshTables.foreach { t =>
          if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t) }
        // Idempotent derived-state rebuild runs BEFORE the marker
        // deletes: a crash here re-enters this whole path next entry.
        postRecover()
      }
      fs.delete(pending, true)
      valid
    }
  }

  /** One family's marker discipline, stated once: the index root, the
    * participating data directories (relative to the root), the catalog
    * tables to refresh after a rollback, and the derived-state rebuild.
    * [[recover]] is the entry step of every compact/delete/maintain;
    * [[guard]] wraps a mutation that adds files (the append).
    */
  final case class Marker(spark: SparkSession, root: String,
                          dirs: Seq[String], tables: Seq[String] = Nil,
                          postRecover: () => Unit = () => ()) {
    def recover(): Boolean =
      IndexCommit.recover(spark, root, dirs, tables, postRecover)
    def guard(body: (() => Unit) => Unit): Unit =
      withMarkerFenced(spark, root, dirs, tables, postRecover)(body)
  }

  /** Entry recovery + pre-listing marker around `body` + commit, with
    * the FENCE discipline threaded through: the writer allocates a
    * monotone epoch at entry, re-validates it after the marker lands,
    * hands the body a `check` thunk to call between
    * its own mutation steps, and validates ONCE MORE immediately
    * before the commit (the marker delete). A writer that was
    * stale-stolen therefore CANNOT commit — it throws
    * [[FencedWriterException]] and leaves its marker (if the newer
    * writer has not already consumed it) for the next entry recovery
    * to roll back. Residual exposure, documented: a body WRITE already
    * in flight when the newer writer's recovery runs can still land
    * after it — closing that last window needs store-side conditional
    * writes (e.g. S3 If-None-Match per file), which plain HDFS/POSIX
    * rename semantics cannot express; the mid-body `check` calls bound
    * the window to a single mutation step.
    */
  def withMarkerFenced(spark: SparkSession, root: String,
                       dirs: Seq[String],
                       refreshTables: Seq[String] = Nil,
                       postRecover: () => Unit = () => ())(
                       body: (() => Unit) => Unit): Unit = {
    val epoch = acquireFence(spark, root)
    recover(spark, root, dirs, refreshTables, postRecover)
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    val pending = new Path(rootP, MarkerDir)
    val pre: Seq[(String, String)] = dirs.flatMap { d =>
      dataFiles(fs, new Path(rootP, d)).toSeq.sorted.map(f => (d, f)) }
    locally {
      import spark.implicits._
      // coalesce(1): the listing is one part file, so the v1 sequential
      // rename window cannot leave a partial listing even in principle;
      // _SUCCESS (checked by recover) remains the authoritative gate.
      graft.io.IO.writeDir(pre.toDF("half", "file_name").coalesce(1),
        pending.toString)
    }
    def check(): Unit = requireFence(spark, root, epoch)
    check()
    body(check _)
    check() // the fence gate: a newer writer exists → do NOT commit
    fs.delete(pending, true) // COMMIT
  }
}
