package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Auto-maintenance policy for the persisted index families — the glue
  * between the diagnostics ([[Similarity.indexCellStats]], file-count
  * fragmentation) and the remedies (the per-family compactors, and the
  * rebuild the caller owns). Every long-running ingest loop
  * ([[graft.streaming.EventStream.ingestBatch]]) degrades its indexes in
  * two distinct ways with two distinct fixes:
  *
  *   - FRAGMENTATION — each batch-cost append stacks a new generation of
  *     files (bucketed tables: `numBuckets` files per append; partitioned
  *     code dirs: one file per task per touched cell). Probes then pay
  *     open/footer cost per generation. Remedy: compaction, contents
  *     bit-identical — this object RUNS it when the measured
  *     files-per-bucket/cell generation count crosses the threshold.
  *   - DRIFT (vector indexes only) — appends assign new vectors to FROZEN
  *     centroids; as the distribution moves, mass piles into few cells
  *     and probe cost/recall degrade. Remedy: retrain + rebuild, which
  *     needs the RAW corpus (the index alone cannot retrain itself), so
  *     this object only RECOMMENDS it (`rebuildRecommended`) when the
  *     max cell-to-median ratio crosses the skew threshold; the caller
  *     runs [[Similarity.buildIvfPqIndex]]/[[Similarity.buildIvfIndex]]
  *     with fresh centroids.
  *
  * All measurements are cheap relative to what they guard: one recursive
  * file listing (driver-side, proportional to file count — the very
  * quantity being bounded) and, for vector indexes, one
  * map-side-combinable count-per-cell scan.
  */
object Maintenance {

  /** One maintenance decision: what was measured, what ran, what's left
    * for the caller. `files`/`fileThreshold` are the fragmentation
    * measurement; `maxCellRatio` is 0 for the text families (no cell
    * geometry to skew).
    */
  final case class Report(family: String, files: Long, fileThreshold: Long,
                          compacted: Boolean, maxCellRatio: Double,
                          rebuildRecommended: Boolean)

  private def parquetFileCount(spark: SparkSession, dir: String): Long =
    graft.io.IO.parquetFileCount(spark, dir)

  private def maxCellRatio(spark: SparkSession, codesPath: String): Double =
    Similarity.indexCellStats(spark, codesPath)
      .agg(coalesce(max(col("ratio_to_median")), lit(0.0)))
      .head().getDouble(0)

  /** IVF-PQ codes: compact when the codes dir carries more than
    * `maxFilesPerCell` files per populated cell; recommend a rebuild when
    * the biggest cell exceeds `maxSkewRatio`× the median.
    */
  def maintainIvfPqIndex(spark: SparkSession, indexPath: String,
                         maxFilesPerCell: Int = 4,
                         maxSkewRatio: Double = 8.0): Report =
    maintainCellDir(spark, "ivf_pq", s"$indexPath/codes", maxFilesPerCell,
      maxSkewRatio, () => Similarity.compactIvfPqIndex(spark, indexPath))

  /** [[maintainIvfPqIndex]] for the flat IVF index (the partitioned dir
    * IS the index path).
    */
  def maintainIvfIndex(spark: SparkSession, indexPath: String,
                       maxFilesPerCell: Int = 4,
                       maxSkewRatio: Double = 8.0): Report =
    maintainCellDir(spark, "ivf", indexPath, maxFilesPerCell,
      maxSkewRatio, () => Similarity.compactIvfIndex(spark, indexPath))

  private def maintainCellDir(spark: SparkSession, family: String,
                              codesPath: String, maxFilesPerCell: Int,
                              maxSkewRatio: Double,
                              compact: () => Unit): Report = {
    require(maxFilesPerCell > 0 && maxSkewRatio > 1.0,
      "need maxFilesPerCell > 0, maxSkewRatio > 1")
    val files = parquetFileCount(spark, codesPath)
    // missing / not-yet-built index: degrade to a no-op Report instead of
    // letting spark.read throw — a maintenance sweep over a partially
    // built index set must skip the absent members gracefully
    if (files == 0L)
      return Report(family, 0L, maxFilesPerCell.toLong, compacted = false,
        maxCellRatio = 0.0, rebuildRecommended = false)
    val nCells = math.max(1L,
      spark.read.parquet(codesPath).select("cell_id").distinct().count())
    val threshold = maxFilesPerCell.toLong * nCells
    val doCompact = files > threshold
    if (doCompact) compact()
    val ratio = maxCellRatio(spark, codesPath)
    Report(family, files, threshold, doCompact, ratio,
      ratio > maxSkewRatio)
  }

  /** The generation rule every bucketed family shares: each append
    * stacks about one file per bucket per table, so more than
    * `maxGenerations` × (the catalog's bucket count) files in any of
    * `tables` means the probes open too many generations — run
    * `compact`. `recover` is the family's writer-entry crash recovery
    * and runs before the measurement, so a crashed append's partial
    * files are never counted. An index not in the catalog reads as zero
    * files under a zero threshold: a no-op Report.
    */
  private def maintainGenerations(spark: SparkSession, family: String,
                                  tables: Seq[String], maxGenerations: Int,
                                  recover: () => Unit = () => ())(
                                  compact: => Unit): Report = {
    require(maxGenerations > 0, "maxGenerations must be > 0")
    recover()
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    val files = tables.map(t => bridge.tableLocation(spark, t)
      .fold(0L)(u => parquetFileCount(spark, u.toString))).max
    val threshold = maxGenerations.toLong *
      bridge.tableBucketSpec(spark, tables.head).fold(0)(_.numBuckets)
    val doCompact = files > threshold
    if (doCompact) compact
    Report(family, files, threshold, doCompact, 0.0,
      rebuildRecommended = false)
  }

  /** BM25: compact when either bucketed table has stacked more than
    * `maxGenerations` append generations. The bucket count comes from
    * the catalog; `idCol` and `numBuckets` are not read.
    */
  def maintainBm25Index(spark: SparkSession, name: String, path: String,
                        idCol: String = "doc_id", numBuckets: Int = 32,
                        maxGenerations: Int = 3): Report =
    maintainGenerations(spark, "bm25",
      Seq(s"${name}_postings", s"${name}_docstats"), maxGenerations,
      () => TextAnalysis.recoverBm25Index(spark, name, path))(
      TextAnalysis.compactBm25Index(spark, name, path))

  /** Near-dup (and hash-set) signature index: same generation rule over
    * its two bucketed halves. `path`, `idCol` and `numBuckets` are not
    * read.
    */
  def maintainNearDupIndex(spark: SparkSession, name: String, path: String,
                           idCol: String = "doc_id", numBuckets: Int = 32,
                           maxGenerations: Int = 3): Report =
    maintainGenerations(spark, "near_dup",
      Seq(s"${name}_sig", s"${name}_shingles"), maxGenerations,
      () => Dedup.recoverNearDupIndex(spark, name))(
      Dedup.compactNearDupIndex(spark, name, path, idCol))

  /** Persisted kNN-graph index: the topk relation is rewritten wholesale
    * by every append/delete (fresh layout — never fragments), but the
    * vectors directory APPENDS a generation of files per batch; compact
    * it past `maxFiles` (contents unchanged — one materialize +
    * overwrite). No skew dimension: the graph has no cell geometry.
    */
  def maintainKnnGraphIndex(spark: SparkSession, indexPath: String,
                            maxFiles: Int = 64): Report = {
    require(maxFiles > 0, "maxFiles must be > 0")
    val files = parquetFileCount(spark, s"$indexPath/vectors")
    val doCompact = files > maxFiles
    if (doCompact)
      graft.io.IO.rewriteDir(spark, s"$indexPath/vectors")(identity)
    Report("knn_graph", files, maxFiles.toLong, doCompact, 0.0,
      rebuildRecommended = false)
  }

  /** Binary-quant index: per-row state never skews (no cells, no trained
    * codebook), so the only remedy is append-fragmentation compaction —
    * both flat tables rewrite wholesale past the file threshold; search
    * results are unchanged by construction (same rows, fewer files).
    * Missing/not-yet-built index degrades to a no-op Report. Recovers a
    * crashed append first, like every binary-quant writer entry.
    */
  def maintainBinaryQuantIndex(spark: SparkSession, indexPath: String,
                               maxFiles: Int = 64): Report = {
    require(maxFiles > 0, "maxFiles must be > 0")
    Similarity.recoverBinaryQuantIndex(spark, indexPath)
    val subFiles = Seq("vectors", "codes")
      .map(sub => sub -> parquetFileCount(spark, s"$indexPath/$sub")).toMap
    val files = subFiles.values.max
    val doCompact = files > maxFiles
    // per-sub-table guard: a crash between the two appends can leave one
    // half fragmented and the other absent — the sweep must compact what
    // exists instead of throwing on the missing dir
    if (doCompact) subFiles.collect { case (sub, n) if n > 0 => sub }
      .foreach(sub =>
        graft.io.IO.rewriteDir(spark, s"$indexPath/$sub")(identity))
    Report("binary_quant", files, maxFiles.toLong, doCompact, 0.0,
      rebuildRecommended = false)
  }

  /** Perceptual-hash (aHash) index: one bucketed band table, same
    * generation rule. `path` and `numBuckets` are not read.
    */
  def maintainAHashIndex(spark: SparkSession, name: String, path: String,
                         numBuckets: Int = 32,
                         maxGenerations: Int = 3): Report =
    maintainGenerations(spark, "ahash", Seq(s"${name}_bands"),
      maxGenerations)(Multimodal.compactAHashIndex(spark, name, path))

  /** Contamination fingerprint index: one bucketed table, same rule.
    * `path` and `numBuckets` are not read.
    */
  def maintainContaminationIndex(spark: SparkSession, name: String,
                                 path: String, numBuckets: Int = 32,
                                 maxGenerations: Int = 3): Report =
    maintainGenerations(spark, "contamination", Seq(name),
      maxGenerations)(
      TextAnalysis.compactContaminationIndex(spark, name, path))

  /** Managed Z-ORDER layout (the 7th maintained family): a table written
    * by [[Layout.writeZOrderedManaged]] degrades as plain appends land —
    * appended files are UNCLUSTERED (full-z-span, so footer stats stop
    * pruning them) and are recognizable as exactly the data files NOT in
    * the layout manifest. When their byte share crosses
    * `maxUnclusteredPpm`, the whole table re-clusters.
    *
    * The rewrite is crash-safe under the single-writer contract by
    * STAGING + a two-marker commit protocol: (1) the new clustered
    * layout writes to `_rewrite_tmp` (hidden — concurrent readers of the
    * dir never see it; the committer's `_SUCCESS` marks the stage
    * complete); (1b) the CONSUMED source-file listing persists to
    * `_rewrite_tmp/_sources` — the only files the swap is ever allowed
    * to delete; (2) the manifest rewrites to the staged file names —
    * the durable keep-set — and `_MANIFEST_COMMITTED` is touched in tmp;
    * (3) consumed source files delete and staged files rename into
    * place; (4) tmp drops. Recovery at sweep entry re-converges from
    * ANY crash point: BOTH markers → the swap is committed and must
    * replay (a mid-rename crash may have already deleted sources whose
    * rows exist only in tmp — discarding would lose them); the MANIFEST
    * is the authoritative keep-set and `_sources` bounds the deletes,
    * so rows appended between the crash and this sweep are untouched
    * (they simply stay unclustered until the threshold next trips).
    * Anything less than both markers → the swap never began and the
    * source files are all still in place, so the stage — possibly STALE
    * by now (the same writer may have appended since the crash; its
    * snapshot no longer covers the table) — is discarded wholesale
    * rather than completed: no data loss from any crash point, at the
    * cost of re-running one rewrite when the threshold next trips.
    * A lost manifest outside a swap just makes every file count as
    * unclustered — the safe direction.
    */
  /** What [[maintainZOrderedTable]] measured and did: data-file count,
    * unclustered byte share (ppm) vs its threshold, and whether the
    * re-cluster ran this sweep.
    */
  final case class LayoutReport(files: Long, unclusteredPpm: Long,
                                maxUnclusteredPpm: Long, rewritten: Boolean)

  /** The staged two-marker swap protocol of a MANAGED z-ordered table,
    * factored out so every whole-table rewrite — threshold re-cluster
    * ([[maintainZOrderedTable]]) and GDPR delete
    * ([[deleteFromZOrderedTable]]) — shares ONE crash-recovery story.
    * See the protocol walk-through on [[maintainZOrderedTable]].
    */
  private final class ZOrderSwap(spark: SparkSession, path: String) {
    val fs: org.apache.hadoop.fs.FileSystem =
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        spark.sparkContext.hadoopConfiguration)
    private val tmp = new org.apache.hadoop.fs.Path(s"$path/_rewrite_tmp")
    private val manifestPath = Layout.zorderManifestPath(path)
    private val stagedOk = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
    private val committed =
      new org.apache.hadoop.fs.Path(tmp, "_MANIFEST_COMMITTED")
    private val sourcesPath = new org.apache.hadoop.fs.Path(tmp, "_sources")

    def readManifest(): Set[String] =
      if (graft.io.IO.parquetFileCount(spark, manifestPath) > 0)
        spark.read.parquet(manifestPath).collect()
          .map(_.getString(0)).toSet // manifest is file-count-sized
      else Set.empty

    // phase 1b: persist the CONSUMED source listing — the swap's delete
    // authority. Written before the committed marker, so both-markers
    // recovery always finds it.
    private def writeSources(names: Seq[String]): Unit = {
      import spark.implicits._
      graft.io.IO.writeDir(names.sorted.toDF("file_name"),
        sourcesPath.toString)
    }
    private def readSources(): Option[Set[String]] =
      if (graft.io.IO.parquetFileCount(spark, sourcesPath.toString) > 0)
        Some(spark.read.parquet(sourcesPath.toString).collect()
          .map(_.getString(0)).toSet)
      else None

    // phase 2: durable keep-set — manifest := staged names, then marker
    private def commitManifest(): Unit = {
      import spark.implicits._
      graft.io.IO.writeDir(
        fs.listStatus(tmp).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).sorted.toSeq.toDF("file_name"),
        manifestPath)
      fs.create(committed, true).close()
    }

    // phase 3+4: swap driven by the DURABLE keep-set, deleting ONLY the
    // consumed sources (files appended after staging are not in the
    // stage's snapshot and must survive), then drop the stage.
    // `_sources` missing can only mean a stage committed by a pre-1b
    // version of this writer; its snapshot-consumed-everything semantics
    // apply, so fall back to every current data file.
    private def swapFromManifest(): Unit = {
      val keep = readManifest()
      val consumed = readSources()
      Layout.dataFiles(spark, path)
        .filterNot(f => keep(f.getPath.getName))
        .filter(f => consumed.forall(_(f.getPath.getName)))
        .foreach(f => fs.delete(f.getPath, false))
      fs.listStatus(tmp)
        .filter(f => keep(f.getPath.getName))
        .foreach(f => fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(path, f.getPath.getName)))
      fs.delete(tmp, true)
    }

    /** Crash recovery — run BEFORE any measurement or rewrite: only a
      * COMMITTED swap replays; any half-staged state (even a complete
      * stage) is stale against post-crash appends and is discarded with
      * its sources untouched.
      */
    def recover(): Unit =
      if (fs.exists(tmp)) {
        if (fs.exists(stagedOk) && fs.exists(committed)) swapFromManifest()
        else fs.delete(tmp, true)
      }

    /** Stage `build`(current table) re-clustered on `zCols`, then run
      * the full commit + swap. `consumed` is the data-file listing the
      * caller measured immediately before (single writer, same thread —
      * exactly what `build`'s scan will read).
      */
    def rewrite(consumed: Seq[String], zCols: Seq[String], numFiles: Int,
                bits: Int)(build: DataFrame => DataFrame): Unit = {
      // phase 1: stage the re-clustered layout (source files untouched;
      // the parquet committer's _SUCCESS marks completion)
      Layout.writeZOrderedN(build(spark.read.parquet(path)), zCols,
        tmp.toString, numFiles, bits)
      writeSources(consumed)
      commitManifest()
      swapFromManifest()
    }
  }

  def maintainZOrderedTable(spark: SparkSession, path: String,
                            zCols: Seq[String],
                            maxUnclusteredPpm: Long = 200000L,
                            numFiles: Int = 8, bits: Int = 16)
      : LayoutReport = {
    require(maxUnclusteredPpm >= 0, "maxUnclusteredPpm must be >= 0")
    val swap = new ZOrderSwap(spark, path)
    swap.recover()
    val files = Layout.dataFiles(spark, path)
    if (files.isEmpty)
      return LayoutReport(0L, 0L, maxUnclusteredPpm, rewritten = false)
    val clustered = swap.readManifest()
    val totalBytes = files.map(_.getLen).sum
    val unBytes = files.filterNot(f => clustered(f.getPath.getName))
      .map(_.getLen).sum
    val ppm = if (totalBytes == 0) 0L else 1000000L * unBytes / totalBytes
    val doRewrite = ppm > maxUnclusteredPpm
    if (doRewrite)
      swap.rewrite(files.map(_.getPath.getName), zCols, numFiles,
        bits)(identity)
    LayoutReport(files.size.toLong, ppm, maxUnclusteredPpm,
      rewritten = doRewrite)
  }

  /** GDPR/right-to-be-forgotten delete for the managed z-order family —
    * the 7th family's missing lifecycle leg (build/append/re-cluster
    * existed; see [[graft.ops.Dedup.deleteFromPairClusters]] for the
    * discipline). Anti-joins `ids` out of the CURRENT table (clustered
    * files AND any unclustered appends — a forgotten row must leave no
    * matter where it sits) and rewrites the survivors re-clustered
    * through the SAME staged two-marker swap as the maintenance sweep,
    * manifest refreshed — so after a delete the table is both forgotten-
    * free and fully clustered, and every crash point converges exactly
    * like the sweep's (an uncommitted delete stage discards — the delete
    * simply has not happened yet, the caller's retry contract — and a
    * committed one replays without touching post-crash appends).
    * Returns the number of rows removed.
    */
  def deleteFromZOrderedTable(spark: SparkSession, path: String,
                              zCols: Seq[String], ids: DataFrame,
                              idCol: String, numFiles: Int = 8,
                              bits: Int = 16): Long = {
    val swap = new ZOrderSwap(spark, path)
    swap.recover()
    val files = Layout.dataFiles(spark, path)
    if (files.isEmpty) return 0L
    val gone = ids.select(col(idCol)).distinct().localCheckpoint(true)
    val before = spark.read.parquet(path).count()
    try {
      swap.rewrite(files.map(_.getPath.getName), zCols, numFiles, bits)(
        _.join(gone, Seq(idCol), "left_anti"))
      before - spark.read.parquet(path).count()
    } finally org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(gone)
  }
}
