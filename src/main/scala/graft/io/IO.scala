package graft.io

import graft.Materialize
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.graftbridge.ColumnBridge

/** File IO surface of the reference, Spark-first (SURVEY.md §2.1).
  *
  * - CSV reads carry the pandas-parity options (`read_csv(...,
  *   skipinitialspace=True)`, `csv2parquet.py:75`): header, schema
  *   inference, leading-whitespace strip (Spark's read-side default is
  *   false — set explicitly).
  * - Format dispatch by extension mirrors `read_file`/`write_file`
  *   (`add_country.py:44-72`, `agg.py:47-77`): `.csv` / `.parquet`, error
  *   on anything else.
  * - `agg` output stays Parquet-only regardless of input format — the
  *   reference quirk at `agg.py:171-172` (documented in SURVEY §2.1 S10).
  */
object IO {

  val CsvExt = "csv"
  val ParquetExt = "parquet"
  val JsonExt = "json"
  val JsonlExt = "jsonl"
  val OrcExt = "orc"

  /** Lower-cased extension without the dot, "" if none. */
  def extensionOf(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val i = base.lastIndexOf('.')
    if (i < 0) "" else base.substring(i + 1).toLowerCase(java.util.Locale.ROOT)
  }

  /** `read_csv(src, index_col=False, skipinitialspace=True, low_memory=True)`
    * parity (`csv2parquet.py:75`). Chunked low-memory parse is Spark's
    * native partition-wise CSV reader; dtype inference is `inferSchema`.
    *
    * Integer columns are upcast to long: pandas infers int64 (never int32),
    * so without the upcast a converted Parquet file would carry INT32 where
    * the reference emits INT64 — a schema-level deviation visible to any
    * downstream reader. The full inference matrix (incl. the two remaining
    * documented deviations: int-with-NA and lowercase booleans) is pinned
    * by CsvInferenceParitySpec.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("ignoreLeadingWhiteSpace", "true")
      .csv(path)
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val cols = raw.schema.fields.map { f =>
      if (f.dataType == IntegerType) col(f.name).cast(LongType).as(f.name)
      else col(f.name)
    }
    raw.select(cols.toSeq: _*)
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC read (columnar sibling of Parquet — common in Hive-era lakes;
    * an extension beyond the reference's csv/parquet surface). Spark's
    * native reader gives the same pushdown/pruning behavior as Parquet.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines read (one object per line — the interchange format of
    * web-scale text corpora; an extension beyond the reference's csv/
    * parquet surface). Schema inference costs a full sampling pass, so at
    * corpus scale pass `schema` explicitly and keep the read single-pass.
    */
  def readJson(spark: SparkSession, path: String,
               schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** `read_file(path[, cols])` — extension dispatch + optional projection
    * pushdown (`agg.py:47-61`). The select is logical: Catalyst prunes
    * columns into the scan (ColumnPruning), so Parquet reads only `cols`.
    */
  def readFile(spark: SparkSession, path: String, cols: Seq[String] = Nil): DataFrame = {
    val df = extensionOf(path) match {
      case CsvExt => readCsv(spark, path)
      case ParquetExt => readParquet(spark, path)
      case JsonExt | JsonlExt => readJson(spark, path)
      case OrcExt => readOrc(spark, path)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported file type '.$other' for $path (expected .csv, .parquet, .orc, or .json(l))")
    }
    if (cols.isEmpty) df else df.select(cols.head, cols.tail: _*)
  }

  /** `write_file(df, path, file_type)` (`add_country.py:59-72`): format
    * chosen by the target extension; CSV keeps the header, Parquet has no
    * index concept (parity with `index=False` is free).
    */
  def writeFile(df: DataFrame, path: String): Unit = extensionOf(path) match {
    case CsvExt => writeSingleFile(df, path, CsvExt)
    case ParquetExt => writeSingleFile(df, path, ParquetExt)
    case JsonExt | JsonlExt => writeSingleFile(df, path, JsonExt)
    case OrcExt => writeSingleFile(df, path, OrcExt)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported file type '.$other' for $path (expected .csv, .parquet, .orc, or .json(l))")
  }

  /** The reference emits ONE file per input file (`to_parquet(dest)`);
    * Spark emits a directory of parts. For CLI parity we write to a scratch
    * dir and move the single part into place. coalesce(1) is fine here —
    * per-file outputs are small by construction (one input file's worth);
    * large collated outputs should use `writeDir` instead.
    */
  def writeSingleFile(df: DataFrame, dest: String, format: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(conf)
    val tmp = new Path(
      destPath.getParent,
      s".${destPath.getName}_tmp_${System.nanoTime()}")
    val writer = df.coalesce(1).write.mode(SaveMode.Overwrite)
    (format match {
      case CsvExt => writer.option("header", "true").format("csv")
      case JsonExt | JsonlExt => writer.format("json")
      case ParquetExt => writer.format("parquet")
      case OrcExt => writer.format("orc")
    }).save(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath)
      .find(p => p.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    // guard the silent-loss paths: an existing non-empty DIRECTORY at dest
    // would survive the non-recursive delete and swallow the rename (the
    // part would land at dest/part-*); a false rename (e.g. cross-filesystem)
    // would otherwise be followed by deleting the only copy in tmp.
    if (fs.exists(destPath)) {
      if (fs.getFileStatus(destPath).isDirectory)
        throw new IllegalStateException(
          s"destination $dest exists and is a directory; refusing to overwrite")
      fs.delete(destPath, false)
    }
    if (!fs.rename(part, destPath)) {
      fs.delete(tmp, true)
      throw new IllegalStateException(s"rename $part -> $destPath failed")
    }
    fs.delete(tmp, true)
  }

  /** Directory-output variant — the scalable default shape for big results
    * (collate mode at 100 TB): parallel part files, optional partitioning.
    */
  def writeDir(df: DataFrame, dest: String, format: String = ParquetExt,
               partitionBy: Seq[String] = Nil): Unit = {
    val w0 = df.write.mode(SaveMode.Overwrite)
    val w1 = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    (format match {
      case CsvExt => w1.option("header", "true").format("csv")
      case _ => w1.format(format)
    }).save(dest)
  }

  /** Recursive count of .parquet data files under `dir`; 0 when the dir
    * is absent — the existence probe shared by the index-maintenance
    * sweeps and the warm-relation validity checks (a missing or
    * half-built table must read as "not there", never throw).
    */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** Incremental partition maintenance: overwrite ONLY the partitions
    * present in `df`, leaving all other partitions of `dest` untouched
    * (dynamic partition overwrite). This is the operational shape of a
    * recurring ETL at 100 TB — reprocess yesterday's partitions in place
    * without rewriting (or even listing) the other years of data; static
    * overwrite mode would drop the whole table first.
    */
  def overwritePartitions(df: DataFrame, dest: String,
                          partitionBy: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(dest)

  /** Write a DataFrame as a BUCKETED external parquet table (bucket
    * metadata lives in the catalog, so `saveAsTable` is required; `path`
    * keeps the data out of the default warehouse). Two tables bucketed by
    * their join key with the same bucket count join WITHOUT an exchange —
    * at 100 TB this converts every recurring fact-fact join on the key
    * into a shuffle-free zipped scan (pay one shuffle at write time,
    * amortized over every subsequent join). Optionally sorted within
    * buckets so sort-merge joins skip the sort too.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], numBuckets: Int,
                    sortCols: Seq[String] = Nil): Unit =
    saveBucketed(df.write.mode(SaveMode.Overwrite).option("path", path),
      table, BucketSpec(numBuckets, bucketCols, sortCols))

  /** Append `df` to the bucketed catalog table `table` under the table's
    * OWN bucket spec (count, bucket columns, sort columns), read from the
    * catalog: Spark rejects an append whose bucketing is missing or
    * differs from the table's, and the build already recorded the spec,
    * so no caller restates it.
    */
  def appendBucketed(df: DataFrame, table: String): Unit =
    saveBucketed(df.write.mode(SaveMode.Append), table,
      catalogSpec(df.sparkSession, table))

  /** Rewrite the bucketed catalog table `table` in place as
    * `keep(current rows)`: the result is materialised BEFORE the
    * overwrite (the read never races its own rewrite), written to the
    * table's catalog location under its catalog bucket spec, and the
    * checkpoint is released however the write ends. `keep = identity` is
    * a compaction (same rows, one file generation); an anti-join is a
    * delete.
    */
  def rewriteTable(spark: SparkSession, table: String)
                  (keep: DataFrame => DataFrame): Unit = {
    val spec = catalogSpec(spark, table)
    val loc = ColumnBridge.tableLocation(spark, table).get.toString
    Materialize.using(keep(spark.table(table))) { m =>
      saveBucketed(m.write.mode(SaveMode.Overwrite).option("path", loc),
        table, spec)
    }
  }

  /** [[rewriteTable]] for a flat parquet directory (no catalog entry):
    * `keep(current rows)` materialised, then overwritten in place.
    */
  def rewriteDir(spark: SparkSession, dir: String)
                (keep: DataFrame => DataFrame): Unit =
    Materialize.using(keep(spark.read.parquet(dir)))(writeDir(_, dir))

  private def catalogSpec(spark: SparkSession, table: String): BucketSpec =
    ColumnBridge.tableBucketSpec(spark, table).getOrElse(
      throw new IllegalStateException(s"'$table' is not a bucketed table"))

  private def saveBucketed(w: DataFrameWriter[Row], table: String,
                           spec: BucketSpec): Unit = {
    val cols = spec.bucketColumnNames
    val sorts = spec.sortColumnNames
    val b = w.bucketBy(spec.numBuckets, cols.head, cols.tail: _*)
    (if (sorts.nonEmpty) b.sortBy(sorts.head, sorts.tail: _*) else b)
      .format("parquet").saveAsTable(table)
  }

  /** Write `df` to `dest` (a parquet directory) once per (session, dest)
    * — the parquet-backed session-cache primitive behind the shared
    * relations several queries would otherwise re-derive (cluster reps,
    * mined spans, DSIR weights): the first caller computes and persists,
    * every later caller reads the stored copy — bit-identical when the
    * producer is deterministic, because parquet round-trips the types
    * exactly. `df` is BY-NAME: never evaluated on a cached call. Same
    * staleness rationale as [[ensureBucketed]]: the skip is
    * session-scoped (RuntimeConfig), so a fresh process always rebuilds
    * over a stale on-disk copy. Returns true iff the write ran.
    */
  def ensureWritten(spark: SparkSession, dest: String)
                   (df: => DataFrame): Boolean = IO.synchronized {
    val key = s"graft.internal.dirWritten.$dest"
    if (spark.conf.getOption(key).isDefined) false
    else { writeDir(df, dest); spark.conf.set(key, "true"); true }
  }

  /** [[writeBucketed]] unless `table` is already registered in THIS
    * session's catalog — the build-once/probe-many lifecycle without
    * paying the build on every call. Scoping the skip to the session
    * catalog (in-memory, dies with the JVM) rather than to the path on
    * disk is deliberate: a leftover path from an earlier process may
    * describe different source data, and silently probing it would be a
    * stale-index correctness bug; a fresh session always rebuilds.
    * Returns true iff the build ran.
    */
  def ensureBucketed(df: DataFrame, table: String, path: String,
                     bucketCols: Seq[String], numBuckets: Int,
                     sortCols: Seq[String] = Nil): Boolean = {
    val spark = df.sparkSession
    if (spark.catalog.tableExists(table)) false
    else { writeBucketed(df, table, path, bucketCols, numBuckets, sortCols); true }
  }

  /** Recursive case-insensitive CSV discovery (`csv2parquet.py:85`)
    * via Hadoop FileSystem — driver-side listing, needed when each input
    * file maps to its own output file (per-file job granularity).
    */
  def discoverCsvFiles(spark: SparkSession, dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && extensionOf(f.getPath.getName) == CsvExt)
        out += f.getPath.toString
    }
    out.sorted.toSeq // deterministic processing order (csv2parquet.py:54,56)
  }

  /** User-supplied wildcard glob → file list (`add_country.py:135`,
    * `agg.py:178`).
    */
  def globFiles(spark: SparkSession, pattern: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    statuses.filter(_.isFile).map(_.getPath.toString).sorted.toSeq
  }
}

/** Destination-path derivation (`csv2parquet.py:63-79`,
  * `add_suffix_to_filename` at `add_country.py:75-79` / `agg.py:80-84`).
  * Implements the CORRECT suffix semantics (`agg.py:84`); the reference's
  * `add_country.py:79` double-dot variant is a bug we do not reproduce
  * (SURVEY.md §2.1 S11).
  */
object PathDerive {

  /** `file.ext` + suffix → `file{suffix}.ext`. */
  def addSuffix(path: String, suffix: String): String = {
    val i = path.lastIndexOf('.')
    val slash = path.lastIndexOf('/')
    if (i <= slash) s"$path$suffix"
    else s"${path.substring(0, i)}$suffix${path.substring(i)}"
  }

  /** csv2parquet dest resolution (`csv2parquet.py:63-79`): empty dest →
    * sibling `.parquet`; dest ending in "/" (directory) → same basename
    * under it; otherwise the explicit dest.
    */
  def csvToParquetDest(src: String, dest: String): String = {
    val base = src.substring(src.lastIndexOf('/') + 1)
    val parquetName = {
      val i = base.lastIndexOf('.')
      (if (i < 0) base else base.substring(0, i)) + ".parquet"
    }
    if (dest.isEmpty) {
      val dir = src.substring(0, src.lastIndexOf('/') + 1)
      s"$dir$parquetName"
    } else if (dest.endsWith("/")) s"$dest$parquetName"
    else dest
  }
}
