package graft.io

import com.univocity.parsers.csv.CsvParser
import graft.Materialize
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.{coalesce, col, concat, element_at, lit,
  monotonically_increasing_id, raise_error, struct, typedLit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, NullType, StringType,
  StructField, StructType}

/** File IO surface of the reference, Spark-first (SURVEY.md §2.1).
  *
  * - CSV reads carry the pandas-parity options (`read_csv(...,
  *   skipinitialspace=True)`, `csv2parquet.py:75`): header, schema
  *   inference, leading-whitespace strip (Spark's read-side default is
  *   false — set explicitly).
  * - Format dispatch by extension mirrors `read_file`/`write_file`
  *   (`add_country.py:44-72`, `agg.py:47-77`): `.csv` / `.parquet`, error
  *   on anything else.
  * - File reads run no schema job: CSV schemas for any number of files
  *   come from one job, Parquet schemas from the footer on the driver, and
  *   reads take the files as listed (no second listing).
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

  /** The options of the pandas-parity CSV read (`read_csv(src,
    * index_col=False, skipinitialspace=True, low_memory=True)`,
    * `csv2parquet.py:75`): header, schema inference, leading-whitespace
    * strip (Spark's read-side default is false — set explicitly).
    */
  private val CsvReadOptions = Map(
    "header" -> "true", "inferSchema" -> "true", "ignoreLeadingWhiteSpace" -> "true")

  /** `read_csv` parity for one file: its [[csvSchemas]] schema, then a
    * read under that schema. Chunked low-memory parse is Spark's native
    * partition-wise CSV reader. The full inference matrix (incl. the
    * documented deviations: int-with-NA and lowercase booleans) is pinned
    * by CsvInferenceParitySpec.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = readFile(spark, path)

  /** Each CSV file's schema as Spark's `header` + `inferSchema` +
    * `ignoreLeadingWhiteSpace` read of that file alone infers it, with
    * integer columns upcast to long: pandas infers int64 (never int32), so
    * without the upcast a converted Parquet file would carry INT32 where
    * the reference emits INT64. None for a file with no header line (0
    * bytes, or blank lines only), where Spark infers no columns.
    *
    * All files together cost one Spark job. Each file's header line is
    * read on the driver; one `text` scan over every file, keyed by
    * `_metadata.file_path`, is folded per file with catalyst's
    * `CSVInferSchema` under the `CSVOptions` Spark's CSV source builds —
    * the per-row fold and merge that source runs over one file. The job
    * collects one type array per file and scan split.
    */
  def csvSchemas(spark: SparkSession, files: Seq[String]): Seq[Option[StructType]] = {
    val sql = ColumnBridge.sqlConf(spark)
    val opts = new CSVOptions(CsvReadOptions, sql.csvColumnPruning,
      sql.sessionLocalTimeZone, sql.columnNameOfCorruptRecord)
    val conf = spark.sparkContext.hadoopConfiguration
    val parser = new CsvParser(opts.asParserSettings)
    // (status, header line, column names) of every file with a header line
    val headed = files.map(f => status(f, conf)).map { st =>
      headerLine(st, conf).flatMap { line =>
        Option(parser.parseLine(line)).map(row =>
          (st, line, CSVUtils.makeSafeHeader(row, sql.caseSensitiveAnalysis, opts)))
      }
    }
    val firstLines = headed.flatten.map { case (st, line, names) =>
      pathKey(st) -> (line, names.length)
    }.toMap
    val infer = new CSVInferSchema(opts)
    val types =
      if (firstLines.isEmpty) Map.empty[String, Array[DataType]]
      else {
        val text = ColumnBridge.readListed(spark, headed.flatten.map(_._1), "text",
          StructType(Seq(StructField("value", StringType))), Map.empty)
          .select(col("_metadata.file_path"), col("value"))
        ColumnBridge.withSQLConfPropagated(spark) {
          text.rdd.mapPartitions(foldCsvTypes(opts, firstLines)).collect()
        }.toSeq.groupMapReduce(_._1)(_._2)(infer.mergeRowTypes)
      }
    headed.map(_.map { case (st, _, names) =>
      val fields = infer.toStructFields(
        types.getOrElse(pathKey(st), Array.fill[DataType](names.length)(NullType)), names)
      StructType(fields.map(f =>
        if (f.dataType == IntegerType) f.copy(dataType = LongType) else f))
    })
  }

  /** One partition of the inference scan, folded per file: the lines
    * Spark's CSV inference keeps (`CSVUtils.filterCommentAndEmpty`, then
    * `filterHeaderLine`, which drops every copy of the header line), each
    * tokenized and folded into its file's types with `inferRowType`.
    */
  private def foldCsvTypes(opts: CSVOptions, firstLines: Map[String, (String, Int)])
                          (rows: Iterator[Row]): Iterator[(String, Array[DataType])] = {
    val parser = new CsvParser(opts.asParserSettings)
    val infer = new CSVInferSchema(opts)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Array[DataType]]
    rows.foreach { r =>
      val (key, line) = (r.getString(0), r.getString(1))
      val (header, width) = firstLines(key)
      if (line.trim.nonEmpty && line != header &&
          !(opts.isCommentSet && line.startsWith(opts.comment.toString)))
        infer.inferRowType(
          acc.getOrElseUpdate(key, Array.fill[DataType](width)(NullType)),
          parser.parseLine(line))
    }
    acc.iterator
  }

  /** A CSV file's header line as Spark's inference takes it: the first
    * line, split as the `text` source splits it (Hadoop's line reader:
    * `\n`, `\r`, `\r\n`, a leading UTF-8 BOM dropped), that SQL `trim`
    * (spaces only) leaves non-empty.
    */
  private def headerLine(file: FileStatus, conf: Configuration): Option[String] = {
    val reader = new LineRecordReader()
    try {
      reader.initialize(new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      var line = Option.empty[String]
      while (line.isEmpty && reader.nextKeyValue()) {
        val s = reader.getCurrentValue.toString
        if (s.exists(_ != ' ')) line = Some(s)
      }
      line
    } finally reader.close()
  }

  /** A file's status with its block locations, as Spark's listing gives
    * it. Each input is one file: a directory is rejected.
    */
  private def status(file: String, conf: Configuration): FileStatus = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    require(st.isFile, s"$file is not a file")
    new LocatedFileStatus(st, fs.getFileBlockLocations(st, 0, st.getLen))
  }

  /** A listed file's `_metadata.file_path`: its path as a URI string (a
    * space reads `%20`, a `%` reads `%25`), rebuilt so that an empty
    * authority (`file:///x`, a local file's status) reads as none
    * (`file:/x`, what the scan reports).
    */
  private def pathKey(file: FileStatus): String = {
    val u = file.getPath.toUri
    new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null, null).toString
  }

  /** JSON-lines read (one object per line — the interchange format of
    * web-scale text corpora; an extension beyond the reference's csv/
    * parquet surface). Schema inference costs a full sampling pass, so at
    * corpus scale pass `schema` explicitly and keep the read single-pass.
    */
  def readJson(spark: SparkSession, path: String,
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** The format a file is read and written in, from its extension
    * (`add_country.py:44-72`, `agg.py:47-77`): `.csv`, `.parquet`, `.orc`,
    * or `.json(l)` as JSON; anything else is rejected.
    */
  def formatOf(path: String): String = extensionOf(path) match {
    case e @ (CsvExt | ParquetExt | OrcExt) => e
    case JsonExt | JsonlExt => JsonExt
    case other =>
      throw new IllegalArgumentException(
        s"unsupported file type '.$other' for $path (expected .csv, .parquet, .orc, or .json(l))")
  }

  /** Each file's schema in its `format`, as a read of that file alone
    * infers it, with no schema job for CSV (all CSV files: one job,
    * [[csvSchemas]]) or Parquet (the footer, read on the driver,
    * [[parquetSchema]]). JSON is sampled by Spark, ORC read from its
    * footer by Spark. None for a CSV with no header line.
    */
  def fileSchemas(spark: SparkSession, files: Seq[String],
                  format: String => String = formatOf): Seq[Option[StructType]] = {
    val formats = files.map(format)
    val csv = files.zip(formats).collect { case (f, CsvExt) => f }
    val csvSchema = csv.zip(csvSchemas(spark, csv)).toMap
    files.zip(formats).map {
      case (f, CsvExt) => csvSchema(f)
      case (f, ParquetExt) => Some(parquetSchema(spark, f))
      case (f, other) => Some(spark.read.format(other).load(f).schema)
    }
  }

  /** A Parquet file's schema from its footer, read on the driver: what
    * `spark.read.parquet(file).schema` infers, without its schema job.
    */
  def parquetSchema(spark: SparkSession, file: String): StructType =
    ColumnBridge.parquetFooterSchema(spark, new Path(file))

  /** `files` read in `format` as one relation under `schema`: no schema
    * job. CSV keeps the pandas-parity options.
    */
  private def load(spark: SparkSession, files: Seq[FileStatus], format: String,
                   schema: StructType): DataFrame =
    ColumnBridge.readListed(spark, files, format, schema,
      if (format == CsvExt) CsvReadOptions else Map.empty)

  /** `read_file(path[, cols])` — extension dispatch + optional projection
    * pushdown (`agg.py:47-61`). The select is logical: Catalyst prunes
    * columns into the scan (ColumnPruning), so Parquet reads only `cols`.
    */
  def readFile(spark: SparkSession, path: String, cols: Seq[String] = Nil): DataFrame = {
    val schema = fileSchemas(spark, Seq(path)).head.getOrElse(
      throw new IllegalArgumentException(s"$path has no header line"))
    val df = load(spark, Seq(status(path, spark.sparkContext.hadoopConfiguration)),
      formatOf(path), schema)
    if (cols.isEmpty) df else df.select(cols.head, cols.tail: _*)
  }

  /** The column [[readTagged]] and [[readEach]] add: the index in `files`
    * of the file a row was read from. [[writePerFile]] writes by it.
    */
  val FileIdx = "__file_idx"

  /** The column [[readTagged]] adds: a row's position in its file (the
    * start of its scan split, then its row id within the split).
    */
  val FilePos = "__file_pos"

  /** `files` (all in `format`, all with `schema`) read as one relation,
    * each row tagged with [[FileIdx]] and [[FilePos]].
    */
  def readTagged(spark: SparkSession, files: Seq[String], format: String,
                 schema: StructType): DataFrame = {
    val listed = files.map(status(_, spark.sparkContext.hadoopConfiguration))
    val index = typedLit(listed.zipWithIndex.map { case (f, i) => pathKey(f) -> i }.toMap)
    val path = col("_metadata.file_path")
    load(spark, listed, format, schema)
      .withColumn(FileIdx, coalesce(element_at(index, path),
        raise_error(concat(lit("no file index for "), path))))
      .withColumn(FilePos, struct(col("_metadata.file_block_start"), monotonically_increasing_id()))
  }

  /** Each of `files` read on its own under its schema — so each keeps the
    * scan splits of a one-file read — projected to `cols`, tagged with
    * [[FileIdx]] and unioned by name.
    */
  def readEach(spark: SparkSession, files: Seq[String], schemas: Seq[StructType],
               cols: Seq[String]): DataFrame =
    files.indices.map { i =>
      load(spark, Seq(status(files(i), spark.sparkContext.hadoopConfiguration)),
        formatOf(files(i)), schemas(i)).select(cols.map(col): _*)
        .withColumn(FileIdx, lit(i))
    }.reduce(_ unionByName _)

  /** `write_file(df, path, file_type)` (`add_country.py:59-72`): format
    * chosen by the target extension; CSV keeps the header, Parquet has no
    * index concept (parity with `index=False` is free).
    */
  def writeFile(df: DataFrame, path: String): Unit = writeSingleFile(df, path, formatOf(path))

  /** The reference emits ONE file per input file (`to_parquet(dest)`);
    * Spark emits a directory of parts. For CLI parity we write to a scratch
    * dir and move the single part into place. coalesce(1) is fine here —
    * per-file outputs are small by construction (one input file's worth);
    * large collated outputs should use `writeDir` instead.
    */
  def writeSingleFile(df: DataFrame, dest: String, format: String): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    withScratch(fs, destPath) { tmp =>
      save(df.coalesce(1).write.mode(SaveMode.Overwrite), format, tmp.toString)
      movePart(fs, tmp, destPath)
    }
  }

  /** One output file per input file in one grouped write: `df`'s rows
    * (tagged with [[FileIdx]], optionally [[FilePos]]) go to
    * `dests(FileIdx)` in `format`.
    *
    * Rows are hash-partitioned by file over min(#files,
    * `spark.sql.shuffle.partitions`) tasks — an explicit count, since AQE
    * would coalesce a count-less repartition into one task — so every
    * output is written by one task and files are written in parallel.
    * Sorting by [[FilePos]] within the file keeps its row order. Each
    * file's part then moves into place through [[movePart]]'s guards. A
    * file with no rows gets the empty file of `df`'s schema that a
    * one-file write gives. A single file is [[writeSingleFile]]'s plan:
    * `coalesce(1)` keeps the scan order, with no shuffle and no sort.
    */
  def writePerFile(df: DataFrame, dests: Seq[String], format: String): Unit =
    if (dests.size == 1) writeSingleFile(df.drop(FileIdx, FilePos), dests.head, format)
    else {
      val spark = df.sparkSession
      val n = math.min(dests.size, ColumnBridge.sqlConf(spark).numShufflePartitions)
      val out = df.repartition(n, col(FileIdx))
        .sortWithinPartitions(Seq(FileIdx, FilePos).filter(df.columns.contains).map(col): _*)
        .drop(FilePos)
      val first = new Path(dests.head)
      val fs = first.getFileSystem(spark.sparkContext.hadoopConfiguration)
      withScratch(fs, first) { tmp =>
        save(out.write.mode(SaveMode.Overwrite).partitionBy(FileIdx), format, tmp.toString)
        dests.zipWithIndex.foreach { case (dest, i) =>
          val part = new Path(tmp, s"$FileIdx=$i")
          if (fs.exists(part)) movePart(fs, part, new Path(dest))
          else writeSingleFile(spark.createDataFrame(
            java.util.List.of[Row](), out.drop(FileIdx).schema), dest, format)
        }
      }
    }

  private def save(w: DataFrameWriter[Row], format: String, path: String): Unit =
    (format match {
      case CsvExt => w.option("header", "true").format("csv")
      case JsonExt | JsonlExt => w.format("json")
      case other => w.format(other)
    }).save(path)

  /** Run `body` on a scratch directory beside `dest` (same filesystem, so
    * moving a part out of it is a rename), deleted however `body` ends.
    */
  private def withScratch(fs: FileSystem, dest: Path)(body: Path => Unit): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}_tmp_${System.nanoTime()}")
    try body(tmp) finally fs.delete(tmp, true)
  }

  /** Move the one part file under `dir` to `dest`, guarding the
    * silent-loss paths: an existing non-empty DIRECTORY at dest would
    * survive the non-recursive delete and swallow the rename (the part
    * would land at dest/part-*); a false rename (e.g. cross-filesystem)
    * must not be taken for a move.
    */
  private def movePart(fs: FileSystem, dir: Path, dest: Path): Unit = {
    val parts = fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
    if (parts.length != 1)
      throw new IllegalStateException(s"expected one part file under $dir, found ${parts.length}")
    if (fs.exists(dest)) {
      if (fs.getFileStatus(dest).isDirectory)
        throw new IllegalStateException(
          s"destination $dest exists and is a directory; refusing to overwrite")
      fs.delete(dest, false)
    }
    fs.mkdirs(dest.getParent)
    if (!fs.rename(parts.head, dest))
      throw new IllegalStateException(s"rename ${parts.head} -> $dest failed")
  }

  /** Directory-output variant — the scalable default shape for big results
    * (collate mode at 100 TB): parallel part files, optional partitioning.
    */
  def writeDir(df: DataFrame, dest: String, format: String = ParquetExt,
               partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    save(if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w, format, dest)
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
