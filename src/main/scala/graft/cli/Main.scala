package graft.cli

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.{IO, PathDerive}
import graft.ops.{AddCountry, GeoAggregate}

/** The reference's public API is three CLIs (SURVEY.md §2.9); here they are
  * three subcommands of one Spark driver:
  *
  *   graft csv2parquet <src> [dest]                       (csv2parquet.py:194-199)
  *   graft add_country <glob> [dest_suffix]               (add_country.py:201-207)
  *   graft agg <glob> [dest_suffix] [-m mode] [-s meters] [--collate]
  *                                                        (agg.py:262-272)
  *
  * Parallelism note: the reference fans a thread pool over input files
  * (X1, `csv2parquet.py:43-60`). Here every subcommand runs a number of
  * Spark jobs that does not grow with the file count: one schema pass
  * over all inputs (one job for every CSV, none for Parquet — the footer
  * is read on the driver), then per (format, schema) group one read and
  * one grouped write (`IO.writePerFile`) that writes each input's output
  * file in its own task, files in parallel (X4).
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-${args.head}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.head, args.tail)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}\n$usage"); sys.exit(2)
    } finally spark.stop()
  }

  val usage: String =
    """usage: graft <subcommand> [args]
      |  csv2parquet <src-file-or-dir> [dest]
      |  add_country <glob> [dest_suffix=_with_country]
      |  agg <glob> [dest_suffix=_geo_aggregated] [-m mean|median|max] [-s meters] [--collate]
      |""".stripMargin

  def run(spark: SparkSession, cmd: String, args: Array[String]): Unit = cmd match {
    case "csv2parquet" => csv2parquet(spark, args)
    case "add_country" => addCountry(spark, args)
    case "agg" => agg(spark, args)
    case other => throw new IllegalArgumentException(s"unknown subcommand: $other")
  }

  private def debugFlag(args: Array[String]): Boolean =
    args.contains("-d") || args.contains("--debug")

  /** `csv2parquet src [dest]`: file → file; dir → recursive discovery with
    * mirrored basenames (`csv2parquet.py:125-133`).
    */
  def csv2parquet(spark: SparkSession, args: Array[String]): Unit =
    withLog(new CliLog("csv2parquet", debugFlag(args))) { log =>
    val pos = args.filterNot(_.startsWith("-"))
    require(pos.nonEmpty, "csv2parquet needs a src argument")
    val src = pos(0)
    val dest = if (pos.length > 1) pos(1) else ""
    val srcPath = new Path(src)
    val isDir = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(srcPath).isDirectory
    val files = if (isDir) IO.discoverCsvFiles(spark, src) else Seq(src)
    // deviation from csv2parquet.py:89-90, which logs this error even on
    // success: we log it only when the glob is actually empty
    if (isDir && files.isEmpty) log.error("no CSV files found")
    val destOf: String => String =
      if (!isDir) _ => PathDerive.csvToParquetDest(src, dest)
      else if (dest.isEmpty) PathDerive.csvToParquetDest(_, "")
      else PathDerive.csvToParquetDest(_, dest.stripSuffix("/") + "/")
    // every input reads as CSV, whatever its extension (single-file mode)
    val n = perFile(spark, log, "csv_file", files, _ => IO.CsvExt, destOf,
      _ => IO.ParquetExt)(identity)
    if (isDir) log.info(s"converted $n file(s) under $src")
    else if (n == 1) log.info(s"converted $src")
  }

  /** `files` with their schemas in `format` (`IO.fileSchemas`); a CSV with
    * no header line — 0 bytes or blank lines only, where Spark infers no
    * columns — is skipped with a logged error so the other files still
    * convert.
    */
  private def withSchemas(spark: SparkSession, log: CliLog, files: Seq[String],
                          format: String => String): Seq[(String, StructType)] =
    files.zip(IO.fileSchemas(spark, files, format)).flatMap {
      case (f, Some(schema)) => Some(f -> schema)
      case (f, None) => log.error(s"$f has no header line; skipped"); None
    }

  /** Each input file, read in `inFormat(f)`, to its own output `dest(f)`
    * in `outFormat(f)`: one schema pass over all files, then per (input
    * format, schema) group one read of the group's files, `transform`, and
    * one grouped write. Returns the number of files written.
    */
  private def perFile(spark: SparkSession, log: CliLog, tag: String, files: Seq[String],
                      inFormat: String => String, dest: String => String,
                      outFormat: String => String)
                     (transform: DataFrame => DataFrame): Int = {
    val inputs = withSchemas(spark, log, files, inFormat)
    val key = (input: (String, StructType)) => (inFormat(input._1), input._2)
    val groups = inputs.groupBy(key)
    inputs.map(key).distinct.foreach { case k @ (format, schema) =>
      val group = groups(k).map(_._1)
      group.foreach(f => log.debug(s"$tag: $f -> ${dest(f)}"))
      IO.writePerFile(transform(IO.readTagged(spark, group, format, schema)),
        group.map(dest), outFormat(group.head))
    }
    inputs.size
  }

  /** Run `body` with a CliLog, releasing its file handle afterwards (one
    * logger per invocation — without the close every run leaks an fd).
    */
  private def withLog(log: CliLog)(body: CliLog => Unit): Unit =
    try body(log) finally log.close()

  /** `add_country glob [suffix]` (default `_with_country`,
    * `add_country.py:28`): per input file, enrich with Country via the
    * broadcast bbox join and write back in the SAME format (S10).
    */
  def addCountry(spark: SparkSession, args: Array[String]): Unit =
    withLog(new CliLog("add_country", debugFlag(args))) { log =>
    val pos = args.filterNot(_.startsWith("-"))
    require(pos.nonEmpty, "add_country needs a glob argument")
    val suffix = if (pos.length > 1) pos(1) else "_with_country"
    val boxes = AddCountry.boxesDf(spark)
    val files = IO.globFiles(spark, pos(0))
    val n = perFile(spark, log, "data_file", files, IO.formatOf, PathDerive.addSuffix(_, suffix),
      IO.formatOf)(AddCountry(_, boxes))
    log.info(s"enriched $n file(s) matching ${pos(0)}")
  }

  /** `agg glob [suffix] [-m mode] [-s meters] [--collate]` (`agg.py:262-272`;
    * defaults: suffix `_geo_aggregated` agg.py:29, mode `median`
    * agg.py:265-266, size 10 m agg.py:267-268). Output is ALWAYS Parquet —
    * reference quirk preserved (`agg.py:171-172`). Both modes read each
    * file on its own (so each keeps the scan splits, and the mean its
    * summation order, of a one-file read) and union the reads: collate
    * runs one aggregation into one output (X3); per-file mode runs one
    * aggregation keyed by source file and one grouped write (X4).
    */
  def agg(spark: SparkSession, args: Array[String]): Unit = {
    var mode = "median"
    var meters = 10.0
    var collate = false
    val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-m" | "--mode" => mode = args(i + 1); i += 2
        case "-s" | "--size" => meters = args(i + 1).toDouble; i += 2
        case "--collate" => collate = true; i += 1
        case "-d" | "--debug" => i += 1
        case a => pos += a; i += 1
      }
    }
    require(pos.nonEmpty, "agg needs a glob argument")
    require(GeoAggregate.modes.contains(mode.toLowerCase(java.util.Locale.ROOT)),
      s"mode must be one of ${GeoAggregate.modes.keys.mkString("|")}") // agg.py:287
    require(meters >= 0, "grid size must be >= 0") // agg.py:291
    withLog(new CliLog("agg", debugFlag(args))) { log =>
    val suffix = if (pos.length > 1) pos(1) else "_geo_aggregated"
    val files = IO.globFiles(spark, pos(0))
    val step = GeoAggregate.metersToDegrees(meters)
    log.debug(s"mode=$mode size_m=$meters step_deg=$step collate=$collate " +
      s"files=${files.length}")
    val cols = Seq("Latitude", "Longitude", "Data")
    val inputs = withSchemas(spark, log, files, IO.formatOf)
    if (collate) {
      // one aggregate → one output (agg.py:174-193)
      require(inputs.nonEmpty, s"no files matched ${pos(0)}")
      val all = IO.readEach(spark, inputs.map(_._1), inputs.map(_._2), cols).drop(IO.FileIdx)
      IO.writeSingleFile(
        GeoAggregate(all, mode, step), s"$suffix.parquet", IO.ParquetExt) // agg.py:169
      log.info(s"collated ${inputs.length} file(s) -> $suffix.parquet")
    } else {
      val dests = inputs.map { case (f, _) =>
        val dest = PathDerive.addSuffix(f, suffix).replaceAll("\\.[^./]+$", ".parquet")
        log.debug(s"data_file: $f -> $dest")
        dest
      }
      // always parquet, even for CSV input (agg.py:171-172)
      if (inputs.nonEmpty) IO.writePerFile(
        GeoAggregate(IO.readEach(spark, inputs.map(_._1), inputs.map(_._2), cols),
          mode, step, by = Seq(IO.FileIdx)), dests, IO.ParquetExt)
      log.info(s"aggregated ${inputs.length} file(s) matching ${pos(0)}")
    }
    }
  }
}
