package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.cli.Main
import graft.io.IO

class CliSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft_cli").toString

  private def writeText(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  private val geoCsv =
    """Latitude,Longitude,Data,Extra
      |1.0,1.0,10.0,x
      |1.2,1.1,20.0,y
      |50.0,50.0,70.0,z
      |""".stripMargin

  test("csv2parquet: single file → sibling parquet") {
    val dir = tmpDir()
    writeText(s"$dir/pts.csv", geoCsv)
    Main.run(spark, "csv2parquet", Array(s"$dir/pts.csv"))
    val back = spark.read.parquet(s"$dir/pts.parquet")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("Latitude", "Longitude", "Data", "Extra"))
    // an explicit source reads as CSV whatever its extension
    writeText(s"$dir/pts2.txt", geoCsv)
    Main.run(spark, "csv2parquet", Array(s"$dir/pts2.txt"))
    assert(spark.read.parquet(s"$dir/pts2.parquet").count() == 3)
  }

  test("csv2parquet: directory → recursive mirrored outputs") {
    val dir = tmpDir()
    writeText(s"$dir/in/a.csv", "x\n1\n")
    writeText(s"$dir/in/sub/b.CSV", "x\n2\n")
    Main.run(spark, "csv2parquet", Array(s"$dir/in"))
    assert(Files.isRegularFile(Paths.get(s"$dir/in/a.parquet")))
    assert(Files.isRegularFile(Paths.get(s"$dir/in/sub/b.parquet")))
  }

  test("agg: per-file mode writes suffixed parquet with median default") {
    val dir = tmpDir()
    writeText(s"$dir/pts.csv", geoCsv)
    // -s in meters; use a size that gives a 2.5°-scale grid (~278 km)
    Main.run(spark, "agg", Array(s"$dir/pts.csv", "_geo_aggregated", "-s", "278000"))
    val out = spark.read.parquet(s"$dir/pts_geo_aggregated.parquet")
    assert(out.columns.toSet == Set("Latitude", "Longitude", "Data"))
    assert(out.count() == 2) // two occupied cells
  }

  test("agg: collate mode unions files into one output") {
    val dir = tmpDir()
    writeText(s"$dir/p1.csv", "Latitude,Longitude,Data\n1.0,1.0,10.0\n")
    writeText(s"$dir/p2.csv", "Latitude,Longitude,Data\n1.1,1.1,30.0\n")
    val outBase = s"$dir/collated"
    Main.run(spark, "agg", Array(s"$dir/p*.csv", outBase, "-m", "mean", "-s", "278000", "--collate"))
    val out = spark.read.parquet(s"$outBase.parquet")
    assert(out.count() == 1)
    assert(out.collect().head.getAs[Double]("Data") == 2.0) // (1+3)/2
  }

  test("agg: invalid mode rejected like agg.py:287") {
    val dir = tmpDir()
    writeText(s"$dir/pts.csv", geoCsv)
    assertThrows[IllegalArgumentException](
      Main.run(spark, "agg", Array(s"$dir/pts.csv", "-m", "sum")))
  }

  test("-d toggles debug logging; <prog>.log file handler written either way") {
    val dir = tmpDir()
    val prevLogDir = sys.props.get("graft.log.dir")
    sys.props("graft.log.dir") = dir
    try {
      writeText(s"$dir/pts.csv", geoCsv)
      Main.run(spark, "agg", Array(s"$dir/pts.csv", "-s", "278000"))
      val quiet = Files.readString(Paths.get(s"$dir/agg.log"))
      assert(quiet.contains(" INFO agg:"), quiet)
      assert(!quiet.contains(" DEBUG agg:"), quiet)
      Main.run(spark, "agg", Array(s"$dir/pts.csv", "-d", "-s", "278000"))
      val verbose = Files.readString(Paths.get(s"$dir/agg.log"))
      assert(verbose.contains(" DEBUG agg:"), verbose)
      assert(verbose.contains("data_file:"), verbose)
    } finally prevLogDir match {
      case Some(v) => sys.props("graft.log.dir") = v
      case None => sys.props.remove("graft.log.dir")
    }
  }

  test("add_country: same-format write-back with suffix") {
    val dir = tmpDir()
    writeText(s"$dir/pts.csv", geoCsv)
    Main.run(spark, "add_country", Array(s"$dir/pts.csv"))
    val out = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/pts_with_country.csv")
    assert(out.columns.contains("Country"))
    assert(out.count() == 3)
  }

  /** The jobs `body` starts: (first stage's call site, ran inside a SQL
    * execution), read after the listener bus drained.
    */
  private def jobsOf(body: => Unit): Seq[(String, Boolean)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add((
        if (e.stageInfos.isEmpty) "" else e.stageInfos.minBy(_.stageId).name,
        Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)))
    }
    ColumnBridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ColumnBridge.waitListenerBusEmpty(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** An eager Parquet schema read: `spark.read.parquet` runs it while it
    * resolves the relation, outside any SQL execution.
    */
  private def schemaJobs(jobs: Seq[(String, Boolean)]): Int =
    jobs.count { case (site, sql) => site.startsWith("parquet at") && !sql }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("csv2parquet: a 0-byte CSV is skipped with a logged error; the rest convert") {
    val dir = tmpDir()
    val prevLogDir = sys.props.get("graft.log.dir")
    sys.props("graft.log.dir") = dir
    try {
      writeText(s"$dir/in/a_empty.csv", "")
      writeText(s"$dir/in/b_header_only.csv", "x,y\n")
      writeText(s"$dir/in/c.csv", "x,y\n1,a\n2,b\n")
      Main.run(spark, "csv2parquet", Array(s"$dir/in"))
      assert(!Files.exists(Paths.get(s"$dir/in/a_empty.parquet")))
      val log = Files.readString(Paths.get(s"$dir/csv2parquet.log"))
      assert(log.contains(" ERROR csv2parquet:") && log.contains("a_empty.csv"), log)
      assert(log.contains("converted 2 file(s)"), log)
      // header-only: its columns as strings, no rows (a one-file read's output)
      val headerOnly = spark.read.parquet(s"$dir/in/b_header_only.parquet")
      assert(headerOnly.schema.map(f => f.name -> f.dataType.typeName) ==
        Seq("x" -> "string", "y" -> "string"))
      assert(headerOnly.count() == 0)
      val c = spark.read.parquet(s"$dir/in/c.parquet").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(c.toSeq == Seq((1L, "a"), (2L, "b")))
      // the grouped write's scratch directory is gone
      assert(Files.list(Paths.get(s"$dir/in")).iterator().asScala
        .forall(p => !p.getFileName.toString.contains("_tmp_")))
    } finally prevLogDir match {
      case Some(v) => sys.props("graft.log.dir") = v
      case None => sys.props.remove("graft.log.dir")
    }
  }

  test("csv2parquet: jobs do not grow with the file count (one inference job, one write per schema)") {
    def run(n: Int): Int = {
      val dir = tmpDir()
      (0 until n).foreach { i =>
        if (i % 2 == 0) writeText(f"$dir/in/f$i%03d.csv", s"a,b\n$i,x\n${i + 1},y\n")
        else writeText(f"$dir/in/f$i%03d.csv", s"c,d,e\n$i.5,true,z\n")
      }
      val jobs = jobsOf(Main.run(spark, "csv2parquet", Array(s"$dir/in", s"$dir/out/")))
      (0 until n).foreach { i =>
        val back = spark.read.parquet(f"$dir/out/f$i%03d.parquet")
        if (i % 2 == 0) assert(back.collect().map(_.getLong(0)).toSeq == Seq(i.toLong, i + 1L))
        else assert(back.schema.map(_.dataType.typeName) == Seq("double", "boolean", "string"))
      }
      jobs.size
    }
    val at50 = run(50)
    assert(at50 <= 1 + 2 * 2, s"$at50 jobs for 50 files")
    assert(run(100) == at50)
  }

  test("add_country, agg and agg --collate read Parquet inputs with no schema job") {
    val dir = tmpDir()
    writeText(s"$dir/a.csv", geoCsv)
    writeText(s"$dir/b.csv", geoCsv)
    Main.run(spark, "csv2parquet", Array(dir))
    for (args <- Seq(
        Array(s"$dir/*.parquet"),
        Array(s"$dir/*_with_country.parquet", "_geo", "-s", "278000"),
        Array(s"$dir/*_with_country.parquet", s"$dir/collated", "-s", "278000", "--collate"))) {
      val cmd = if (args.length == 1) "add_country" else "agg"
      val jobs = jobsOf(Main.run(spark, cmd, args))
      assert(jobs.nonEmpty && schemaJobs(jobs) == 0, s"$cmd ${args.mkString(" ")}: $jobs")
    }
    assert(spark.read.parquet(s"$dir/a_with_country_geo.parquet").count() == 2)
    assert(spark.read.parquet(s"$dir/collated.parquet").count() == 2)
  }

  test("inputs spanning several splits still give one output file each, in input order") {
    val dir = tmpDir()
    val rows = 3000
    writeText(s"$dir/in/big.csv",
      (0 until rows).map(i => s"$i,${(i * 7919) % 1000}.25").mkString("id,Data\n", "\n", "\n"))
    writeText(s"$dir/in/small.csv", "id,Data\n1,2.5\n")
    val big = s"$dir/in/big.csv"
    val splitBytes = (Files.size(Paths.get(big)) / 4).toString
    def splits(df: => org.apache.spark.sql.DataFrame): Int =
      withConf("spark.sql.files.maxPartitionBytes", splitBytes)(df.rdd.getNumPartitions)
    assert(splits(spark.read.text(big)) >= 3)
    withConf("spark.sql.files.maxPartitionBytes", splitBytes) {
      Main.run(spark, "csv2parquet", Array(s"$dir/in", s"$dir/pq/"))
    }
    assert(Files.isRegularFile(Paths.get(s"$dir/pq/big.parquet")))
    val converted = spark.read.parquet(s"$dir/pq/big.parquet").collect().map(_.getLong(0))
    assert(converted.toSeq == (0 until rows).map(_.toLong))

    // a Parquet input of several row groups, read in several splits
    val pqIn = s"$dir/pq2/big.parquet"
    val src = spark.read.parquet(s"$dir/pq/big.parquet")
      .withColumn("Latitude", org.apache.spark.sql.functions.lit(10.0))
      .withColumn("Longitude", org.apache.spark.sql.functions.lit(20.0))
    src.coalesce(1).write.option("parquet.block.size", "4096").parquet(s"$dir/pq2/tmp")
    val part = Files.list(Paths.get(s"$dir/pq2/tmp")).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(pqIn))
    IO.writeSingleFile(spark.read.parquet(s"$dir/pq/small.parquet")
      .withColumn("Latitude", org.apache.spark.sql.functions.lit(10.0))
      .withColumn("Longitude", org.apache.spark.sql.functions.lit(20.0)),
      s"$dir/pq2/small.parquet", IO.ParquetExt)
    val rowGroups = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pqIn), spark.sparkContext.hadoopConfiguration))
    try assert(rowGroups.getRowGroups.size >= 3) finally rowGroups.close()
    val pqBytes = (Files.size(Paths.get(pqIn)) / 4).toString
    assert(withConf("spark.sql.files.maxPartitionBytes", pqBytes)(
      spark.read.parquet(pqIn).rdd.partitions.length) >= 3)
    withConf("spark.sql.files.maxPartitionBytes", pqBytes) {
      Main.run(spark, "add_country", Array(s"$dir/pq2/*.parquet"))
    }
    val enriched = spark.read.parquet(s"$dir/pq2/big_with_country.parquet").collect()
    assert(enriched.map(_.getLong(0)).toSeq == (0 until rows).map(_.toLong))
    assert(Files.isRegularFile(Paths.get(s"$dir/pq2/small_with_country.parquet")))
  }
}
