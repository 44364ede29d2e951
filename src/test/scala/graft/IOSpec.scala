package graft

import java.nio.file.{Files, Paths}

import graft.io.{IO, PathDerive}

class IOSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_io").toString

  private def writeText(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  test("csv read: header, inference, leading-whitespace strip (pandas parity)") {
    val dir = tmpDir()
    writeText(s"$dir/typed.csv",
      """i,f,s,maybe_num,sci
        |1,  1.5,  hello,1,1e3
        |2,2.5,world,x,2.5e-2
        |,3.5,  spaced,3,
        |""".stripMargin)
    val df = IO.readCsv(spark, s"$dir/typed.csv")
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("i") == "long") // pandas int64 parity (readCsv upcast)
    assert(types("f") == "double")
    assert(types("s") == "string")
    assert(types("maybe_num") == "string") // one non-numeric row → string
    assert(types("sci") == "double")
    val rows = df.orderBy("f").collect()
    assert(rows(0).getAs[String]("s") == "hello") // leading spaces stripped
    assert(rows(2).getAs[String]("s") == "spaced")
    assert(rows(2).isNullAt(rows(2).fieldIndex("i"))) // empty cell → null
  }

  test("csv2parquet round trip preserves values via single-file write") {
    val dir = tmpDir()
    writeText(s"$dir/in.csv", "a,b\n1,x\n2,y\n")
    IO.writeSingleFile(IO.readCsv(spark, s"$dir/in.csv"), s"$dir/out.parquet", "parquet")
    assert(Files.isRegularFile(Paths.get(s"$dir/out.parquet"))) // one FILE, not a dir
    val back = spark.read.parquet(s"$dir/out.parquet").orderBy("a").collect()
    assert(back.map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("extension dispatch: unknown extension rejected") {
    assertThrows[IllegalArgumentException](IO.readFile(spark, "/tmp/x.txt"))
    assert(IO.extensionOf("a/b/c.CSV") == "csv")
    assert(IO.extensionOf("noext") == "")
  }

  test("dynamic partition overwrite touches only the incoming partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir()
    val dest = s"$dir/daily"
    IO.overwritePartitions(
      Seq((1, "d1", 10.0), (2, "d2", 20.0), (3, "d3", 30.0))
        .toDF("id", "day", "v"), dest, Seq("day"))
    val d1FilesBefore = new java.io.File(s"$dest/day=d1").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    // reprocess ONLY day d2 with corrected values
    IO.overwritePartitions(
      Seq((2, "d2", 99.0)).toDF("id", "day", "v"), dest, Seq("day"))
    val back = spark.read.parquet(dest)
      .select("id", "v").as[(Int, Double)].collect().toMap
    assert(back == Map(1 -> 10.0, 2 -> 99.0, 3 -> 30.0))
    val d1FilesAfter = new java.io.File(s"$dest/day=d1").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(d1FilesAfter == d1FilesBefore) // untouched partition: same files
  }

  test("parquet schema evolution: later files add columns, mergeSchema unifies") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/evo/batch=1")
    Seq((2L, "b", 7.5)).toDF("id", "s", "score").write.parquet(s"$dir/evo/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/evo")
    assert(merged.columns.sorted.toSeq == Seq("batch", "id", "s", "score"))
    val rows = merged.select("id", "score").orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows.toSeq == Seq((1L, None), (2L, Some(7.5)))) // old rows null-fill
  }

  test("json-lines roundtrip through the extension dispatch, nested struct intact") {
    val dir = tmpDir()
    import spark.implicits._
    val df = Seq((1L, "hello world", ("en", 11)), (2L, "bonjour", ("fr", 7)))
      .toDF("doc_id", "text", "meta")
    IO.writeFile(df, s"$dir/docs.jsonl")
    assert(Files.isRegularFile(Paths.get(s"$dir/docs.jsonl")))
    val back = IO.readFile(spark, s"$dir/docs.jsonl").orderBy("doc_id")
    assert(back.select("doc_id", "text").as[(Long, String)].collect().toSeq ==
      Seq((1L, "hello world"), (2L, "bonjour")))
    assert(back.select("meta._2").as[Long].collect().toSeq == Seq(11L, 7L))
    // explicit schema skips the inference pass (the at-scale path)
    val typed = IO.readJson(spark, s"$dir/docs.jsonl",
      Some(back.schema)).where($"meta._1" === "en")
    assert(typed.count() == 1)
  }

  test("recursive discovery finds nested + uppercase CSV, ignores others") {
    val dir = tmpDir()
    writeText(s"$dir/a/x.csv", "a\n1\n")
    writeText(s"$dir/a/b/y.CSV", "a\n2\n")
    writeText(s"$dir/z.txt", "nope")
    val found = IO.discoverCsvFiles(spark, dir)
    assert(found.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet == Set("x.csv", "y.CSV"))
  }

  test("suffix insertion (correct variant, no double dot)") {
    assert(PathDerive.addSuffix("/d/f.csv", "_agg") == "/d/f_agg.csv")
    assert(PathDerive.addSuffix("/d.x/f", "_agg") == "/d.x/f_agg")
    assert(PathDerive.csvToParquetDest("/d/f.csv", "") == "/d/f.parquet")
    assert(PathDerive.csvToParquetDest("/d/f.csv", "/o/") == "/o/f.parquet")
    assert(PathDerive.csvToParquetDest("/d/f.csv", "/o/g.parquet") == "/o/g.parquet")
  }

  test("glob listing is deterministic (sorted)") {
    val dir = tmpDir()
    writeText(s"$dir/b.csv", "a\n1\n")
    writeText(s"$dir/a.csv", "a\n1\n")
    val found = IO.globFiles(spark, s"$dir/*.csv")
    assert(found == found.sorted && found.size == 2)
  }

  test("orc roundtrip through the extension dispatch, types intact") {
    val dir = tmpDir()
    import spark.implicits._
    val df = Seq((1L, "hello", 2.5), (2L, "world", -0.5))
      .toDF("id", "s", "v")
    IO.writeFile(df, s"$dir/t.orc")
    assert(Files.isRegularFile(Paths.get(s"$dir/t.orc")))
    val back = IO.readFile(spark, s"$dir/t.orc").orderBy("id")
    // files round-trip as nullable — compare names and types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "hello", 2.5), (2L, "world", -0.5)))
    // projection pushes into the ORC scan like Parquet
    val one = IO.readFile(spark, s"$dir/t.orc", Seq("s"))
    assert(one.columns.toSeq == Seq("s"))
  }

  test("ensureWritten writes once per session and never re-evaluates the producer") {
    import spark.implicits._
    val dest = java.nio.file.Files.createTempDirectory("graft_ensw")
      .toString + "/rel"
    assert(IO.ensureWritten(spark, dest)(Seq((1L, "a"), (2L, "b"))
      .toDF("id", "v")))
    // by-name contract: the cached call must not evaluate the thunk
    assert(!IO.ensureWritten(spark, dest)(
      throw new IllegalStateException("producer re-evaluated")))
    val got = spark.read.parquet(dest).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("a destination that is a directory throws and leaves no scratch directory") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    writeText(s"$dir/out.parquet/inner/keep", "x")
    writeText(s"$dir/b.parquet/inner/keep", "x")
    def names = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet
    val df = Seq((1L, "a")).toDF("id", "v")
    assertThrows[IllegalStateException](IO.writeSingleFile(df, s"$dir/out.parquet", "parquet"))
    assert(names == Set("out.parquet", "b.parquet"))
    // the grouped writer: the first file moves, the second refuses
    val tagged = Seq((1L, 0), (2L, 1)).toDF("id", IO.FileIdx)
    assertThrows[IllegalStateException](
      IO.writePerFile(tagged, Seq(s"$dir/a.parquet", s"$dir/b.parquet"), "parquet"))
    assert(names == Set("out.parquet", "a.parquet", "b.parquet"))
    assert(Files.exists(Paths.get(s"$dir/out.parquet/inner/keep")))
    assert(Files.exists(Paths.get(s"$dir/b.parquet/inner/keep")))
  }

  test("footer schema equals Spark's inferred schema, for non-Spark and Spark writers") {
    import org.apache.spark.sql.functions._
    import scala.util.Try
    // pyarrow 16.1: no Spark row metadata, a TIMESTAMP(NANOS) column
    val arrow = getClass.getResource("/fixtures/pyarrow_nanos.parquet").getPath
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val inferred = spark.read.parquet(arrow).schema
    assert(IO.parquetSchema(spark, arrow) == inferred)
    assert(inferred("ts").dataType == org.apache.spark.sql.types.LongType)
    // without nanosAsLong both sides agree too (Spark 4 rejects the type)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try assert(Try(IO.parquetSchema(spark, arrow)).toOption ==
      Try(spark.read.parquet(arrow).schema).toOption)
    finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a Spark writer: the row-metadata schema
    val dir = tmpDir()
    val df = spark.range(3).select(col("id"), current_timestamp().as("ts"),
      (col("id") / 3).cast("decimal(12,4)").as("d"),
      struct(col("id").as("a"), lit("x").as("b")).as("s"), array(col("id")).as("arr"))
    IO.writeSingleFile(df, s"$dir/spark.parquet", IO.ParquetExt)
    assert(IO.parquetSchema(spark, s"$dir/spark.parquet") ==
      spark.read.parquet(s"$dir/spark.parquet").schema)
  }
}
