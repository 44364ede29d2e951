package graft

import java.nio.file.{Files, Paths}

import graft.io.IO

/** Systematic pandas-vs-Spark CSV dtype-inference matrix (SURVEY.md §7
  * hard part (a)): one fixture column per inference edge, each asserted
  * against the Spark type `IO.readCsv` produces, with the documented
  * `pandas.read_csv` dtype alongside. Deviations are deliberate and
  * documented here — this spec is the contract for "silent schema drift on
  * CSV ingest" (the reference's core entry point, `csv2parquet.py:75`).
  *
  * | column     | pandas    | graft readCsv | parity |
  * | int_small  | int64     | long          | yes (IntegerType upcast) |
  * | int_big    | int64     | long          | yes |
  * | int_na     | float64   | long + null   | DEVIATION: pandas has no
  * |            |           |               | nullable int by default and
  * |            |           |               | widens to float64 (1.0, NaN);
  * |            |           |               | we keep typed nulls — values
  * |            |           |               | round-trip exactly, schema is
  * |            |           |               | INT64 not DOUBLE |
  * | float_mix  | float64   | double        | yes |
  * | sci        | float64   | double        | yes (1e3 → 1000.0) |
  * | str_mix    | object    | string        | yes |
  * | bool_cap   | bool      | boolean       | yes (True/False) |
  * | bool_lower | object    | boolean       | DEVIATION: pandas only maps
  * |            |           |               | capitalized True/False;
  * |            |           |               | Spark accepts true/false too |
  * | date_iso   | object    | date          | DEVIATION: Spark 4 infers
  * |            |           |               | DateType for ISO dates where
  * |            |           |               | pandas keeps strings unless
  * |            |           |               | parse_dates is passed |
  * | ws_int     | int64     | long          | yes (skipinitialspace ≙
  * |            |           |               | ignoreLeadingWhiteSpace) |
  */
class CsvInferenceParitySpec extends SparkSpec {

  private val fixture =
    """int_small,int_big,int_na,float_mix,sci,str_mix,bool_cap,bool_lower,date_iso,ws_int
      |1,3000000000,1,1,1e3,1,True,true,2024-01-01, 7
      |2,3000000001,,2.5,2.5,x,False,false,2024-06-30, 8
      |""".stripMargin

  private lazy val types: Map[String, String] = {
    val dir = Files.createTempDirectory("graft_infer").toString
    Files.writeString(Paths.get(s"$dir/m.csv"), fixture)
    IO.readCsv(spark, s"$dir/m.csv")
      .schema.fields.map(f => f.name -> f.dataType.typeName).toMap
  }

  test("integer columns infer as long (pandas int64 parity, incl. >2^31)") {
    assert(types("int_small") == "long")
    assert(types("int_big") == "long")
    assert(types("ws_int") == "long") // leading space stripped before parse
  }

  test("int-with-NA stays a typed long + null (documented deviation)") {
    assert(types("int_na") == "long")
    val dir = Files.createTempDirectory("graft_infer_na").toString
    Files.writeString(Paths.get(s"$dir/m.csv"), fixture)
    val vals = IO.readCsv(spark, s"$dir/m.csv")
      .select("int_na").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(vals.toSet == Set(Some(1L), None)) // pandas would yield 1.0, NaN
  }

  test("float/scientific/mixed-numeric columns infer as double") {
    assert(types("float_mix") == "double")
    assert(types("sci") == "double")
  }

  test("mixed int/string falls back to string (pandas object parity)") {
    assert(types("str_mix") == "string")
  }

  test("booleans infer as boolean; lowercase acceptance is a documented deviation") {
    assert(types("bool_cap") == "boolean")
    assert(types("bool_lower") == "boolean") // pandas: object
  }

  test("ISO dates infer as DateType (documented deviation from pandas object)") {
    assert(types("date_iso") == "date", types("date_iso"))
  }

  /** Spark's own one-file CSV read with the pandas-parity options and the
    * int → long upcast: the reference the one-job fold must reproduce.
    */
  private def reference(path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .option("ignoreLeadingWhiteSpace", "true").csv(path)
    raw.select(raw.schema.fields.toSeq.map(f =>
      if (f.dataType == IntegerType) col(f.name).cast(LongType).as(f.name) else col(f.name)): _*)
  }

  private val matrix: Seq[(String, String)] = Seq(
    "blank_lead.csv" -> "\n\n   \na,b\n1,x\n2,y\n",
    "crlf.csv" -> "\r\n\r\na,b,c\r\n1,2.5,x\r\n3,4,y\r\n",
    "dup_names.csv" -> "a,a,,B,b\n1,2,3,4,5\n",
    "quoted.csv" -> "name,val\n\"x, y\",1\n\"z\",2.5\n",
    "big_int.csv" -> "big,small\n3000000000,1\n1,2\n",
    "int_na.csv" -> "n,m\n1,a\n,b\n3,c\n",
    "dates.csv" -> "d,t\n2024-01-01,2024-01-01 10:00:00\n2024-02-29,2024-02-29 23:59:59\n",
    "bools.csv" -> "b1,b2\nTrue,true\nFalse,false\n",
    "padded.csv" -> "a,b,c\n  1,  x,1  \n 2, y,2\n",
    "header_again.csv" -> "a,b\n1,2\na,b\n3,4\n",
    "tab_line.csv" -> "\t\na,b\n1,2\n",
    "header_only.csv" -> "p,q\n",
    "my file%20.csv" -> "x\n1\n",
    "pct%.csv" -> "x\nfoo\n")

  test("one-job inference over many files equals Spark's one-file inference, file by file") {
    val dir = Files.createTempDirectory("graft_infer_matrix").toString
    val files = matrix.map { case (name, body) =>
      Files.writeString(Paths.get(s"$dir/$name"), body)
      s"$dir/$name"
    }
    val schemas = IO.csvSchemas(spark, files)
    files.zip(schemas).foreach { case (f, got) =>
      val ref = reference(f)
      assert(got.contains(ref.schema), f)
      val read = IO.readCsv(spark, f)
      assert(read.schema == ref.schema, f)
      assert(read.collect().toSeq == ref.collect().toSeq, f)
    }
    // spot checks of what the matrix pins
    def types(name: String) = schemas(matrix.indexWhere(_._1 == name)).get
      .fields.map(f => f.name -> f.dataType.typeName).toSeq
    assert(types("big_int.csv") == Seq("big" -> "long", "small" -> "long"))
    assert(types("int_na.csv").head == ("n" -> "long"))
    assert(types("header_again.csv") == Seq("a" -> "long", "b" -> "long"))
    assert(types("my file%20.csv") == Seq("x" -> "long"))
    assert(types("pct%.csv") == Seq("x" -> "string"))
    assert(types("header_only.csv") == Seq("p" -> "string", "q" -> "string"))
  }

  test("a CSV with no header line has no schema") {
    val dir = Files.createTempDirectory("graft_infer_empty").toString
    Files.writeString(Paths.get(s"$dir/empty.csv"), "")
    Files.writeString(Paths.get(s"$dir/blank.csv"), "\n  \n")
    Files.writeString(Paths.get(s"$dir/ok.csv"), "a\n1\n")
    val got = IO.csvSchemas(spark, Seq("empty", "blank", "ok").map(n => s"$dir/$n.csv"))
    assert(got.take(2) == Seq(None, None))
    assert(got(2).map(_.fieldNames.toSeq).contains(Seq("a")))
  }
}
