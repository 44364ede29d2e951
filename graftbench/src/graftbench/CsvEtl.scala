package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cli.Main
import graft.ops.{AddCountry, GeoAggregate}

/** The paper's pipeline through the CLI entry point: `csv2parquet` over a
  * directory of geo CSVs, `add_country` on the converted Parquet, `agg -m
  * median` per file (each per-file call is one probe sample) and `agg
  * --collate -m mean`.
  *
  * Two size classes: many small files, where per-file job latency
  * dominates, and a few large ones, where CSV parsing dominates.
  */
object CsvEtl extends Workload {
  val name = "csv_etl"

  final case class Sizes(nSmall: Int, smallRows: Int, nLarge: Int, largeRows: Int)
  val sizes: Map[Scale, Sizes] = Map(
    Scale.Full -> Sizes(nSmall = 2, smallRows = 2000, nLarge = 1, largeRows = 20000),
    Scale.Tiny -> Sizes(nSmall = 2, smallRows = 200, nLarge = 1, largeRows = 1000))

  /** Grid size of every `agg` call, metres (`-s`). */
  val Meters = 25000.0

  /** A generated file: its name (no extension), rows and distinct cells. */
  final case class Gen(name: String, rows: Int, cells: Int)

  private var csvDir: File = _
  private var files: Seq[Gen] = Nil
  private var allCells = 0

  private val labels = Seq("alpha", "bravo", "charlie", "delta", "echo", "fox")

  // point clusters (lat, lon, spread in degrees); several fall outside
  // every country box so both join outcomes occur
  private val centers = Seq((40.7, -74.0, 3.0), (51.5, 0.0, 4.0),
    (35.6, 139.7, 2.5), (-23.5, -46.6, 3.0), (-33.9, 151.2, 2.0),
    (28.6, 77.2, 3.5), (0.0, -150.0, 10.0), (-50.0, 0.0, 8.0),
    (55.7, 37.6, 5.0), (64.0, -20.0, 6.0))

  private def cellOf(step: Double)(lat: Double, lon: Double): (Long, Long) =
    (math.floor((lat - -90.0) / step).toLong, math.floor((lon - -180.0) / step).toLong)

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Scale): Unit = {
    val sz = sizes(scale)
    csvDir = new File(dir, "csv")
    csvDir.mkdirs()
    val rnd = new scala.util.Random(seed)
    val cell = cellOf(GeoAggregate.metersToDegrees(Meters)) _
    val everyCell = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val specs = (0 until sz.nSmall).map(i => f"small_$i%02d" -> sz.smallRows) ++
      (0 until sz.nLarge).map(i => f"large_$i%02d" -> sz.largeRows)
    files = specs.map { case (fname, rows) =>
      val cells = scala.collection.mutable.HashSet.empty[(Long, Long)]
      val w = new BufferedWriter(new FileWriter(new File(csvDir, s"$fname.csv")), 1 << 16)
      try {
        w.write("id,ts,label,Latitude,Longitude,Data\n")
        for (i <- 0 until rows) {
          val (clat, clon, spread) = centers(
            math.min(centers.size - 1, (centers.size * math.pow(rnd.nextDouble(), 1.6)).toInt))
          val latS = String.format(Locale.ROOT, "%.5f",
            Double.box(math.max(-89.9, math.min(89.9, clat + rnd.nextGaussian() * spread))))
          val lonRaw = clon + rnd.nextGaussian() * spread
          val lonS = String.format(Locale.ROOT, "%.5f",
            Double.box(((lonRaw + 540.0) % 360.0) - 180.0))
          val data = String.format(Locale.ROOT, "%.2f", Double.box(rnd.nextDouble() * 1000))
          val ts = f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d " +
            f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
          val label = " " * (1 + rnd.nextInt(3)) + labels(rnd.nextInt(labels.size))
          w.write(s"${i + 1},$ts,$label,$latS,$lonS,$data\n")
          // the cell as the engine will see it: the parsed double
          cells += cell(latS.toDouble, lonS.toDouble)
        }
      } finally w.close()
      everyCell ++= cells
      Gen(fname, rows, cells.size)
    }
    allCells = everyCell.size
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.passDir()
    val pq = new File(out, "pq")
    def converted(g: Gen) = new File(pq, s"${g.name}.parquet").toString
    def enriched(g: Gen) = new File(pq, s"${g.name}_with_country.parquet").toString
    def aggregated(g: Gen) =
      new File(pq, s"${g.name}_with_country_geo_aggregated.parquet").toString
    val meters = Meters.toString

    ctx.run("io.csv2parquet", "csv2parquet") {
      Main.run(spark, "csv2parquet", Array(csvDir.toString, pq.toString + "/"))
    }
    if (ctx.fault) truncate(spark, converted(files.head))
    files.foreach { g =>
      val (rows, schema) = Footer.read(spark, converted(g))
      ctx.check(s"rows ${g.name}", rows == g.rows, s"$rows rows, generated ${g.rows}")
      val idType = schema.getType(schema.getFieldIndex("id")).asPrimitiveType.getPrimitiveTypeName
      ctx.check(s"int64 id ${g.name}",
        idType == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
        s"id is $idType")
    }

    ctx.run("add_country", "add_country") {
      Main.run(spark, "add_country", Array(new File(pq, "*.parquet").toString))
    }
    files.foreach { g =>
      val rows = Footer.rows(spark, enriched(g))
      ctx.check(s"enriched rows ${g.name}", rows == g.rows, s"$rows rows, generated ${g.rows}")
    }
    val allowed = AddCountry.defaultBoxes.map(_.country).toSet + AddCountry.NoCountry
    val countries = spark.read.parquet(files.map(enriched): _*)
      .select(col("Country")).distinct().collect().map(_.getString(0)).toSet
    ctx.check("country names", countries.subsetOf(allowed),
      s"unexpected ${(countries -- allowed).mkString(", ")}")

    files.foreach { g =>
      ctx.run("geo.median", s"agg median ${g.name}", probe = true) {
        Main.run(spark, "agg", Array(enriched(g), "_geo_aggregated", "-m", "median", "-s", meters))
      }
      val cells = Footer.rows(spark, aggregated(g))
      ctx.check(s"cells ${g.name}", cells == g.cells, s"$cells cells, generated ${g.cells}")
    }

    // the collate output lands at `<suffix>.parquet`; an absolute suffix
    // keeps it inside the run directory
    val collated = new File(out, "collated")
    ctx.run("geo.collate", "agg collate") {
      Main.run(spark, "agg", Array(new File(pq, "*_with_country.parquet").toString,
        collated.toString, "-m", "mean", "-s", meters, "--collate"))
    }
    val cells = Footer.rows(spark, collated.toString + ".parquet")
    ctx.check("collated cells", cells == allCells, s"$cells cells, generated $allCells")
  }

  /** Fault injection for the self-test: drop one row of a converted file. */
  private def truncate(spark: SparkSession, file: String): Unit = {
    val copy = file + ".orig"
    new File(file).renameTo(new File(copy))
    val df = spark.read.parquet(copy)
    graft.io.IO.writeSingleFile(df.limit(df.count().toInt - 1), file, "parquet")
    new File(copy).delete()
  }
}
