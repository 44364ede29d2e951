package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed call into the engine. `metric` names the layer metric the
  * call feeds (`geo.median`, `dedup.probe`, ...); `rows` is the number of
  * rows the call returned (-1 for calls that only write files) and `inRows`
  * the number of probe rows it was asked about.
  */
final case class CallRec(id: Int, pass: Int, metric: String, name: String,
                         probe: Boolean, seconds: Double, startMs: Long,
                         endMs: Long, rows: Long, inRows: Long)

/** Result of the consuming fold: row count and the xor of every row's
  * all-columns hash. Equal folds mean equal multisets of rows.
  */
final case class Fold(count: Long, xor: Long)

/** Workload sizes: `full` for measurement, `tiny` for the self-tests. */
sealed trait Scale
object Scale {
  case object Full extends Scale
  case object Tiny extends Scale
  def parse(s: String): Scale = s match {
    case "full" => Full
    case "tiny" => Tiny
    case other => throw new IllegalArgumentException(s"unknown scale: $other")
  }
}

trait Workload {
  def name: String

  /** Generate this seed's inputs under `dir` and stage them. */
  def setup(spark: SparkSession, dir: File, seed: Long, scale: Scale): Unit

  /** One full pass. Every engine call goes through `ctx.run`/`ctx.query`;
    * output checks go through `ctx.check`.
    */
  def pass(ctx: Ctx): Unit

  /** How many pass variants the workload rotates through (see
    * [[Ctx.variant]]).
    */
  def variants: Int = 1

  /** Remove what pass `pass` created (untimed). */
  def cleanup(spark: SparkSession, pass: Int): Unit = ()
}

/** The timing and checking context of one run. One call runs at a time,
  * on the driver thread.
  */
final class Ctx(val spark: SparkSession, val runDir: File, val fault: Boolean) {
  var pass = 0
  /** Which rotation of its calls the workload runs in this pass. */
  var variant = 0
  var traced = false
  val calls = ArrayBuffer.empty[CallRec]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Time `body`, a call that leaves its result in files. */
  def run(metric: String, name: String, probe: Boolean = false)(body: => Unit): Unit =
    timed(metric, name, probe, inRows = 0L) { body; -1L }

  /** Time `body` plus the consuming fold of its result, then hand the
    * result to `after` (untimed) before releasing whatever the call
    * persisted.
    */
  def query(metric: String, name: String, probe: Boolean = false,
            inRows: Long = 0L)(body: => DataFrame)
           (after: DataFrame => Unit = _ => ()): Fold = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var df: DataFrame = null
    var fold: Fold = null
    try {
      timed(metric, name, probe, inRows) {
        df = body
        fold = Ctx.consume(df)
        fold.count
      }
      after(df)
      fold
    } finally {
      // blocks the call checkpointed die with it, not with driver GC
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  private def timed(metric: String, name: String, probe: Boolean,
                    inRows: Long)(body: => Long): Unit = {
    val id = calls.size
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    attempted += 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rows =
      try body
      catch { case e: Throwable => failed += 1; failures += s"$name: $e"; throw e }
      finally if (traced) sc.setLocalProperty(Tracer.SpanKey, null)
    val seconds = (System.nanoTime() - t0) / 1e9
    calls += CallRec(id, pass, metric, name, probe, seconds, startMs,
      System.currentTimeMillis(), rows, inRows)
    System.err.println(f"[graftbench] pass $pass%d $name%s $seconds%.3fs")
  }

  /** An output check; a failed one counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"pass $pass: $name: $detail"
      System.err.println(s"[graftbench] CHECK FAILED pass $pass: $name: $detail")
    }
  }

  def passDir(p: Int = pass): File = new File(runDir, s"p$p")
}

object Ctx {

  /** The checksum-consuming action of `graft.Bench`: count plus the
    * bit_xor of an xxhash64 over every column of every row, so lazy frames
    * and pruned projections are fully computed.
    */
  def consume(df: DataFrame): Fold = {
    val cols = df.columns.map(c => s"`${c.replace("`", "``")}`").mkString(", ")
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64($cols))")).head()
    Fold(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Parquet footers read on the driver: no Spark job, so checks stay out of
  * the traced counters.
  */
object Footer {
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.schema.MessageType

  def read(spark: SparkSession, file: String): (Long, MessageType) = {
    val in = HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try (r.getRecordCount, r.getFooter.getFileMetaData.getSchema)
    finally r.close()
  }

  def rows(spark: SparkSession, file: String): Long =
    if (new File(file).isFile) read(spark, file)._1 else -1L
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Python's `statistics.quantiles(method="exclusive")` at one cut. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n == 1) s.head
    else {
      val pos = q * (n + 1)
      val j = math.min(math.max(pos.toInt, 1), n - 1)
      val delta = math.min(math.max(pos - j, 0.0), 1.0)
      s(j - 1) + delta * (s(j) - s(j - 1))
    }
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
}
