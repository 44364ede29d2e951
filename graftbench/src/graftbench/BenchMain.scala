package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (normally launched by `run.py`):
  *
  *   BenchMain --workload W --seed N --seconds S --trace 0|1
  *             --run-dir DIR [--scale full|tiny] [--fault 0|1]
  *             [--trace-out FILE]
  *
  * Set-up (session build, input generation, warm-up) runs three times and
  * reports its median. Then, in the last session, a cold first pass and
  * steady passes until `S` seconds have gone by. Untraced runs print the
  * end-to-end metrics; traced runs register a [[Tracer]], alternate traced
  * and untraced steady passes (the difference is the tracing overhead) and
  * print the per-layer metrics. The last stdout line is the JSON result.
  */
object BenchMain {

  val workloads: Map[String, Workload] =
    Seq(CsvEtl, IndexLifecycle, IterativeOps).map(w => w.name -> w).toMap

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: File, scale: Scale,
                        fault: Boolean, traceOut: Option[File], cores: Int)

  def parseArgs(a: Array[String]): Args = {
    val kv = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w),
      s"unknown workload $w (one of ${workloads.keys.toSeq.sorted.mkString(", ")})")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Args(w, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("run-dir")).getAbsoluteFile,
      Scale.parse(kv.getOrElse("scale", "full")), kv.get("fault").contains("1"),
      kv.get("trace-out").map(new File(_)), cores)
  }

  def buildSession(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(args.runDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(args.runDir, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** JVM-wide GC time so far, seconds. */
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak resident set size of this process (VmHWM), MB. */
  def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }

  /** Per-pass record: timing plus, for traced passes, the JVM deltas. */
  final case class PassRec(index: Int, variant: Int, traced: Boolean, seconds: Double,
                           wallSeconds: Double, startMs: Long, endMs: Long,
                           gcSeconds: Double, heapPeakMb: Double)

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val wl = workloads(args.workload)
    args.runDir.mkdirs()
    System.setProperty("graft.log.dir", args.runDir.toString)

    // ---- set-up, repeated; the last session is the measured one --------
    // traced runs do not report setup_s
    val setups = if (args.scale == Scale.Tiny || args.trace) 1 else 3
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to setups) {
      if (spark != null) stopSession(spark)
      // every set-up and every pass starts on a collected heap, so a full
      // collection left over from earlier work does not land in its time
      System.gc()
      val t0 = System.nanoTime()
      spark = buildSession(args)
      val inDir = new File(args.runDir, "in")
      Stats.deleteRecursively(inDir)
      wl.setup(spark, inDir, args.seed, args.scale)
      spark.range(0, 1000, 1, args.cores).selectExpr("sum(id)").collect()
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    val ctx = new Ctx(spark, args.runDir, args.fault)
    val tracer = if (args.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var settleFailed = false

    def runPass(index: Int, variant: Int, traced: Boolean): Unit = {
      ctx.pass = index
      ctx.variant = variant % wl.variants
      ctx.traced = traced
      ctx.passDir(index).mkdirs()
      val firstCall = ctx.calls.size
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcSeconds
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      wl.pass(ctx)
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val gc = gcSeconds - gc0
      val heap = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (traced && !tracer.get.settle(spark.sparkContext, 30000)) {
        settleFailed = true
        ctx.check("listener-complete", ok = false,
          "started jobs/tasks never matched their end events")
      }
      val callSeconds = ctx.calls.drop(firstCall).map(_.seconds).sum
      passes += PassRec(index, ctx.variant, traced, callSeconds, wall, startMs, endMs, gc, heap)
      wl.cleanup(spark, index)
      Stats.deleteRecursively(ctx.passDir(index))
      System.err.println(f"[graftbench] pass $index%d variant=${ctx.variant}%d traced=$traced " +
        f"calls=$callSeconds%.3fs wall=$wall%.3fs")
    }

    // Pass k runs variant k mod V, so the first pass and the minimum of
    // V - 1 steady passes (1 when V = 1) cover every variant once. Traced
    // runs start with steady passes 1 (traced) and 2 (untraced) of
    // variant 1 (their difference is the tracing overhead), then traced
    // passes of variants 2, ..., V - 1, 0. After the minimum, more passes
    // run while the next one (as long as the median so far) still fits in
    // the window.
    val v = wl.variants
    val minSteady = if (args.trace) v + 1 else math.max(1, v - 1)
    var error: Option[Throwable] = None
    try {
      val window0 = System.nanoTime()
      runPass(0, 0, args.trace)
      var steady = 0
      def fits: Boolean = (System.nanoTime() - window0) / 1e9 +
        Stats.median(passes.filter(_.index > 0).map(_.wallSeconds).toSeq) <= args.seconds
      while (steady < minSteady || fits) {
        steady += 1
        if (!args.trace) runPass(steady, steady, traced = false)
        else if (steady <= 2) runPass(steady, 1, traced = steady == 1)
        else runPass(steady, steady - 1, traced = true)
      }
    } catch {
      case e: Throwable =>
        error = Some(e)
        e.printStackTrace()
        if (ctx.failed == 0) { ctx.attempted += 1; ctx.failed += 1 }
    }

    val result =
      if (args.trace)
        Report.perLayer(ctx, passes.toSeq, tracer.get, args.cores)
      else Report.endToEnd(ctx, passes.toSeq, setupTimes.toSeq, peakRssMb)
    for (out <- args.traceOut; t <- tracer)
      Report.writeSpans(out, args, ctx, passes.toSeq, t)
    stopSession(spark)

    result.foreach { case (k, (v, unit)) =>
      println(f"[graftbench] ${args.workload}%s $k%s = $v%.6f $unit%s")
    }
    val probes = ctx.calls.count(c => c.probe && c.pass > 0)
    println(s"[graftbench] ${args.workload} probe samples (steady) = $probes")
    ctx.failures.foreach(f => println(s"[graftbench] failure: $f"))
    val correct = ctx.failed == 0 && error.isEmpty && !settleFailed
    val metrics = result.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${Report.num(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": $metrics}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
