package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graftbench.BenchMain.{Args, PassRec}

/** Turns a run's call records (and, when traced, its listener counters)
  * into the reported metrics and the span file.
  */
object Report {
  type Metrics = Seq[(String, (Double, String))]

  private val MB = 1048576.0

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def steady(passes: Seq[PassRec]) = passes.filter(_.index > 0)

  /** The untraced run's metrics (`end_to_end` in BENCHMARK.json). */
  def endToEnd(ctx: Ctx, passes: Seq[PassRec], setupTimes: Seq[Double],
               peakRssMb: Double): Metrics = {
    val probes = ctx.calls.filter(c => c.probe && c.pass > 0).map(_.seconds).toSeq
    Seq(
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "first_pass_s" -> (passes.headOption.map(_.seconds).getOrElse(0.0), "s"),
      "pass_s" -> (Stats.median(steady(passes).map(_.seconds)), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"),
      "probe_p50_s" -> (Stats.quantile(probes, 0.5), "s"),
      "probe_p90_s" -> (Stats.quantile(probes, 0.9), "s"))
  }

  val indexFamilies = Seq("dedup", "similarity", "text")
  val indexOps = Seq("build", "append", "delete", "compact", "reuse")
  val iterativeOps = Seq("graph.pagerank", "graph.ppr", "graph.lpa",
    "graph.kcore", "graph.hits", "preference.bt", "dedup.cc")

  /** The traced run's metrics (`per_layer` in BENCHMARK.json) from the
    * traced steady passes. Layers a workload does not call read 0.
    */
  def perLayer(ctx: Ctx, passes: Seq[PassRec], tracer: Tracer,
               cores: Int): Metrics = {
    val traced = steady(passes).filter(_.traced)
    val untraced = steady(passes).filterNot(_.traced)
    def calls(p: PassRec) = ctx.calls.filter(_.pass == p.index).toSeq
    def jobs(p: PassRec, metric: String => Boolean = _ => true) =
      tracer.jobsOf(calls(p).filter(c => metric(c.metric)).map(_.id).toSet)
    // the traced steady passes hold one pass of each variant: their mean is
    // the per-pass figure of a whole rotation
    def perPass(f: PassRec => Double): Double =
      if (traced.isEmpty) 0.0 else traced.map(f).sum / traced.size
    // a call some variants skip: median over the traced steady passes that
    // made it, else the traced first pass
    def passesWith(metric: String): Seq[PassRec] = {
      val with_ = (p: PassRec) => calls(p).exists(_.metric == metric)
      val s = traced.filter(with_)
      if (s.nonEmpty) s else passes.filter(p => p.index == 0 && p.traced && with_(p))
    }
    def callTime(metric: String): Double = Stats.median(passesWith(metric).map(p =>
      calls(p).filter(_.metric == metric).map(_.seconds).sum))
    def callJobs(metric: String): Double = Stats.median(passesWith(metric).map(p =>
      jobs(p, _ == metric).size.toDouble))
    def probeCalls(fam: String) = traced.flatMap(calls)
      .filter(c => c.probe && c.metric == s"$fam.probe")

    // per-file convert times, cut from the csv2parquet call's job sequence:
    // a file's segment ends with its write job, whose input records give
    // the file's size class
    def fileSegments(p: PassRec): Seq[(Long, Double)] = {
      val js = jobs(p, _ == "io.csv2parquet").sortBy(_.id)
      val out = Seq.newBuilder[(Long, Double)]
      var segStart = -1L
      js.foreach { j =>
        if (segStart < 0) segStart = j.startMs
        if (j.isWrite) {
          out += ((j.recordsRead, (j.endMs - segStart) / 1e3))
          segStart = -1L
        }
      }
      out.result()
    }
    def fileClass(large: Boolean)(p: PassRec): Double = {
      val segs = fileSegments(p)
      if (segs.isEmpty) 0.0
      else {
        val cut = (segs.map(_._1).max + segs.map(_._1).min) / 2.0
        val sel = segs.filter(s => if (large) s._1 > cut else s._1 <= cut)
        Stats.median(sel.map(_._2))
      }
    }

    val io = Seq(
      "io.csv_infer_s" -> (perPass(p =>
        jobs(p).filter(_.verb == "csv").map(_.wallMs).sum / 1e3), "s"),
      "io.write_s" -> (perPass(p =>
        jobs(p).filter(_.isWrite).map(_.wallMs).sum / 1e3), "s"),
      "io.small_file_s" -> (perPass(fileClass(large = false)), "s"),
      "io.large_file_s" -> (perPass(fileClass(large = true)), "s"),
      "io.files" -> (perPass(p => fileSegments(p).size.toDouble), "count"),
      "io.written_mb" -> (perPass(p => jobs(p).map(_.bytesWritten).sum / MB), "MB"),
      "geo.median_s" -> (callTime("geo.median"), "s"),
      "geo.collate_s" -> (callTime("geo.collate"), "s"),
      "add_country_s" -> (callTime("add_country"), "s"))

    val index = indexFamilies.flatMap { fam =>
      indexOps.map(op => s"$fam.${op}_s" -> (callTime(s"$fam.$op"), "s")) ++
        Seq(
          s"$fam.probe_s" -> (Stats.median(probeCalls(fam).map(_.seconds)), "s"),
          s"$fam.probe_hits" -> ({
            val pc = probeCalls(fam)
            val asked = pc.map(_.inRows).sum
            if (asked == 0) 0.0 else pc.map(_.rows).sum.toDouble / asked
          }, "rows/row"))
    }

    val iterative = iterativeOps.flatMap { op =>
      Seq(s"${op}_s" -> (callTime(op), "s"), s"${op}_jobs" -> (callJobs(op), "count"))
    }

    def sumJobs(p: PassRec)(f: JobRec => Double) = jobs(p).map(f).sum
    val engine = Seq(
      "spark.jobs" -> (perPass(p => jobs(p).size.toDouble), "count"),
      "spark.schema_jobs" -> (perPass(p => jobs(p).count(_.isSchemaJob).toDouble), "count"),
      "spark.stages" -> (perPass(p => sumJobs(p)(_.stages.toDouble)), "count"),
      "spark.tasks" -> (perPass(p => sumJobs(p)(_.tasks.toDouble)), "count"),
      "spark.tasks_per_job" -> (perPass { p =>
        val js = jobs(p); if (js.isEmpty) 0.0 else js.map(_.tasks).sum.toDouble / js.size
      }, "count"),
      "spark.task_run_s" -> (perPass(p => sumJobs(p)(_.taskRunMs / 1e3)), "s"),
      "spark.task_cpu_s" -> (perPass(p => sumJobs(p)(_.taskCpuNs / 1e9)), "s"),
      "spark.busy_share" -> (perPass(p =>
        sumJobs(p)(_.taskRunMs / 1e3) / math.max(1e-9, p.seconds * cores)), "share"),
      "spark.shuffle_read_mb" -> (perPass(p => sumJobs(p)(_.shuffleReadBytes / MB)), "MB"),
      "spark.shuffle_write_mb" -> (perPass(p => sumJobs(p)(_.shuffleWriteBytes / MB)), "MB"),
      "spark.spill_mb" -> (perPass(p => sumJobs(p)(_.spillBytes / MB)), "MB"),
      "spark.peak_task_mem_mb" -> (perPass(p =>
        jobs(p).map(_.peakTaskMem).foldLeft(0L)((a, b) => math.max(a, b)) / MB), "MB"),
      "jvm.gc_s" -> (perPass(_.gcSeconds), "s"),
      "jvm.heap_peak_mb" -> (perPass(_.heapPeakMb), "MB"))

    // overhead: traced against untraced passes of the same variant
    val pairVariants = untraced.map(_.variant).toSet
    val tracedPass = Stats.median(traced.filter(p => pairVariants(p.variant)).map(_.seconds))
    val untracedPass = Stats.median(untraced.map(_.seconds))
    val overhead = Seq(
      "trace.pass_s" -> (tracedPass, "s"),
      "trace.untraced_pass_s" -> (untracedPass, "s"),
      "trace.overhead_s" -> (tracedPass - untracedPass, "s"))

    io ++ index ++ iterative ++ engine ++ overhead
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The span file: every pass span and call span (start, end, parent,
    * self time, the jobs that ran inside it with their counters). Spans
    * are kept in memory during the run and written once at its end.
    */
  def writeSpans(out: File, args: Args, ctx: Ctx, passes: Seq[PassRec],
                 tracer: Tracer): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${q(args.workload)}, "seed": ${args.seed}, """
    sb ++= s""""cores": ${args.cores}, "passes": [\n"""
    sb ++= passes.map { p =>
      val childSeconds = ctx.calls.filter(_.pass == p.index).map(_.seconds).sum
      s"""{"id": "pass-${p.index}", "variant": ${p.variant}, "traced": ${p.traced}, """ +
        s""""start_ms": ${p.startMs}, """ +
        s""""end_ms": ${p.endMs}, "wall_s": ${num(p.wallSeconds)}, """ +
        s""""calls_s": ${num(p.seconds)}, "self_s": ${num(p.wallSeconds - childSeconds)}, """ +
        s""""gc_s": ${num(p.gcSeconds)}, "heap_peak_mb": ${num(p.heapPeakMb)}}"""
    }.mkString(",\n")
    sb ++= "],\n\"spans\": [\n"
    sb ++= ctx.calls.map { c =>
      val js = tracer.jobsOf(Set(c.id))
      val jobsJson = js.map { j =>
        s"""{"id": ${j.id}, "site": ${q(j.site)}, "schema": ${j.isSchemaJob}, """ +
          s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stages}, """ +
          s""""tasks": ${j.tasks}, "task_run_ms": ${j.taskRunMs}, """ +
          s""""task_cpu_ms": ${j.taskCpuNs / 1000000}, "shuffle_read_b": ${j.shuffleReadBytes}, """ +
          s""""shuffle_write_b": ${j.shuffleWriteBytes}, "spill_b": ${j.spillBytes}, """ +
          s""""peak_task_mem_b": ${j.peakTaskMem}, "written_b": ${j.bytesWritten}}"""
      }.mkString("[", ", ", "]")
      s"""{"id": ${c.id}, "name": ${q(c.name)}, "metric": ${q(c.metric)}, """ +
        s""""parent": "pass-${c.pass}", "start_ms": ${c.startMs}, "end_ms": ${c.endMs}, """ +
        s""""seconds": ${num(c.seconds)}, "self_s": ${num(c.seconds)}, """ +
        s""""rows": ${c.rows}, "jobs": $jobsJson}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    out.getAbsoluteFile.getParentFile.mkdirs()
    Files.write(out.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
