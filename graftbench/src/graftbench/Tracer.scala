package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Counters of one Spark job, filled from listener events. */
final class JobRec(val id: Int, val span: Int, val site: String,
                   val sqlExecution: Boolean, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  var bytesWritten = 0L
  var recordsRead = 0L

  /** The verb of the first stage's call site: `parquet` in
    * `parquet at Similarity.scala:1637`.
    */
  def verb: String = site.takeWhile(_ != ' ')

  /** An eager schema read: `spark.read.parquet` runs this job while it
    * resolves the relation, outside any SQL execution. A Parquet write
    * shares the verb but always runs inside one.
    */
  def isSchemaJob: Boolean = verb == "parquet" && !sqlExecution

  def isWrite: Boolean = bytesWritten > 0

  def wallMs: Long = math.max(0L, endMs - startMs)
}

/** The benchmark's SparkListener. Jobs are attributed to the timed call
  * (span) that submitted them through the `graftbench.span` local
  * property, which the harness sets around every call of a traced pass;
  * tasks are attributed to the job whose stage they ran in. Events arrive
  * on the listener-bus thread; every accessor synchronizes.
  */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private var jobsStarted = 0L
  private var jobsEnded = 0L
  private var tasksStarted = 0L
  private var tasksEnded = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.minBy(_.stageId).name
    val sql = props.exists(_.getProperty("spark.sql.execution.id") != null)
    val j = new JobRec(e.jobId, span, site, sql, e.time)
    jobs(e.jobId) = j
    // a stage listed by several jobs runs its tasks in the latest one (the
    // earlier jobs skip it once its output exists)
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    tasksStarted += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasksEnded += 1
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.taskCpuNs += m.executorCpuTime
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.peakTaskMem = math.max(j.peakTaskMem, m.peakExecutionMemory)
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Wait until the bus has delivered every posted event and every started
    * job and task has its end event. False if that does not happen within
    * `timeoutMs`: counters read then would silently undercount.
    */
  def settle(sc: org.apache.spark.SparkContext, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def matched: Boolean = synchronized {
      jobsStarted == jobsEnded && tasksStarted == tasksEnded
    }
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      ok = org.apache.spark.graftbench.BusBridge.drain(sc,
        math.max(1L, deadline - System.currentTimeMillis())) && matched
      if (!ok) Thread.sleep(5)
    }
    ok
  }

  def jobsOf(spans: Set[Int]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spans.contains(j.span)).toList
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
