package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One Spark job as the traced run sees it: its call site, its interval and
  * the summed metrics of its tasks.
  */
final class JobSpan(val jobId: Int, val execId: Long, val callSite: String, val start: Long) {
  var end: Long = -1L
  var stages: Int = 0
  var tasks: Int = 0
  var cpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var inputBytes: Long = 0L
  var outputBytes: Long = 0L
}

/** One SQL execution: the call site Spark recorded when the query started. */
final class ExecSpan(val execId: Long, val callSite: String, val start: Long) {
  var end: Long = -1L
}

/** Records every job and SQL execution of every SparkContext in the JVM.
  *
  * It is installed through `spark.extraListeners`, so each new context gets
  * its own instance; the spans go to the companion object's buffers, which
  * outlive the contexts (the pipeline's `main` stops its session on every
  * pass). Nothing is written while the run is timed: the harness dumps the
  * buffers once at the end.
  */
class LayerListener extends SparkListener {
  private val jobs = mutable.Map.empty[Int, JobSpan]
  private val stageOwner = mutable.Map.empty[Int, JobSpan]
  private val execs = mutable.Map.empty[Long, ExecSpan]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val span = new ExecSpan(e.executionId, e.details, e.time)
      execs(e.executionId) = span
      LayerListener.execs.add(span)
    case e: SparkListenerSQLExecutionEnd =>
      execs.remove(e.executionId).foreach(_.end = e.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    // the result stage is created last and carries the job's own call site
    val callSite =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val span = new JobSpan(e.jobId, execId, callSite, e.time)
    span.stages = e.stageInfos.size
    jobs(e.jobId) = span
    e.stageIds.foreach(stageOwner(_) = span)
    LayerListener.jobs.add(span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (span <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      span.tasks += 1
      span.cpuNs += m.executorCpuTime
      span.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      span.inputBytes += m.inputMetrics.bytesRead
      span.outputBytes += m.outputMetrics.bytesWritten
    }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    jobs.clear(); stageOwner.clear(); execs.clear()
  }
}

object LayerListener {
  val jobs = new ConcurrentLinkedQueue[JobSpan]()
  val execs = new ConcurrentLinkedQueue[ExecSpan]()

  /** The recorded spans as JSON lines, one object per job or execution. */
  def dump(): Iterator[String] =
    execs.iterator.asScala.map { x =>
      s"""{"kind":"exec","id":${x.execId},"start":${x.start},"end":${x.end},""" +
        s""""callsite":${Json.str(x.callSite)}}"""
    } ++ jobs.iterator.asScala.map { j =>
      s"""{"kind":"job","id":${j.jobId},"exec":${j.execId},"start":${j.start},""" +
        s""""end":${j.end},"stages":${j.stages},"tasks":${j.tasks},"cpu_ns":${j.cpuNs},""" +
        s""""shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""input_bytes":${j.inputBytes},"output_bytes":${j.outputBytes},""" +
        s""""callsite":${Json.str(j.callSite)}}"""
    }
}
