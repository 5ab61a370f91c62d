package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of the traced run. `kind` is one of `call`
  * (a benchmark call into a graft function: frame build or sink),
  * `action` (one SQL execution), `job` or `stage`; the op itself is
  * the root and is recorded by the runner. Times are epoch
  * milliseconds on the driver's clock. */
final class Span(val op: Int, val kind: String, val id: Long, val parent: Long,
                 val name: String, val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
}

/** The traced run's recorder: a `SparkListener` for SQL executions,
  * jobs, stages and task metrics. Every event is billed to the op
  * that is current when it is delivered; the runner drains the
  * listener bus after each op, so no event of one op can land on the
  * next.
  *
  * Catalyst phase times come from the `QueryExecution` that Spark
  * attaches to each execution-end event. A `QueryExecutionListener`
  * sees the same object, but nothing in it names the execution id
  * its jobs carry, so the phases could not be joined to their
  * action; the event's field is package-private and read
  * reflectively. */
final class Tracer(now: () => Double) extends SparkListener {
  @volatile var currentOp: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val actions = mutable.Map.empty[Long, Span]
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), Span]
  // per stage attempt: (scan kind, first task index, end index) ranges
  private val scanRanges = mutable.Map.empty[(Int, Int), Seq[(String, Int, Int)]]

  def all: Seq[Span] = synchronized(spans.toList)

  /** Times `body` as a `call` span of the current op. */
  def call[T](name: String)(body: => T): T = {
    val s = new Span(currentOp, "call", -1, -1, name, now())
    try body finally { s.end = now(); synchronized(spans += s) }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      val s = new Span(currentOp, "action", e.executionId, -1, "sql", e.time.toDouble)
      actions(e.executionId) = s; spans += s
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      actions.get(e.executionId).foreach { s =>
        s.end = e.time.toDouble
        Option(Tracer.qeOf.invoke(e)).foreach { qe =>
          qe.asInstanceOf[QueryExecution].tracker.phases.foreach { case (phase, p) =>
            s.add("catalyst." + phase + "_ms", p.durationMs.toDouble)
          }
        }
      }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val s = new Span(currentOp, "job", e.jobId, exec, "job", e.time.toDouble)
    jobs(e.jobId) = s; spans += s
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  /** Which task indices of a stage read which source: each JDBC or
    * CSV scan RDD owns a contiguous block of the stage's partitions,
    * in RDD-creation order (the order a union lays its children). */
  private def scans(info: StageInfo): Seq[(String, Int, Int)] = {
    val scanRdds = info.rddInfos.sortBy(_.id).flatMap { r =>
      val scope = r.scope.map(_.name.toLowerCase).getOrElse("")
      if (r.name.contains("JDBCRDD")) Some("jdbc" -> r.numPartitions)
      else if (r.name.contains("FileScanRDD") && scope.contains("csv")) Some("csv" -> r.numPartitions)
      else if (r.name.contains("FileScanRDD")) Some("file" -> r.numPartitions)
      else None
    }
    if (scanRdds.size == 1) Seq((scanRdds.head._1, 0, Int.MaxValue))
    else scanRdds.scanLeft(("", 0, 0)) { case ((_, _, from), (k, n)) => (k, from, from + n) }.tail
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    val s = new Span(currentOp, "stage", info.stageId, stageJob.getOrElse(info.stageId, -1).toLong,
      info.name, info.submissionTime.getOrElse(now().toLong).toDouble)
    stages(key) = s; spans += s
    scanRanges(key) = scans(info)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.end = info.completionTime.getOrElse(now().toLong).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    for (s <- stages.get(key); m <- Option(e.taskMetrics)) {
      s.add("tasks", 1)
      s.add("task_run_ms", m.executorRunTime.toDouble)
      s.add("task_cpu_ms", m.executorCpuTime / 1e6)
      s.add("task_gc_ms", m.jvmGCTime.toDouble)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      val idx = e.taskInfo.index
      scanRanges.getOrElse(key, Nil).find { case (_, from, until) => idx >= from && idx < until }
        .foreach { case (kind, _, _) => s.add(kind + "_task_ms", m.executorRunTime.toDouble) }
    }
  }
}

object Tracer {
  private val qeOf = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")
}
