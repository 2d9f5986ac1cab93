package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Listener for the traced run: logs every job (with the span id the
  * client thread had open when it was submitted, and its SQL execution),
  * every completed stage with its task metrics, and the files each SQL
  * write committed. Events are kept in memory; attribution to spans
  * happens when the run ends. It lives in Spark's package only to read
  * the executed plan that SQL execution-end events carry.
  */
final class StageLog extends SparkListener {
  val events = new ConcurrentLinkedQueue[ObjectNode]()

  private def event(ev: String): ObjectNode = JsonNodeFactory.instance.objectNode().put("ev", ev)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val n = event("job_start").put("job", e.jobId).put("t", e.time)
    Seq("span" -> StageLog.SpanKey, "exec" -> SQLExecution.EXECUTION_ID_KEY).foreach {
      case (field, key) =>
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(v) => n.put(field, v.toLong)
          case None => n.putNull(field)
        }
    }
    val stages = n.putArray("stages")
    e.stageIds.foreach(s => stages.add(s))
    events.add(n)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(event("job_end").put("job", e.jobId).put("t", e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime; m <- Option(i.taskMetrics)) {
      events.add(event("stage").put("stage", i.stageId).put("attempt", i.attemptNumber())
        .put("start", s).put("end", c).put("tasks", i.numTasks)
        .put("cpu_ns", m.executorCpuTime).put("gc_ms", m.jvmGCTime)
        .put("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        .put("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        .put("input_bytes", m.inputMetrics.bytesRead)
        .put("output_bytes", m.outputMetrics.bytesWritten))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null =>
      val files = StageLog.filesWritten(x.qe.executedPlan)
      if (files > 0)
        events.add(event("write").put("t", x.time).put("exec", x.executionId).put("files", files))
    case _ =>
  }
}

object StageLog {
  /** Local property naming the span open on the submitting thread. */
  val SpanKey = "perfbench.span"

  /** Files committed by the write commands of an executed plan, looking
    * through adaptive-execution wrappers. */
  def filesWritten(p: SparkPlan): Long = p match {
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
    case q: QueryStageExec => filesWritten(q.plan)
    case other => other.children.map(filesWritten).sum
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
