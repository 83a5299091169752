package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** In-memory trace of one traced command: spans recorded around calls
  * into the engine, plus the Spark listener counts that the benchmark
  * attributes to those spans afterwards. Nothing is written until
  * [[Trace.write]] at the end of the command, so tracing adds no I/O
  * while the engine runs. All times are epoch milliseconds. */
object Trace {
  final case class Span(name: String, start: Long, end: Long)
  private final case class Raw(json: String)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  val mainEntered: Long = System.currentTimeMillis()

  /** Record `body` as a span called `name`. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally spans.synchronized { spans += Span(name, t0, System.currentTimeMillis()) }
  }

  /** Record a count the harness knows from a call's result. */
  def count(name: String, n: Long): Unit = counts.synchronized { counts(name) = n }

  private def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      val js = v match {
        case Raw(json)  => json
        case s: String  => esc(s)
        case o: Option[_] => o.map(x => esc(x.toString)).getOrElse("null")
        case xs: Iterable[_] => xs.mkString("[", ",", "]")
        case x => x.toString
      }
      s"${esc(k)}:$js"
    }.mkString("{", ",", "}")

  /** Write spans and listener records as one JSON object. */
  def write(path: String, l: TraceListener): Unit = {
    val json = l.synchronized {
      obj(
        "main_entered" -> mainEntered,
        "written" -> System.currentTimeMillis(),
        "spans" -> spans.map(s => obj("name" -> s.name, "start" -> s.start, "end" -> s.end)),
        "counts" -> Raw(obj(counts.toSeq: _*)),
        "jobs" -> l.jobs.values.map(j => obj("id" -> j.id, "start" -> j.start, "end" -> j.end,
          "execution" -> j.execution, "description" -> j.description, "stages" -> j.stages)),
        "stages" -> l.stages.values.map(s => obj("id" -> s.id, "tasks" -> s.tasks,
          "failed" -> s.failed, "run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleWrite,
          "output_bytes" -> s.outBytes, "input_records" -> s.inRecords,
          "input_tasks" -> s.inputTasks)),
        "executions" -> l.executions.values.map(e => obj("id" -> e.id, "start" -> e.start,
          "end" -> e.end, "writer" -> e.writer, "scans" -> e.scans.map(esc))),
        "metrics" -> l.accumNames.map { case (id, (execution, node, metric)) =>
          obj("execution" -> execution, "node" -> node, "metric" -> metric,
            "value" -> l.driverAccums.getOrElse(id, 0L))
        })
    }
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Collects the per-job, per-stage and per-SQL-execution counts of a
  * traced command. Task metrics are summed per stage as they arrive, so
  * memory grows with stages, not tasks. */
class TraceListener extends SparkListener {
  final class Job(val id: Int, val start: Long, val execution: Option[String],
      val description: Option[String], val stages: Seq[Int]) { var end = 0L }
  final class Stage(val id: Int) {
    var tasks, failed, inputTasks = 0
    var runMs, shuffleWrite, outBytes, inRecords = 0L
  }
  final class Execution(val id: Long, val start: Long, val writer: String,
      val scans: Seq[String]) { var end = 0L }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  /** accumulator id -> (SQL execution id, plan node name, metric name),
    * for the driver-side SQL metrics the benchmark reads: files, bytes
    * and rows written by write commands, files read by scans. */
  val accumNames = mutable.LinkedHashMap.empty[Long, (Long, String, String)]
  val driverAccums = mutable.Map.empty[Long, Long].withDefaultValue(0L)

  private val wantedMetrics = Set("number of written files", "written output",
    "number of output rows", "number of files read", "size of files read")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = new Job(e.jobId, e.time,
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))),
      p.flatMap(x => Option(x.getProperty("spark.job.description"))),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.tasks += 1
    if (e.reason != Success) s.failed += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.outBytes += m.outputMetrics.bytesWritten
      s.inRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) s.inputTasks += 1
    }
  }

  private def planNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(planNodes)

  private def notePlan(execution: Long, p: SparkPlanInfo): Seq[String] = {
    val nodes = planNodes(p)
    nodes.foreach(n => n.metrics.filter(m => wantedMetrics(m.name))
      .foreach(m => accumNames(m.accumulatorId) = (execution, n.nodeName, m.name)))
    nodes.filter(_.nodeName.startsWith("Scan "))
      .map(n => n.metadata.getOrElse("Location", n.nodeName))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        // which populate started this execution: the call-site details
        // hold the driver stack at the action (Runner's write, or an
        // eager job inside the populate, such as surrogate-key assignment)
        val writer =
          if (e.details.contains("writeDim") || e.details.contains("DimPopulate")) "dim"
          else if (e.details.contains("writeFact") || e.details.contains("FactPopulate")) "fact"
          else ""
        executions(e.executionId) =
          new Execution(e.executionId, e.time, writer, notePlan(e.executionId, e.sparkPlanInfo))
      case e: SparkListenerSQLAdaptiveExecutionUpdate => notePlan(e.executionId, e.sparkPlanInfo)
      case e: SparkListenerSQLExecutionEnd =>
        executions.get(e.executionId).foreach(_.end = e.time)
      case e: SparkListenerDriverAccumUpdates =>
        e.accumUpdates.foreach { case (id, v) => driverAccums(id) += v }
      case _ => ()
    }
  }
}
