package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Splits one statement into layers from outside the program.
  *
  * The statement runs as `fn(spark, sf)` (build), then the plan that
  * `.count()` executes is forced step by step: `optimizedPlan`
  * (optimize), `executedPlan` (plan), `collect()` (exec). Each step sets a
  * local property that every job it starts carries, so [[JobLog]] can hang
  * jobs under the step that started them. Build-time jobs are further
  * split by the first `graft.` frame of their call site: `graft.operators`
  * (driver loops), `graft.Tables` / `graft.sources` (schema inference),
  * and jobs that wrote output (GraftSession writes).
  *
  * Spans are kept in memory and written out once, at the end of the run.
  */
class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val sc = spark.sparkContext
  private val log = new JobLog
  sc.addSparkListener(log)

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextStmt = 0
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  def run(name: String, pass: Int, fn: (SparkSession, String) => DataFrame,
          sf: String): Sample = {
    val id = nextStmt
    nextStmt += 1
    val compileNs0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val marks = mutable.ArrayBuffer[(String, Long)]("start" -> nowUs)
    var rows = -1L
    var error: Option[String] = None
    var analysisMs = 0L
    def phase(p: String): Unit = sc.setLocalProperty(TagKey, s"$id:$p")
    try {
      phase("build")
      val df = fn(spark, sf)
      marks += "build" -> nowUs
      phase("optimize")
      val counted = df.groupBy().count()
      val qe = counted.queryExecution
      qe.optimizedPlan
      marks += "optimize" -> nowUs
      phase("plan")
      qe.executedPlan
      marks += "plan" -> nowUs
      phase("exec")
      rows = counted.collect().head.getLong(0)
      marks += "exec" -> nowUs
      analysisMs = Seq(df, counted).map(_.queryExecution.tracker.phases
        .get("analysis").map(_.durationMs).getOrElse(0L)).sum
    } catch {
      case e: Throwable =>
        error = Some(e.toString.take(300))
        marks += "failed" -> nowUs
    } finally sc.setLocalProperty(TagKey, null)
    val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    org.apache.spark.PerfbenchBus.drain(sc)
    val jobs = log.take(s"$id:")

    val (startUs, endUs) = (marks.head._2, marks.last._2)
    val stmtSpan = addSpan(id, name, "statement", startUs, endUs, -1, "")
    val phaseIds = marks.sliding(2).collect {
      case mutable.ArrayBuffer((_, a), (p, b)) if p != "failed" =>
        p -> addSpan(id, name, p, a, b, stmtSpan, "")
    }.toMap
    jobs.foreach { j =>
      addSpan(id, name, "job", j.startMs * 1000, j.endMs * 1000,
        phaseIds.getOrElse(j.phase, stmtSpan), j.site)
    }

    def dur(p: String): Double = {
      val i = marks.indexWhere(_._1 == p)
      if (i <= 0) 0.0 else (marks(i)._2 - marks(i - 1)._2) / 1e6
    }
    val build = jobs.filter(_.phase == "build")
    val exec = jobs.filter(_.phase == "exec")
    val loops = build.filter(_.layer == "loops")
    val schema = build.filter(_.layer == "schema")
    val writes = jobs.filter(_.outRecords > 0)
    val wall = (endUs - startUs) / 1e6
    val execS = dur("exec")
    val execRun = exec.map(_.runMs).sum / 1e3
    val layers = Seq(
      "build.s" -> dur("build"),
      "build.jobs" -> build.size.toDouble,
      "build.job_s" -> busy(build),
      "build.gap_s" -> (dur("build") - busy(build)),
      "loops.jobs" -> loops.size.toDouble,
      "loops.job_s" -> busy(loops),
      "driver.gap_s" -> (wall - busy(jobs)),
      "write.jobs" -> writes.size.toDouble,
      "write.job_s" -> busy(writes),
      "write.output_bytes" -> writes.map(_.outBytes).sum.toDouble,
      "write.output_rows" -> writes.map(_.outRecords).sum.toDouble,
      "catalyst.analysis_s" -> analysisMs / 1e3,
      "catalyst.optimize_s" -> dur("optimize"),
      "catalyst.plan_s" -> dur("plan"),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileS,
      "input.schema_jobs" -> schema.size.toDouble,
      "input.schema_s" -> busy(schema),
      "exec.s" -> execS,
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> execRun,
      "exec.task_cpu_s" -> exec.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> exec.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> exec.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> exec.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> exec.map(_.spill).sum.toDouble,
      "exec.task_failures" -> exec.map(_.failures).sum.toDouble,
      "exec.slot_util" -> (if (execS > 0) execRun / (execS * cores) else 0.0),
      "input.bytes_read" -> jobs.map(_.inBytes).sum.toDouble,
      "input.records_read" -> jobs.map(_.inRecords).sum.toDouble,
      "input.scan_tasks" -> jobs.map(_.scanTasks).sum.toDouble,
      "rows_out" -> rows.toDouble)
    Sample(name, pass, traced = true, wall, rows, error, layers)
  }

  private def addSpan(stmt: Int, name: String, kind: String, s: Long, e: Long,
                      parent: Int, site: String): Int = {
    spans += Span(spans.size, stmt, name, kind, s, e, parent, site)
    spans.size - 1
  }

  def writeSpans(j: Json): Unit =
    j.arr(spans.toSeq) { s =>
      j.obj {
        j.field("id", s.id); j.field("stmt_id", s.stmt); j.field("stmt", s.name)
        j.field("name", s.kind); j.field("start_us", s.startUs)
        j.field("end_us", s.endUs); j.field("parent", s.parent)
        if (s.site.nonEmpty) j.field("site", s.site)
      }
    }
}

object Trace {
  val TagKey = "perfbench.tag"

  case class Span(id: Int, stmt: Int, name: String, kind: String,
                  startUs: Long, endUs: Long, parent: Int, site: String)

  /** Seconds covered by the union of the jobs' intervals. */
  def busy(jobs: Seq[JobRec]): Double = {
    var total = 0L
    var reach = Long.MinValue
    jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) total += e - from
      reach = math.max(reach, e)
    }
    total / 1e3
  }
}

/** Counters of one job, filled from listener events. */
class JobRec(val tag: String, val startMs: Long, val site: String) {
  var endMs: Long = startMs
  var stages, tasks, failures, scanTasks = 0
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L

  def phase: String = tag.drop(tag.indexOf(':') + 1)

  /** Which part of the program started a build-time job. */
  def layer: String =
    if (site.startsWith("graft.operators.")) "loops"
    else if (site.startsWith("graft.Tables") || site.startsWith("graft.sources.")) "schema"
    else "other"
}

/** Listener that keeps per-job counters for jobs carrying a trace tag.
  *
  * A job's call site is the first `graft.` frame of the stack that
  * submitted it. Jobs submitted from Spark's own threads (broadcasts,
  * adaptive query stages) have no such frame; they take the call site of
  * the SQL execution they belong to. */
class JobLog extends SparkListener {
  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val executionSite = mutable.Map[String, String]()

  private def graftFrame(stack: String): Option[String] =
    stack.split('\n').map(_.trim).find(_.startsWith("graft."))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      graftFrame(s.details).foreach(executionSite(s.executionId.toString) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Trace.TagKey))).foreach { t =>
      val site = e.stageInfos.headOption.flatMap(s => graftFrame(s.details))
        .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(executionSite.get))
        .getOrElse("")
      jobs(e.jobId) = new JobRec(t, e.time, site)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failures += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) j.scanTasks += 1
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Removes and returns the jobs whose tag starts with `prefix`. */
  def take(prefix: String): Seq[JobRec] = synchronized {
    val hit = jobs.filter(_._2.tag.startsWith(prefix))
    hit.keys.foreach(jobs.remove)
    val gone = hit.keySet
    stageJob.filterInPlace((_, job) => !gone.contains(job))
    hit.values.toSeq.sortBy(_.startMs)
  }
}
