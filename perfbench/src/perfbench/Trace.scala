package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** Spans recorded around the benchmark's calls into the crawl loop. Kept in
  * memory and written once when the run ends. Times are epoch milliseconds
  * so they line up with the Spark listener's job and execution times.
  */
final class Spans(val runId: String) {
  private val buf = ArrayBuffer.empty[Map[String, Any]]
  private var lastId = 0

  /** Opens a span: its id (children name it as parent) and start time. */
  def begin(): (Int, Long) = synchronized {
    lastId += 1
    (lastId, System.currentTimeMillis())
  }

  def end(span: (Int, Long), name: String, parent: Int,
          attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    buf += Map("id" -> span._1, "name" -> name, "start_ms" -> span._2,
      "end_ms" -> System.currentTimeMillis(), "parent" -> parent,
      "run_id" -> runId, "attrs" -> attrs)
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toList)
}

/** Listens to the Spark session from outside the program: job intervals,
  * per-job task time, and, per SQL execution, the table directory it writes,
  * the tables it scans and the executed plan's row and byte metrics.
  */
final class SessionRecorder(spark: SparkSession) extends SparkListener {
  private final class Job(val id: Int, val start: Long, val execId: Long) {
    @volatile var end: Long = -1L
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execEnd = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execRoot = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execPlan = new ConcurrentHashMap[Long, Map[String, Any]]()

  def install(): this.type = { spark.sparkContext.addSparkListener(this); this }

  /** Drain the listener bus, then stop listening. */
  def finish(): Unit = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Job(e.jobId, e.time, exec))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) j.foreach { job =>
      job.runMs.addAndGet(m.executorRunTime)
      job.cpuNs.addAndGet(m.executorCpuTime)
      job.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      job.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      job.tasks.incrementAndGet()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time)
      val root: Long = s.rootExecutionId.map(_.toString.toLong).getOrElse(s.executionId)
      execRoot.put(s.executionId, root)
    case s: SparkListenerSQLExecutionEnd =>
      execEnd.put(s.executionId, s.time)
      SparkInternals.queryExecution(s).foreach(qe => execPlan.put(s.executionId, describe(qe)))
    case _ =>
  }

  /** Table label of a store path: `.../data/w00003-delta/row_type=seen`
    * becomes `delta/seen`, a corpus's `.../web` becomes `web`.
    */
  private def label(path: String): String = {
    val parts = path.split('/').filter(_.nonEmpty)
    val i = parts.lastIndexWhere(_.matches("w\\d{5}-.*"))
    if (i < 0) parts.lastOption.getOrElse("")
    else (parts(i).replaceFirst("w\\d{5}-", "") +:
      parts.drop(i + 1).map(_.replaceFirst("^row_type=", ""))).mkString("/")
  }

  private def describe(qe: QueryExecution): Map[String, Any] = {
    val scans = ArrayBuffer.empty[Map[String, Any]]
    var write: Map[String, Any] = Map.empty
    def visit(plan: SparkPlan): Unit = plan.foreach {
      case c: CommandResultExec => visit(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
      case s: FileSourceScanExec =>
        scans += Map(
          "tables" -> s.relation.location.rootPaths.map(p => label(p.toString)).distinct.sorted,
          "rows" -> s.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
          "bytes" -> s.metrics.get("filesSize").map(_.value).getOrElse(0L),
          "files" -> s.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case w: DataWritingCommandExec =>
        val dir = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => label(i.outputPath.toString)
          case other => other.nodeName
        }
        write = Map("dir" -> dir,
          "rows" -> w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
          "bytes" -> w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L),
          "files" -> w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case _ =>
    }
    visit(qe.executedPlan)
    Map("scans" -> scans.toList, "write" -> write)
  }

  /** Started jobs that have not ended; zero once the bus is drained. */
  def openJobs: Int = jobs.values.asScala.count(_.end < 0)

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    val root = Option(execRoot.get(j.execId)).map(_.longValue).getOrElse(j.execId)
    Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "exec" -> j.execId,
      "root_exec" -> root, "run_s" -> j.runMs.get / 1e3, "cpu_s" -> j.cpuNs.get / 1e9,
      "shuffle_bytes" -> j.shuffleBytes.get, "input_bytes" -> j.inputBytes.get,
      "tasks" -> j.tasks.get)
  }

  def execRecords: Seq[Map[String, Any]] =
    execStart.keySet.asScala.toSeq.sorted.map { id =>
      Map("id" -> id,
        "root" -> Option(execRoot.get(id)).map(_.longValue).getOrElse(id),
        "start_ms" -> execStart.get(id).longValue,
        "end_ms" -> Option(execEnd.get(id)).map(_.longValue).getOrElse(-1L)) ++
        Option(execPlan.get(id)).getOrElse(Map.empty)
    }
}
