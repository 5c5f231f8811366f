package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One Spark job as the listener saw it; task metrics are summed over
  * the stages that `SparkListenerJobStart.stageIds` names for it.
  */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  def end: Long = if (endMs < 0) startMs else endMs
}

/** One finished Dataset action or command (QueryExecutionListener). */
final case class ActionRec(func: String, ms: Double, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, isWrite: Boolean)

final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans, Spark listeners and a log appender, all from the benchmark's
  * side of the engine's public API. Spans are opened around the
  * benchmark's own calls into each module; jobs and stages come from a
  * SparkListener; Catalyst phase times and write commands from a
  * QueryExecutionListener; compile failures of generated code from a
  * log4j appender. With `enabled` false every `span` is a plain call.
  *
  * Operations run one at a time from one thread. After each traced
  * operation the listener bus is drained, so every event delivered
  * until then belongs to that operation; job start times are also
  * checked against the operation's interval.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  @volatile var enabled = false
  @volatile var installed = false
  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(ns: Long): Double = epoch0Ms + (ns - nano0) / 1e6

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val actions = mutable.ArrayBuffer[ActionRec]()
  val executorCpuNs = new AtomicLong
  val codegenFailures = new AtomicLong

  /** Always installed: sums executor CPU for the run's host record. */
  val cpuListener: SparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => executorCpuNs.addAndGet(m.executorCpuTime))
  }

  private val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val j = new JobRec(e.jobId, e.time)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(func: String, qe: QueryExecution, ms: Double): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val write = qe.logical.nodeName.startsWith("InsertInto")
      Tracer.this.synchronized {
        actions += ActionRec(func, ms, phase("analysis"), phase("optimization"),
          phase("planning"), write)
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      rec(func, qe, ns / 1e6)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      rec(func, qe, 0.0)
  }

  private final class CodegenAppender extends AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (msg.contains("ailed to compile")) codegenFailures.incrementAndGet()
    }
  }

  /** Registers the tracing listeners and the codegen-failure appender. */
  def install(): Unit = {
    installed = true
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new CodegenAppender
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  def drain(): Unit = GraftBenchBus.drain(spark.sparkContext)

  /** Events delivered since the last call (drains the bus first). */
  def take(): (Seq[JobRec], Seq[ActionRec]) = {
    drain()
    synchronized {
      val r = (jobs.toList, actions.toList)
      jobs.clear(); jobById.clear(); stageJob.clear(); actions.clear()
      r
    }
  }

  // ---- spans ----
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil // ids of the open spans, innermost first
  private var nextId = 0
  private var opId = -1
  private val opSpans = mutable.ArrayBuffer[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        opSpans += Span(id, name, start, System.nanoTime(), parent, opId)
      }
    }

  /** Runs one traced operation; returns its result and layer record. */
  def op[T](id: Int, kind: String)(body: => T): (T, Map[String, Double]) = {
    take() // events from between operations belong to none
    opId = id
    opSpans.clear()
    val cg0 = codegenFailures.get
    val r = span("op." + kind)(body)
    val (js, as) = take()
    val layers = account(opSpans.toList, js, as) +
      ("functions.codegen_failures" -> (codegenFailures.get - cg0).toDouble)
    spans ++= opSpans
    (r, layers)
  }

  def allSpans: Seq[Span] = spans.toList

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Layer split of one operation. A span's self time is its duration
    * minus its direct children's; the operation span's self time is the
    * part of the operation no layer span covers.
    */
  private def account(sp: List[Span], js: Seq[JobRec], as: Seq[ActionRec]): Map[String, Double] = {
    val root = sp.find(_.parent < 0).get
    val opStart = epochMs(root.startNs)
    val opEnd = epochMs(root.endNs)
    // jobs started inside the op's interval (1 ms slack for clock rounding)
    val mine = js.filter(j => j.startMs >= opStart - 1 && j.startMs <= opEnd + 1)
    def within(name: String): Seq[JobRec] = sp.filter(_.name == name).flatMap { s =>
      val (a, b) = (epochMs(s.startNs), epochMs(s.endNs))
      mine.filter(j => j.startMs >= a - 1 && j.startMs <= b + 1)
    }.distinct
    def jobMs(j: Seq[JobRec]) = union(j.map(x => (x.startMs.toDouble, x.end.toDouble)))
    def total(name: String) = sp.filter(_.name == name).map(_.ms).sum
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    sp.foreach { s =>
      self(s.name) += s.ms - sp.filter(_.parent == s.id).map(_.ms).sum
    }
    val buildJobs = within("queries.build")
    val nlJobs = within("nl.translate")
    val wall = root.ms
    val jobWall = jobMs(mine)
    val runMs = mine.map(_.runMs).sum.toDouble
    val base = Map(
      "op.wall_ms" -> wall,
      "op.unattributed_ms" -> self(root.name),
      "queries.build_ms" -> total("queries.build"),
      "queries.build_jobs" -> buildJobs.size.toDouble,
      "queries.build_job_ms" -> jobMs(buildJobs),
      "queries.build_driver_ms" -> (total("queries.build") - jobMs(buildJobs)),
      "catalyst.analysis_ms" -> as.map(_.analysisMs).sum,
      "catalyst.optimization_ms" -> as.map(_.optimizationMs).sum,
      "catalyst.planning_ms" -> as.map(_.planningMs).sum,
      "spark.jobs" -> mine.size.toDouble,
      "spark.stages" -> mine.map(_.stages).sum.toDouble,
      "spark.tasks" -> mine.map(_.tasks).sum.toDouble,
      "spark.job_ms" -> jobWall,
      "spark.executor_run_ms" -> runMs,
      "spark.executor_cpu_ms" -> mine.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> mine.map(_.gcMs).sum.toDouble,
      "spark.input_bytes" -> mine.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> mine.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> mine.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> mine.map(_.spill).sum.toDouble,
      "spark.core_capacity_ms" -> jobWall * cores,
      "dialect.parse_ms" -> total("dialect.parse"),
      "exec.select_build_ms" -> total("exec.select"),
      "exec.insert_ms" -> total("exec.insert"),
      "exec.update_ms" -> total("exec.update"),
      "exec.delete_ms" -> total("exec.delete"),
      "catalog.load_ms" -> total("catalog.load"),
      "catalog.write_ms" -> as.filter(_.isWrite).map(_.ms).sum,
      "catalog.bytes_written" -> mine.map(_.outputBytes).sum.toDouble,
      "nl.translate_ms" -> total("nl.translate"),
      "nl.translate_jobs" -> nlJobs.size.toDouble,
      "ingest.scan_jobs" -> (if (total("server.upload") > 0)
        mine.count(_.inputBytes > 0).toDouble else 0.0),
      "ingest.count_ms" -> (if (total("server.upload") > 0)
        as.filter(_.func == "count").map(_.ms).sum else 0.0),
      "Server.other_ms" -> (if (total("server.upload") + total("server.query") > 0)
        total("server.upload") + total("server.query") - as.map(_.ms).sum else 0.0))
    base ++ self.map { case (k, v) => ("self." + k) -> v }
  }
}
