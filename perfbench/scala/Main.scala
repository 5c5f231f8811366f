package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Engine, Server, SparkEntry}
import graft.dialect.{Delete, Insert, Parser, Select, Update}
import graft.exec.{Dml, Executor}
import graft.ingest.Ingest
import graft.nl.Patterns
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation: what ran, how long it took, and what it returned
  * (checked afterwards against the generator's expectations).
  */
final case class OpRec(i: Int, kind: String, label: String, startMs: Double,
    wallMs: Double, error: String, result: Any, traced: Boolean,
    layers: Map[String, Double])

/** Runs one benchmark workload in-process against the engine's public
  * entry points and writes every operation's record as JSON.
  *
  * Usage: `graftbench.Main <job.json>`; the job file (written by
  * `perfbench/run.py`) names the workload, the generated inputs, the
  * run directory, the measuring time and whether to trace.
  */
object Main {
  private[graftbench] val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val job = new ObjectMapper().readValue(Paths.get(args(0)).toFile, classOf[java.util.Map[String, Any]])
      .asScala.toMap
    def str(k: String) = job(k).toString
    val cores = job("cores").toString.toInt
    val seconds = job("seconds").toString.toDouble
    val trace = job("trace").toString == "1"
    val root = str("run_root")

    val phases = mutable.LinkedHashMap[String, Double]()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark, cores)
    spark.sparkContext.addSparkListener(tracer.cpuListener)
    if (trace) tracer.install()
    phases("session_s") = (System.nanoTime() - t0) / 1e9

    val w = str("workload") match {
      case "operators" => new Operators(spark, job, tracer)
      case "dialect_rw" => new DialectRw(spark, job, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup(phases)
    // warm-up: the plan's first `warm_ops` operations, untimed
    val warmStart = System.nanoTime()
    val warm = (0 until job("warm_ops").toString.toInt).map(k => w.next(k, false, 0.0))
    System.gc()
    phases("warmup_s") = (System.nanoTime() - warmStart) / 1e9
    // stored fixtures are staged by the first run of their query; with
    // tracing on, their writes are the only write commands of the pass
    if (tracer.installed && str("workload") == "operators")
      phases("fixture_s") = tracer.take()._2.filter(_.isWrite).map(_.ms).sum / 1e3

    // timed windows: the reported one, and with tracing a second,
    // traced window over the continuing sequence
    val windows = mutable.ArrayBuffer[Map[String, Any]]()
    val ops = mutable.ArrayBuffer[OpRec]()
    val firstOpEpochMs = System.currentTimeMillis().toDouble
    for (traced <- if (trace) Seq(false, true) else Seq(false)) {
      tracer.enabled = traced
      val c0 = cpuNs()
      val e0 = tracer.executorCpuNs.get
      val s0 = System.nanoTime()
      val deadline = s0 + (seconds * 1e9).toLong
      var n = 0
      while (System.nanoTime() < deadline && w.hasNext) {
        ops += w.next(ops.length, traced, (System.nanoTime() - s0) / 1e6)
        n += 1
      }
      windows += Map("traced" -> traced, "ops" -> n,
        "wall_s" -> (System.nanoTime() - s0) / 1e9,
        "cpu_s" -> (cpuNs() - c0) / 1e9,
        "executor_cpu_s" -> (tracer.executorCpuNs.get - e0) / 1e9)
    }
    tracer.enabled = false
    // heap the run still holds once garbage is gone
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val out = Map(
      "workload" -> str("workload"),
      "phases" -> phases,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "windows" -> windows,
      "ops" -> ops,
      "extra" -> w.extra(),
      "warm_errors" -> warm.flatMap(o => Option(o.error)).take(5),
      "process_cpu_s" -> cpuNs() / 1e9,
      "executor_cpu_s" -> tracer.executorCpuNs.get / 1e9,
      "peak_rss_mb" -> vmHwmKb() / 1024.0,
      "live_heap_mb" -> liveHeapMb,
      "spans" -> (if (trace) tracer.allSpans else Nil))
    json.writeValue(Paths.get(str("out")).toFile, out)
    w.close()
    spark.stop()
    // the engine's HTTP server keeps non-daemon pool threads alive
    System.exit(0)
  }
}

/** A workload: untimed set-up, then operations on demand. */
abstract class Workload(spark: SparkSession, job: Map[String, Any], tracer: Tracer) {
  protected def list(k: String): Seq[Any] = job(k).asInstanceOf[java.util.List[Any]].asScala.toSeq
  protected def obj(x: Any): Map[String, Any] =
    x.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
  protected val dataDir: String = job("data_dir").toString
  protected val root: String = job("run_root").toString

  def setup(phases: mutable.Map[String, Double]): Unit
  def hasNext: Boolean
  def next(i: Int, traced: Boolean, startMs: Double): OpRec
  def extra(): Map[String, Any] = Map.empty
  def close(): Unit = ()

  protected def timed(phases: mutable.Map[String, Double], name: String)(f: => Unit): Unit = {
    val t = System.nanoTime()
    f
    phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
  }

  /** Runs `body`, under a traced operation span when `traced`. */
  protected def run(i: Int, kind: String, label: String, traced: Boolean,
      startMs: Double)(body: => Any): OpRec = {
    val t = System.nanoTime()
    val (res, err, layers) =
      try {
        if (traced) {
          val (r, l) = tracer.op(i, kind)(body)
          (r, null, l)
        } else (body, null, Map.empty[String, Double])
      } catch {
        case e: Throwable => (null, Option(e.getMessage).getOrElse(e.toString).take(500),
          Map.empty[String, Double])
      }
    OpRec(i, kind, label, startMs, (System.nanoTime() - t) / 1e6, err, res, traced,
      layers)
  }

  /** Adds the bytes cached RDD blocks still hold after a traced op
    * (read outside the op's timing). */
  protected def withStorage(r: OpRec, more: => Map[String, Double] = Map.empty): OpRec =
    if (!r.traced || r.layers.isEmpty) r
    else r.copy(layers = r.layers ++ more + ("spark.storage_bytes_held" ->
      spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum.toDouble))
}

/** `operators`: a seeded sample of `SparkEntry.queries`, each built,
  * counted and followed by `clearCache()` as `graft.Bench` does.
  */
final class Operators(spark: SparkSession, job: Map[String, Any], tracer: Tracer)
    extends Workload(spark, job, tracer) {
  private val queries = SparkEntry.queries
  private val sample = list("sample").map(_.toString)
  private val sequence = list("sequence").map(_.toString)
  private var pos = 0
  private val fixtureRoot = new java.io.File(sys.props("java.io.tmpdir"), "graft_fixtures")

  def setup(phases: mutable.Map[String, Double]): Unit =
    sample.foreach(n => require(queries.contains(n), s"no query named $n"))

  def hasNext: Boolean = pos < sequence.length

  def next(i: Int, traced: Boolean, startMs: Double): OpRec = {
    val name = sequence(pos)
    pos += 1
    val r = run(i, "query", name, traced, startMs) {
      val df = tracer.span("queries.build")(queries(name)(spark, dataDir))
      val n = tracer.span("action.count")(df.count())
      tracer.span("spark.clearCache")(spark.catalog.clearCache())
      n
    }
    withStorage(r)
  }

  override def extra(): Map[String, Any] = Map(
    "oracle_sql" -> sample.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
    "fixture_builds" ->
      Option(fixtureRoot.listFiles()).map(_.count(_.isDirectory)).getOrElse(0))
}

/** `dialect_rw`: a seeded statement session through `Engine.execute` /
  * `Engine.executeAny`, results materialized as `Server` returns them,
  * with one CSV/Parquet upload per block posted to an in-process
  * `Server` on loopback. Traced statements make the same calls one
  * module at a time.
  */
final class DialectRw(spark: SparkSession, job: Map[String, Any], tracer: Tracer)
    extends Workload(spark, job, tracer) {
  private val stmts = list("statements").map(obj)
  private var pos = 0
  private var engine: Engine = _
  private var executor: Executor = _
  private var dml: Dml = _
  private var server: Server = _
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val baseTables = list("base").map(obj(_)("table").toString)
  private var baseBytes = 0L

  def setup(phases: mutable.Map[String, Double]): Unit = {
    timed(phases, "data_s") {
      engine = new Engine(spark, s"$root/db")
      for ((t, src) <- Seq("lineitem" -> "lineitem", "orders" -> "orders",
          "accounts" -> "customer"))
        Ingest.importParquet(engine.catalog, s"$dataDir/$src.parquet", t)
      list("base").map(obj).foreach(b =>
        Ingest.importParquet(engine.catalog, b("path").toString, b("table").toString))
    }
    baseBytes = baseTables.map(t => engine.catalog.fileStats(t).totalBytes).sum
    executor = new Executor(name => tracer.span("catalog.load")(engine.catalog.load(name)))
    dml = new Dml(engine.catalog)
    server = new Server(engine, 0)
    server.start()
  }

  private def materialize(r: Either[String, org.apache.spark.sql.DataFrame]): Any = r match {
    case Left(msg) => Map("message" -> msg)
    case Right(df) => Map("rows" -> df.limit(1001).toJSON.collect().toSeq)
  }

  private def upload(s: Map[String, Any], bytes: Array[Byte]): Map[String, Any] = {
    val uri = s"http://127.0.0.1:${server.boundPort}/api/upload" +
      s"?table=${s("table")}&format=${s("format")}"
    val req = HttpRequest.newBuilder(URI.create(uri))
      .POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    Map("status" -> resp.statusCode(), "body" -> resp.body())
  }

  def hasNext: Boolean = pos < stmts.length

  def next(i: Int, traced: Boolean, startMs: Double): OpRec = {
    val s = stmts(pos)
    pos += 1
    if (s("kind") == "upload") {
      val bytes = Files.readAllBytes(Paths.get(s("path").toString))
      val r = run(i, "upload", s("path").toString, traced, startMs) {
        tracer.span("server.upload")(upload(s, bytes))
      }
      return withStorage(r, Map("catalog.files" ->
        engine.catalog.fileStats(s("table").toString).fileCount.toDouble))
    }
    val sql = s("sql").toString
    val r = run(i, s("kind").toString, sql, traced, startMs) {
      if (!traced) materialize(engine.executeAny(sql)._2)
      else {
        val text =
          if (Patterns.isNaturalLanguage(sql))
            tracer.span("nl.translate")(engine.naturalToSql(sql)).getOrElse(
              throw new IllegalStateException("could not translate to SQL"))
          else sql
        tracer.span("dialect.parse")(Parser.parse(text)) match {
          case sel: Select =>
            val df = tracer.span("exec.select")(executor.select(sel))
            tracer.span("action.collect")(Map("rows" -> df.limit(1001).toJSON.collect().toSeq))
          case other =>
            val kind = other match {
              case _: Insert => "insert"
              case _: Update => "update"
              case _: Delete => "delete"
              case _ => "other"
            }
            Map("message" -> tracer.span("exec." + kind)(dml.run(other)))
        }
      }
    }
    withStorage(r, Map("catalog.files" ->
      engine.catalog.fileStats("accounts").fileCount.toDouble))
  }

  /** Catalog bytes of the uploaded tables beyond what set-up imported,
    * and the bytes of every file uploaded so far (warm-up included). */
  override def extra(): Map[String, Any] = {
    val done = stmts.take(pos).filter(_("kind") == "upload")
    val tables = (done.map(_("table").toString) ++ baseTables).distinct
    val st = engine.catalog.fileStats("accounts")
    Map("accounts_files" -> st.fileCount, "accounts_bytes" -> st.totalBytes,
      "stored_bytes" -> (tables.map(t => engine.catalog.fileStats(t).totalBytes).sum - baseBytes),
      "uploaded_bytes" -> done.map(_("bytes").toString.toLong).sum)
  }

  override def close(): Unit = if (server != null) server.stop()
}
