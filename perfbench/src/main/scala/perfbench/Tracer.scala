package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.audit.Audit
import graft.transform.{CleanColumns, CleanRows, MergeTableVersions, SensitiveTier}

/** Traced mode: replays each request as the sequence of public calls
  * `graft.api.PipelineApi` makes for its endpoint, with a span around each
  * call, and counts what Spark does under each span.
  *
  * Span names are the layer metrics they feed: `api.read`,
  * `transform.plan` (the naming planner), `transform.build`,
  * `profiling.classify`, `audit.sql`, `audit.plan`, `exec.write`, under one
  * root span `api.<endpoint>` per request. A span's self time is its
  * duration minus its children's.
  *
  * Spark work is attributed through a thread-local Spark property holding
  * the open span's id: jobs, stages and tasks carry it. Planning phases
  * come from a `QueryExecutionListener` (executed queries) and from the
  * audited DataFrame's own tracker (`Audit.savePlan` plans it without
  * executing it). Codegen counts come from Spark's `CodegenMetrics`, its
  * compile-time accumulator (successful compiles only: Spark records no
  * time for a failed one) and an appender counting "Failed to compile".
  *
  * Everything is kept in memory; [[report]] writes the span file once.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong
  private val open = new ThreadLocal[Span]
  private val spans = new ConcurrentLinkedQueue[Span]
  private val startNs = System.nanoTime()

  // written on the listener-bus thread; read after drain() (latch ordering)
  private val counts = mutable.HashMap.empty[Long, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val queries = mutable.ArrayBuffer.empty[(String, Map[String, (Long, Long)])]
  @volatile private var marker: Option[(Int, CountDownLatch)] = None

  // codegen and GC counters accumulate only inside traced phases, and an
  // executed query counts when its planning started inside one
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var opened = (0L, 0L, 0L, 0L)
  private var compiles, compileNs, gcTotalMs = 0L
  private val failedCompiles = new AtomicLong
  @volatile private var recording = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).foreach { id =>
        counts.getOrElseUpdate(id, new Counts).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
      if (props.exists(_.getProperty(MarkerKey) != null))
        marker = Some((e.jobId, new CountDownLatch(1)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counts(id)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      marker.filter(_._1 == e.jobId).foreach(_._2.countDown())
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries += ((funcName, phases(qe.tracker)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      queries += ((funcName, phases(qe.tracker)))
  }

  private val codegenAppender = new AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (recording && e.getMessage.getFormattedMessage.startsWith("Failed to compile"))
        failedCompiles.incrementAndGet()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)
  codegenAppender.start()
  private val logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val codegenLogger = {
    val config = logContext.getConfiguration
    config.addAppender(codegenAppender)
    val lc = new LoggerConfig(CodegenLoggerName, Level.ERROR, true)
    lc.addAppender(codegenAppender, Level.ERROR, null)
    config.addLogger(CodegenLoggerName, lc)
    logContext.updateLoggers()
    lc
  }

  /** Opens a traced phase. */
  def resume(): Unit = {
    opened = (System.currentTimeMillis(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, gcMs())
    recording = true
  }

  /** Closes the traced phase [[resume]] opened. */
  def pause(): Unit = {
    recording = false
    compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - opened._2
    compileNs += CodeGenerator.compileTime - opened._3
    gcTotalMs += gcMs() - opened._4
    windows += ((opened._1, System.currentTimeMillis()))
  }

  private def traced(q: Map[String, (Long, Long)]): Boolean = q.nonEmpty && {
    val start = q.values.map(_._1).min
    windows.exists { case (a, b) => start >= a && start <= b }
  }

  /** Runs `f` inside a span named `name` of request `request`. */
  def span[T](request: String, name: String)(f: => T): T = {
    val parent = open.get
    val s = new Span(ids.incrementAndGet(), Option(parent).map(_.id).getOrElse(0L), request,
      name, Thread.currentThread().getName, System.nanoTime())
    open.set(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      open.set(parent)
      sc.setLocalProperty(SpanKey, Option(parent).map(_.id.toString).orNull)
    }
  }

  /** One request, replayed as `PipelineApi` runs it; 200 or 500 like the
    * HTTP adapter. */
  def replay(spark: SparkSession, step: ServedBench.Step, request: String,
      auditDir: String): Int = {
    def sp[T](name: String)(f: => T): T = span(request, name)(f)
    val source = step.sources.head
    val base = s"$auditDir/${step.dest.replaceAll("[^A-Za-z0-9._-]", "_")}"
    def saveSql(sql: String): Unit = {
      open.get.bytes = sql.getBytes("UTF-8").length
      Audit.saveText(sql, s"$base.sql")
    }
    def materialize(df: DataFrame): Unit = {
      sp("audit.plan") {
        Audit.savePlan(df, s"$base.plan.txt")
        open.get.bytes = new File(s"$base.plan.txt").length()
        open.get.phases = phases(df.queryExecution.tracker)
      }
      sp("exec.write")(df.write.mode("overwrite").parquet(step.dest))
    }
    try {
      sp(s"api.${step.label}") {
        step.endpoint match {
          case "clean_columns" =>
            val df = sp("api.read")(spark.read.parquet(source))
            val names = df.schema.fieldNames.toSeq
            sp("audit.sql")(saveSql(CleanColumns.toSql(names, step.tableId, source, step.dest)))
            // CleanColumns(df, tableId) is exactly plan + select
            val clauses = sp("transform.plan")(CleanColumns.plan(names, step.tableId))
            materialize(sp("transform.build")(df.select(clauses.map(_.aliased): _*)))
          case "clean_rows" =>
            val df = sp("api.read")(spark.read.parquet(source))
            val cls = sp("profiling.classify")(CleanRows.classify(df, step.useReference))
            sp("audit.sql")(saveSql(CleanRows.toSql(cls, source, step.dest)))
            materialize(sp("transform.build")(CleanRows(df, cls)))
          case "merge_table_versions" =>
            val dfs = sp("api.read")(step.sources.map(spark.read.parquet(_)))
            materialize(sp("transform.build")(MergeTableVersions(dfs)))
          case "create_sensitive_tier" =>
            val df = sp("api.read")(spark.read.parquet(source))
            materialize(sp("transform.build")(SensitiveTier(df)))
        }
      }
      200
    } catch { case NonFatal(e) => System.err.println(s"traced $request failed: $e"); 500 }
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * a marker job's end arrives after all of them. */
  private def drain(): Unit = {
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (marker.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    require(marker.exists(_._2.await(30, TimeUnit.SECONDS)), "listener bus did not drain")
  }

  private def close(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    logContext.getConfiguration.removeLogger(CodegenLoggerName)
    codegenLogger.removeAppender(codegenAppender.getName)
    logContext.updateLoggers()
  }

  /** Per-layer metrics per traced cycle, plus each endpoint's self-time
    * split against its untraced median; writes every span to `spansPath`. */
  def report(tracedCycles: Seq[ServedBench.Cycle], untraced: Seq[ServedBench.Cycle],
      spansPath: String): ObjectNode = {
    close()
    val wallS = windows.map { case (a, b) => b - a }.sum / 1000.0
    val all = spans.asScala.toSeq.sortBy(_.start)
    val children = all.groupBy(_.parent)
    def self(s: Span): Double =
      (s.end - s.start - children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum) / 1e9
    val n = math.max(1, tracedCycles.size).toDouble
    val byName = all.groupBy(_.name).withDefaultValue(Nil)
    def selfS(name: String) = byName(name).map(self).sum / n
    def bytes(name: String) = byName(name).map(_.bytes).sum / n
    def sum(name: String)(f: Counts => Long) =
      byName(name).flatMap(s => counts.get(s.id)).map(f).sum / n
    val auditPhases = all.flatMap(s => Option(s.phases))
    val executed = queries.toSeq.map(_._2).filter(traced)
    def phaseS(p: String) =
      (auditPhases ++ executed).flatMap(_.get(p)).map { case (a, b) => b - a }.sum / 1000.0 / n
    val median = (xs: Seq[Double]) =>
      if (xs.isEmpty) Double.NaN else { val s = xs.sorted; s(s.size / 2) }
    def wall(cs: Seq[ServedBench.Cycle]) = median(cs.map(c => c.end - c.start))

    val layers = mapper.createObjectNode()
    Seq(
      "api.read_s" -> selfS("api.read"),
      "transform.plan_s" -> selfS("transform.plan"),
      "transform.build_s" -> selfS("transform.build"),
      "audit.sql_s" -> selfS("audit.sql"),
      "audit.sql_bytes" -> bytes("audit.sql"),
      "audit.plan_s" -> selfS("audit.plan"),
      "audit.plan_bytes" -> bytes("audit.plan"),
      "plan.analysis_s" -> phaseS(QueryPlanningTracker.ANALYSIS),
      "plan.optimization_s" -> phaseS(QueryPlanningTracker.OPTIMIZATION),
      "plan.planning_s" -> phaseS(QueryPlanningTracker.PLANNING),
      "codegen.compiles" -> (compiles + failedCompiles.get) / n,
      "codegen.failed_compiles" -> failedCompiles.get / n,
      "codegen.compile_s" -> compileNs / 1e9 / n,
      "profiling.classify_s" -> selfS("profiling.classify"),
      "profiling.jobs" -> sum("profiling.classify")(_.jobs),
      "profiling.input_bytes" -> sum("profiling.classify")(_.input),
      "profiling.shuffle_bytes" -> sum("profiling.classify")(_.shuffleWrite),
      "exec.write_s" -> selfS("exec.write"),
      "exec.jobs" -> sum("exec.write")(_.jobs),
      "exec.stages" -> sum("exec.write")(_.stages),
      "exec.tasks" -> sum("exec.write")(_.tasks),
      "exec.task_busy_s" -> sum("exec.write")(_.runMs) / 1000.0,
      "exec.gc_s" -> gcTotalMs / 1000.0 / n,
      "exec.shuffle_write_bytes" -> sum("exec.write")(_.shuffleWrite),
      "exec.spill_bytes" -> sum("exec.write")(_.spill),
      "exec.input_bytes" -> sum("exec.write")(_.input),
      "exec.output_bytes" -> sum("exec.write")(_.output),
      "exec.busy_frac" -> counts.values.map(_.runMs).sum / 1000.0 / (wallS * cores),
      "trace.overhead_frac" -> (wall(tracedCycles) / wall(untraced) - 1)
    ).foreach { case (k, v) => layers.put(k, v) }

    val endpoints = mapper.createObjectNode()
    val untracedReqs = untraced.flatMap(_.reqs).groupBy(_.step.label)
    for ((label, roots) <- byName.toSeq.filter(_._1.startsWith("api.")).filter(_._1 != "api.read")
        .map { case (k, v) => (k.stripPrefix("api."), v) }) {
      val e = endpoints.putObject(label)
      e.put("untraced_median_s", median(untracedReqs.getOrElse(label, Nil).map(r => r.end - r.start)))
      e.put("traced_median_s", median(roots.map(s => (s.end - s.start) / 1e9)))
      val selfNode = e.putObject("self_s")
      val ids = roots.map(_.id).toSet
      val inReq = all.filter(s => ids(s.id) || ids(s.parent))
      inReq.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        selfNode.put(name, ss.map(self).sum / roots.size)
      }
    }

    val result = mapper.createObjectNode()
    result.put("cycles", tracedCycles.size)
    result.put("window_s", wallS)
    result.set[ObjectNode]("layers", layers)
    result.set[ObjectNode]("endpoints", endpoints)
    writeSpans(all, self, spansPath)
    result
  }

  private def writeSpans(all: Seq[Span], self: Span => Double, path: String): Unit = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("spans")
    for (s <- all) {
      val node = arr.addObject()
      node.put("id", s.id).put("parent", s.parent).put("request", s.request)
        .put("name", s.name).put("thread", s.thread)
        .put("start_s", (s.start - startNs) / 1e9).put("dur_s", (s.end - s.start) / 1e9)
        .put("self_s", self(s))
      if (s.bytes > 0) node.put("bytes", s.bytes)
      counts.get(s.id).foreach { c =>
        node.put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
          .put("task_s", c.runMs / 1000.0).put("shuffle_write_bytes", c.shuffleWrite)
          .put("spill_bytes", c.spill).put("input_bytes", c.input)
          .put("output_bytes", c.output)
      }
      Option(s.phases).foreach { p =>
        val pn = node.putObject("phases_s")
        p.foreach { case (k, (a, b)) => pn.put(k, (b - a) / 1000.0) }
      }
    }
    val qs = root.putArray("queries")
    for ((func, p) <- queries if traced(p)) {
      val qn = qs.addObject()
      qn.put("func", func)
      p.foreach { case (k, (a, b)) => qn.put(s"${k}_s", (b - a) / 1000.0) }
    }
    Files.write(Paths.get(path), mapper.writeValueAsBytes(root))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MarkerKey = "perfbench.marker"
  val CodegenLoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val mapper = new ObjectMapper()

  final class Span(val id: Long, val parent: Long, val request: String, val name: String,
      val thread: String, val start: Long) {
    @volatile var end = 0L
    @volatile var bytes = 0L
    @volatile var phases: Map[String, (Long, Long)] = null
  }

  final class Counts {
    var jobs, stages, tasks, runMs, shuffleWrite, spill, input, output = 0L
  }

  /** Tracker phase -> (start, end) in epoch milliseconds. */
  def phases(t: QueryPlanningTracker): Map[String, (Long, Long)] =
    t.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
