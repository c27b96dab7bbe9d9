package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a graft layer. Spans of one
  * request share `request`, which is also the Spark job group of every
  * job the request submits, so benchmark spans join Spark's job, stage
  * and task events on that id.
  */
final case class Span(id: Long, parent: Long, request: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine counters of one request, summed over its job group's tasks. */
final class EngineCounts {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
      spill, failures, inputBytes = 0L
  def toMap: Seq[(String, Any)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "task_failures" -> failures,
    "input_bytes" -> inputBytes)
}

/** One file scan of an executed plan, from its SQL metrics. */
final case class ScanFacts(roots: Seq[String], files: Long, bytes: Long, rows: Long)

/** What one fully consumed DataFrame did, read from the plan that ran. */
final case class PlanFacts(outputComplete: Boolean, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, scans: Seq[ScanFacts],
    rowsReturned: Long)

/** Spans, engine counters and executed-plan facts for the benchmark.
  *
  * Spans and engine counters are recorded only while tracing is on (in
  * the traced run); the executed-plan completeness check of
  * [[consume]] runs always, because it is a correctness check.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0L
  private var open: List[Long] = Nil
  private var current = "none"
  private val counts = new ConcurrentHashMap[String, EngineCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var liveBlockBytes = 0L
  @volatile private var peakBlock = 0L
  private val executions = new LinkedBlockingQueue[QueryExecution]()

  def enabled: Boolean = on

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def countsOf(g: String): EngineCounts =
    counts.computeIfAbsent(g, _ => new EngineCounts)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) group(e.properties).foreach { g =>
        countsOf(g).jobs += 1
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) Option(stageGroup.get(e.stageInfo.stageId))
        .foreach(countsOf(_).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on) Option(stageGroup.get(e.stageId)).foreach { g =>
        val c = countsOf(g)
        c.tasks += 1
        if (e.reason != Success) c.failures += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    // cached and checkpointed blocks: running total and its peak
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (on) {
        val info = e.blockUpdatedInfo
        val id = info.blockId.name
        val now = info.memSize + info.diskSize
        val before = Option(blockBytes.get(id)).map(_.longValue).getOrElse(0L)
        if (now > 0) blockBytes.put(id, now) else blockBytes.remove(id)
        liveBlockBytes += now - before
        if (liveBlockBytes > peakBlock) peakBlock = liveBlockBytes
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      executions.put(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Wait until every listener event so far has been delivered. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Clear everything recorded and start recording. */
  def start(): Unit = {
    drain()
    spans.clear(); counts.clear(); stageGroup.clear(); blockBytes.clear()
    liveBlockBytes = 0L; peakBlock = 0L
    on = true
  }

  /** Pause or resume recording, keeping what was recorded. */
  def stop(): Unit = { drain(); on = false }
  def resume(): Unit = { drain(); on = true }

  /** Run `f` as request `id`: its spans carry the id and its Spark jobs
    * run in job group `id`. */
  def request[T](id: String)(f: => T): T = {
    current = id
    val sc = spark.sparkContext
    sc.setJobGroup(id, id, interruptOnCancel = false)
    try f finally { sc.clearJobGroup(); current = "none" }
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, current, name, t0, t1)
      }
    }

  /** Fully consume `df` through the `noop` sink (every row and every
    * column is produced; nothing is collected), returning the elapsed
    * nanoseconds and the facts of the plan that ran. The timing covers
    * only the write; the listener drain and plan inspection follow it.
    */
  def consume(df: DataFrame): (Long, PlanFacts) = {
    val obs = if (on) Some(Observation()) else None
    val sink = obs.map(o => df.observe(o, count(lit(1)).as("rows"))).getOrElse(df)
    drain()
    executions.clear()
    val t0 = System.nanoTime()
    span("exec") { sink.write.format("noop").mode("overwrite").save() }
    val ns = System.nanoTime() - t0
    drain()
    val qe = Option(executions.poll())
    val rows = obs.map(_.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L))
      .getOrElse(-1L)
    (ns, qe.map(facts(df, _, rows)).getOrElse(
      PlanFacts(outputComplete = false, 0, 0, 0, Nil, rows)))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil // counted where it first ran
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def facts(df: DataFrame, qe: QueryExecution, rows: Long): PlanFacts = {
    val all = nodes(qe.executedPlan)
    val written = all.collectFirst { case w: V2TableWriteExec => w.query.output.map(_.name) }
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val ownAnalysis = df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs.toDouble).getOrElse(0.0)
    def metric(s: SparkPlan, n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
    val scans = all.collect { case s: FileSourceScanExec =>
      ScanFacts(s.relation.location.rootPaths.map(_.toString), metric(s, "numFiles"),
        metric(s, "filesSize"), metric(s, "numOutputRows"))
    }
    PlanFacts(written.contains(df.columns.toSeq), ownAnalysis + phase("analysis"),
      phase("optimization"), phase("planning"), scans, rows)
  }

  def recordedSpans: Seq[Span] = spans.toSeq

  /** Engine counters per request id, once every event so far is in. */
  def engine: Map[String, EngineCounts] = { drain(); counts.asScala.toMap }

  def peakBlockBytes: Long = { drain(); peakBlock }

  /** Write every recorded span and per-request engine counter as JSON
    * lines. */
  def write(path: java.io.File, header: Seq[(String, Any)]): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(Json.render(header))
      spans.foreach { s =>
        w.println(Json.render(Seq("kind" -> "span", "id" -> s.id,
          "parent" -> s.parent, "request" -> s.request, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      engine.toSeq.sortBy(_._1).foreach { case (r, c) =>
        w.println(Json.render(Seq("kind" -> "spark", "request" -> r) ++ c.toMap))
      }
    } finally w.close()
  }
}
