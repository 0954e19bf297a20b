package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced call: `layer.op`, its window in epoch milliseconds, the
  * span that caused it (-1 = none) and the request it belongs to.
  */
final case class Span(id: Int, parent: Int, req: Int, layer: String,
    op: String, start: Double, end: Double)

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded by the benchmark's own code around each call into
  * a layer's public function. A [[SparkListener]] records every Spark
  * job (window, call site, task counters) and every SQL execution
  * (window, and from its executed plan the scanned and written tables
  * and exchange bytes). Nothing is attributed here: the raw records
  * are written out when the run ends and `metrics.py` maps each job to
  * the innermost span whose window contains the job's start. One client
  * makes every call, so calls never overlap and the window is enough;
  * thread-local job properties are not used because IndexBuilder submits
  * jobs from pooled threads that inherit stale values.
  *
  * `on` gates both the spans and the listener, so a traced run can
  * trace every other call and measure the tracing overhead.
  */
final class Recorder {
  @volatile var on: Boolean = false

  // one epoch anchor + monotonic offsets: ordered, non-negative windows
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var nextSpan = 0

  /** Run `body` inside a span; a span with no request id inherits its
    * parent's.
    */
  def span[T](layer: String, op: String, req: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption
      val s = Span(nextSpan, parent.fold(-1)(_.id),
        if (req >= 0) req else parent.fold(-1)(_.req), layer, op, nowMs(), 0)
      nextSpan += 1
      open = s :: open
      try body
      finally {
        open = open.tail
        spans += s.copy(end = nowMs())
      }
    }

  /** Record a finished child window reported by the library itself
    * (IndexBuilder's step windows), under the innermost open span.
    */
  def addWindow(layer: String, op: String, start: Double, end: Double): Unit =
    if (on) {
      val parent = open.headOption
      spans += Span(nextSpan, parent.fold(-1)(_.id), parent.fold(-1)(_.req),
        layer, op, start, end)
      nextSpan += 1
    }

  private final class Job(val id: Long, val start: Long, val site: String,
      val execId: Long, val stages: Int) {
    @volatile var end: Long = -1
    val c = new ConcurrentHashMap[String, java.lang.Long]()
    def add(k: String, v: Long): Unit = c.merge(k, v, (a, b) => a + b): Unit
  }
  // job, stage and execution ids restart with every SparkContext: keys
  // carry the context's generation in their high bits
  private var generation = 0L
  private val jobs = new ConcurrentHashMap[java.lang.Long, Job]()
  private val stageJob = new ConcurrentHashMap[java.lang.Long, Job]()
  private val execWin = new ConcurrentHashMap[java.lang.Long, Array[Long]]()
  private val plans = new ConcurrentHashMap[java.lang.Long, Map[String, Any]]()

  private final class Listener(gen: Long) extends SparkListener {
    private def key(id: Long): java.lang.Long = (gen << 40) | id
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      // the job's call site (callSite.short) names its result stage
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new Job(key(e.jobId), e.time, site,
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .map(x => key(x.toLong).longValue).getOrElse(-1L),
        e.stageIds.size)
      jobs.put(j.id, j)
      e.stageIds.foreach(s => stageJob.put(key(s), j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(key(e.jobId))).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(key(e.stageId))).foreach { j =>
        j.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          j.add("run_ms", m.executorRunTime)
          j.add("cpu_ns", m.executorCpuTime)
          j.add("gc_ms", m.jvmGCTime)
          j.add("spill_bytes", m.diskBytesSpilled)
          j.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          j.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          j.add("input_bytes", m.inputMetrics.bytesRead)
          j.add("output_bytes", m.outputMetrics.bytesWritten)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        execWin.put(key(s.executionId), Array(s.time, -1L))
      case s: SparkListenerSQLExecutionEnd =>
        val k = key(s.executionId)
        Option(execWin.get(k)).foreach { w =>
          w(1) = s.time
          org.apache.spark.sql.perfbench.Events.queryExecution(s)
            .foreach(qe => plans.put(k, PlanMetrics(qe.executedPlan)))
        }
      case _ =>
    }
  }

  /** Flip the gate once every event posted so far has been handled, so
    * no event of one call is judged by the next call's gate.
    */
  def gate(spark: SparkSession, value: Boolean): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    on = value
  }

  /** Attach the listener to a new session. */
  def attach(spark: SparkSession): Unit = {
    generation += 1
    spark.sparkContext.addSparkListener(new Listener(generation))
  }

  /** Raw records for `metrics.py`. Read only after the session stopped
    * (stopping drains the listener bus).
    */
  def dump(): Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "req" -> s.req, "layer" -> s.layer, "op" -> s.op, "start" -> s.start,
      "end" -> s.end)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "site" -> j.site,
        "exec" -> j.execId, "stages" -> j.stages) ++
        j.c.asScala.map { case (k, v) => k -> v.longValue }),
    "execs" -> execWin.asScala.toSeq.sortBy(_._1.longValue).map {
      case (id, w) =>
        Map("id" -> id.longValue, "start" -> w(0), "end" -> w(1)) ++
          Option(plans.get(id)).getOrElse(Map.empty)
    })
}

/** Executed-plan metrics of one SQL execution: per file scan the table
  * it read with its files, bytes, rows and partitions read; the table a
  * write command wrote; and the bytes through shuffle exchanges.
  */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  private val tables =
    Seq("postings", "docstore", "dictionary", "documents", "embeddings",
      "events")

  /** The index or source table a path belongs to: the last path segment
    * that is a table name or starts with one (`dictionary_tmp`).
    */
  def table(path: String): String =
    path.split("/").reverse.iterator
      .flatMap(seg => tables.find(t => seg == t || seg.startsWith(t + "_")))
      .nextOption().getOrElse("other")

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def apply(plan: SparkPlan): Map[String, Any] = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .map(s => Map(
        "table" -> s.relation.location.rootPaths.headOption
          .map(p => table(p.toString)).getOrElse("other"),
        "files" -> metric(s, "numFiles"),
        "bytes" -> metric(s, "filesSize"),
        "rows" -> metric(s, "numOutputRows"),
        "partitions" -> metric(s, "numPartitions")))
    val writes = collectWithSubqueries(plan) {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        table(c.outputPath.toString)
    }
    val exchange = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec => metric(e, "dataSize")
    }.sum
    Map("scans" -> scans, "writes" -> writes, "exchange_bytes" -> exchange)
  }
}
