package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing: spans around the harness's calls into graft,
  * plus listeners that record every Spark job (with its call site),
  * every planned query and every streaming progress event.
  *
  * Everything is gated by `enabled`: a disabled tracer records no
  * spans, jobs or plans (only the always-on progress log the ingest
  * workload needs for freshness), so traced and untraced passes of one
  * run can be compared to price the tracing itself. */
final class Trace {
  @volatile var enabled = false

  /** Wall clock in epoch microseconds with nanoTime resolution. */
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[String]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val plans = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Property that carries the current span id into Spark jobs. */
  val SpanProp = "perfbench.span"

  def span[T](spark: SparkSession, name: String, module: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get())
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowUs
      try body
      finally {
        val end = nowUs
        stack.set(stack.get().tail)
        sc.setLocalProperty(SpanProp, prevProp)
        spans.add(Json.write(Map("id" -> id, "parent" -> parent,
          "module" -> module, "name" -> name, "start_us" -> start,
          "end_us" -> end, "thread" -> Thread.currentThread().getName)))
      }
    }

  /** Record a span measured elsewhere (e.g. a client request). */
  def record(name: String, module: String, startUs: Long, endUs: Long): Unit =
    if (enabled)
      spans.add(Json.write(Map("id" -> ids.incrementAndGet(),
        "parent" -> None, "module" -> module, "name" -> name,
        "start_us" -> startUs, "end_us" -> endUs,
        "thread" -> Thread.currentThread().getName)))

  private final class JobAcc(val id: Int, val startUs: Long,
      val callSite: String, val span: Option[String],
      val writePath: Option[String]) {
    var stages = 0; var tasks = 0L; var taskMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    var outBytes = 0L; var outRows = 0L; var inBytes = 0L
  }
  private val liveJobs = mutable.Map.empty[Int, JobAcc]
  private val stageJob = mutable.Map.empty[Int, Int]
  // SQL execution id -> the path its plan writes to, if any: micro-batch
  // jobs all carry the stream's start call site, so a store write is
  // recognised by its target instead
  private val execWrites = mutable.Map.empty[Long, String]
  private val WriteTarget =
    """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)""".r

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if enabled =>
        WriteTarget.findFirstMatchIn(s.physicalPlanDescription).foreach { m =>
          liveJobs.synchronized { execWrites(s.executionId) = m.group(1) }
        }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) liveJobs.synchronized {
        val props = Option(e.properties)
        val exec = props.flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val short = props.flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(if (e.stageInfos.isEmpty) ""
            else e.stageInfos.maxBy(_.stageId).name)
        liveJobs(e.jobId) = new JobAcc(e.jobId, e.time * 1000L, short,
          props.flatMap(p => Option(p.getProperty(SpanProp))),
          exec.flatMap(execWrites.get))
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      liveJobs.synchronized {
        for (jid <- stageJob.get(e.stageInfo.stageId);
             acc <- liveJobs.get(jid)) {
          val m = e.stageInfo.taskMetrics
          acc.stages += 1
          acc.tasks += e.stageInfo.numTasks
          if (m != null) {
            acc.taskMs += m.executorRunTime
            acc.cpuNs += m.executorCpuTime
            acc.gcMs += m.jvmGCTime
            acc.shRead += m.shuffleReadMetrics.totalBytesRead
            acc.shWrite += m.shuffleWriteMetrics.bytesWritten
            acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            acc.outBytes += m.outputMetrics.bytesWritten
            acc.outRows += m.outputMetrics.recordsWritten
            acc.inBytes += m.inputMetrics.bytesRead
          }
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      liveJobs.synchronized {
        liveJobs.remove(e.jobId).foreach { a =>
          jobs.add(Json.write(Map("job" -> a.id, "span" -> a.span,
            "call_site" -> a.callSite, "write_path" -> a.writePath,
            "start_us" -> a.startUs,
            "end_us" -> e.time * 1000L,
            "ok" -> (e.jobResult == JobSucceeded), "stages" -> a.stages,
            "tasks" -> a.tasks, "task_ms" -> a.taskMs,
            "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
            "shuffle_read_b" -> a.shRead, "shuffle_write_b" -> a.shWrite,
            "spill_b" -> a.spill, "output_b" -> a.outBytes,
            "output_rows" -> a.outRows, "input_b" -> a.inBytes)))
        }
      }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int =
      collectWithSubqueries(p) { case _: ShuffleExchangeLike => 1 }.size
    def memoScans(p: SparkPlan): Int =
      collectWithSubqueries(p) { case _: InMemoryTableScanExec => 1 }.size
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (enabled) {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> Map("start_us" -> v.startTimeMs * 1000L,
          "end_us" -> v.endTimeMs * 1000L)
      }
      val plan = qe.executedPlan
      plans.add(Json.write(Map("func" -> funcName, "end_us" -> nowUs,
        "duration_us" -> durationNs / 1000L, "phases" -> phases,
        "exchanges" -> PlanWalk.exchanges(plan),
        "memo_scans" -> PlanWalk.memoScans(plan))))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Always on: the ingest workload reads freshness from it. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = progress.add(Map("kind" -> "start", "at_us" -> nowUs,
          "query" -> e.id.toString, "traced" -> enabled))
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("kind" -> "progress", "at_us" -> nowUs,
        "query" -> p.id.toString, "batch" -> p.batchId,
        "input_rows" -> p.numInputRows, "traced" -> enabled,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap,
        "state" -> p.stateOperators.toSeq.map(s => Map(
          "op" -> s.operatorName, "rows" -> s.numRowsTotal,
          "mem_b" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs))))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def progressEvents: Seq[Map[String, Any]] = progress.asScala.toSeq

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Write spans, jobs and plans as JSON lines under `dir`. */
  def dump(dir: String): Unit = {
    def lines(name: String, q: ConcurrentLinkedQueue[String]): Unit = {
      val w = new PrintWriter(new File(dir, name), "UTF-8")
      try q.asScala.foreach(w.println) finally w.close()
    }
    lines("spans.jsonl", spans)
    lines("jobs.jsonl", jobs)
    lines("plans.jsonl", plans)
    val w = new PrintWriter(new File(dir, "progress.jsonl"), "UTF-8")
    try progress.asScala.foreach(p => w.println(Json.write(p)))
    finally w.close()
  }
}
