package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every per-layer metric the traced mode prints, with its unit. A layer a
  * workload does not exercise reads 0.
  */
object Layers {
  val SuiteModules: Seq[String] = Seq("relational", "text_analysis", "dedup", "similarity",
    "events_windows", "behavioral", "weather_ops", "multimodal_ops", "sql_surface", "extras",
    "train_pipe", "corpus_clean", "corpus_ops", "bpe", "analytics", "fuzzy")

  val all: Seq[(String, String)] = Seq(
    "producer.cycle_ms" -> "ms", "producer.late_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.source_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.commit_ms" -> "ms",
    "stream.rows_per_batch" -> "rows", "stream.backlog_rows_max" -> "rows",
    "batcher.stage_ms" -> "ms", "batcher.wait_ms" -> "ms", "batcher.rows_per_flush" -> "rows",
    "warehouse.write_ms" -> "ms", "warehouse.jobs_per_write" -> "count",
    "warehouse.files_per_write" -> "count", "warehouse.bytes_per_row" -> "B",
    "warehouse.scan_files_per_request" -> "count", "warehouse.scan_bytes_per_request" -> "B") ++
    SuiteModules.flatMap(m => Seq(s"suite.${m}_cold_s" -> "s", s"suite.${m}_warm_s" -> "s")) ++
    Seq("suite.cold_s" -> "s", "suite.warm_s" -> "s", "suite.warm_geomean_ms" -> "ms",
      "spark.planning_ms" -> "ms", "spark.idle_gap_ms" -> "ms", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_run_ms" -> "ms",
      "spark.task_cpu_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_fetch_wait_ms" -> "ms",
      "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms", "spark.input_bytes" -> "B",
      "gateway.sql_point_ms" -> "ms", "gateway.sql_range_ms" -> "ms",
      "gateway.search_ms" -> "ms", "gateway.ann_ms" -> "ms",
      "index.bootstrap_ms" -> "ms")

  private val units = all.toMap
  def unit(k: String): String = units.getOrElse(k, "count")

  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    all.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }
}

/** One SQL execution as the listener bus reported it. */
final case class Exec(id: Long, startMs: Long, endMs: Long, plan: String) {
  def durMs: Long = endMs - startMs
}

/** The benchmark's observation of the engine: spans around its own calls
  * into each module, Spark listener counters (traced mode only) and the
  * SQL-execution log that some end-to-end metrics need in every mode.
  */
final class Trace(spark: SparkSession, val traced: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  /** Time `body` as span `name` (traced mode only). */
  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, (System.nanoTime() - t0) / 1e6)
    }

  def record(name: String, ms: Double): Unit =
    spans.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  def spanValues(name: String): Seq[Double] =
    Option(spans.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  // ---- SQL execution log (registered on demand) ----
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  private val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobsByExec = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
  private lazy val execListener: SparkListener = {
    val l = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          execStarts.put(e.executionId, (e.time, e.physicalPlanDescription))
        case e: SparkListenerSQLExecutionEnd => execEnds.put(e.executionId, e.time)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobsByExec.computeIfAbsent(id.toLong, _ => new AtomicLong()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(l)
    l
  }
  def logExecutions(): Unit = { execListener; () }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Completed SQL executions whose plan mentions `needle`. */
  def executions(needle: String): Seq[Exec] = {
    drain()
    execStarts.asScala.toSeq.flatMap { case (id, (t0, plan)) =>
      Option(execEnds.get(id)).filter(_ => plan.contains(needle)).map(t1 => Exec(id, t0, t1, plan))
    }.sortBy(_.startMs)
  }
  def jobsOf(id: Long): Long = Option(jobsByExec.get(id)).map(_.get).getOrElse(0L)

  // ---- engine counters (traced mode) ----
  private val taskRun = new AtomicLong; private val taskCpuNs = new AtomicLong
  private val tasks = new AtomicLong; private val stages = new AtomicLong; private val jobs = new AtomicLong
  private val shW = new AtomicLong; private val shR = new AtomicLong; private val fetchWait = new AtomicLong
  private val spill = new AtomicLong; private val gc = new AtomicLong; private val input = new AtomicLong
  private val planningMs = new DoubleAdder
  private val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val scanFiles = new AtomicLong; private val scanBytes = new AtomicLong
  @volatile private var scanRoot: String = ""

  /** Count file scans of tables under `root` (the warehouse). */
  def watchScans(root: String): Unit = scanRoot = root
  def scanTotals: (Long, Long) = { drain(); (scanFiles.get, scanBytes.get) }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskRun.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          fetchWait.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          gc.addAndGet(m.jvmGCTime)
          input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime) stageSpans.add((a, b))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        planningMs.add(Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
        val root = scanRoot
        if (root.nonEmpty)
          try Plans.scans(qe.executedPlan)
            .filter(_.relation.location.rootPaths.exists(_.toString.contains(root)))
            .foreach { s =>
              s.metrics.get("numFiles").foreach(m => scanFiles.addAndGet(m.value))
              s.metrics.get("filesSize").foreach(m => scanBytes.addAndGet(m.value))
            }
          catch { case _: Throwable => () }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private final case class Mark(wallMs: Long, v: Seq[Double])
  private def counters(): Seq[Double] = {
    Seq(jobs.get.toDouble, stages.get.toDouble, tasks.get.toDouble, taskRun.get.toDouble,
      taskCpuNs.get / 1e6, shW.get.toDouble, shR.get.toDouble, fetchWait.get.toDouble,
      spill.get.toDouble, gc.get.toDouble, input.get.toDouble, planningMs.sum())
  }
  private var mark: Option[Mark] = None

  /** Start the measured window of the engine counters. */
  def startWindow(): Unit = if (traced) { drain(); mark = Some(Mark(System.currentTimeMillis(), counters())) }

  /** Engine counters over the measured window, per operation. */
  def sparkMetrics(ops: Long): Map[String, Double] = mark match {
    case None => Map.empty
    case Some(m) =>
      drain()
      val end = System.currentTimeMillis()
      val d = counters().zip(m.v).map { case (a, b) => a - b }
      val n = math.max(1L, ops).toDouble
      // wall time inside the window during which no stage was running
      val iv = stageSpans.asScala.toSeq.map { case (a, b) => (math.max(a, m.wallMs), math.min(b, end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      val names = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
        "spark.task_cpu_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
        "spark.shuffle_fetch_wait_ms", "spark.spill_bytes", "spark.gc_ms", "spark.input_bytes",
        "spark.planning_ms")
      names.zip(d).map { case (k, v) => k -> v / n }.toMap +
        ("spark.idle_gap_ms" -> (end - m.wallMs - covered).toDouble / n)
  }
}
