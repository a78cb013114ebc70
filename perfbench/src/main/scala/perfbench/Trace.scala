package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the harness makes into a layer, plus Spark
  * listener and QueryExecutionListener records, kept in memory and
  * written out at the end.
  *
  * A traced run measures an untraced window and then a traced one of the
  * same length; tracing overhead is the latency of the traced operations
  * minus that of the untraced ones. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private var stack: List[Span] = Nil
  private var opCount = 0L
  private var active = false
  /** Set while the traced window is open. */
  var window = false
  /** The file tree of the workload's table, watched after lake calls. */
  var fs: Option[FsWatch] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, 0, 0L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); r <- jobs.get(j)) {
        val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        jobs(j) = r.copy(tasks = r.tasks + 1, taskMs = r.taskMs + run)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val plan = qe.executedPlan
      val scans = PlanInfo.scans(plan)
      def metric(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      val rec = QeRec(phases.values.map(_.startTimeMs).min,
        phases.values.map(_.durationMs).sum,
        phases.get("analysis").map(_.durationMs).getOrElse(0L),
        scans.map(metric(_, "numFiles")).sum,
        scans.map(metric(_, "numOutputRows")).sum,
        PlanInfo.hasAntiJoin(plan))
      synchronized { qes += rec }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Starts an operation; returns whether it is traced. */
  def beginOp(): Boolean = {
    opCount += 1
    active = enabled && window
    active
  }
  def endOp(): Unit = active = false

  def span[A](layer: String, name: String)(body: => A): A =
    if (!active) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        opCount, layer, name, System.nanoTime(), 0L,
        System.currentTimeMillis(), 0L, mutable.Map.empty)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        if (layer.startsWith("lake.")) fs.foreach { w =>
          val (created, removed) = w.observe()
          def bytesUnder(dir: String) =
            created.filter(_._1.startsWith(dir)).values.sum.toDouble
          s.attrs("data_bytes") = bytesUnder("data")
          s.attrs("meta_bytes") = bytesUnder("metadata")
          s.attrs("files_removed") = removed.size.toDouble
          s.attrs("files_created") = created.size.toDouble
          s.newDataFiles = created.keys.filter(p =>
            p.startsWith("data") && p.endsWith(".parquet")).toSeq
        }
      }
    }

  /** Add a workload-computed count to the most recently opened span. */
  def attr(k: String, v: Double): Unit =
    if (active) spans.lastOption.foreach(s =>
      s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)
  def currentSpanFiles: Seq[String] =
    if (active) spans.lastOption.map(_.newDataFiles).getOrElse(Nil) else Nil

  // ---- JVM counters over the window ----

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private var gc0, jit0 = 0L

  def openWindow(): Unit = {
    window = true
    gc0 = gcMs; jit0 = jitMs
    heapPools.foreach(_.resetPeakUsage())
  }
  def closeWindow(): Map[String, Double] = {
    window = false
    Map("jvm.gc_ms" -> (gcMs - gc0).toDouble,
      "jvm.jit_ms" -> (jitMs - jit0).toDouble,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = if (enabled)
    org.apache.spark.BenchListenerBus.drain(spark.sparkContext)

  // ---- per-layer metrics ----

  def layerMetrics(): Map[String, Double] = {
    drain()
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double =
      s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum
    // innermost traced span open at wall-clock time t
    val sortedSpans = spans.sortBy(_.startMs)
    def owner(t: Long): Option[Span] =
      sortedSpans.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => -depth(s, byId)).headOption
    val jobsOf = jobs.values.toSeq.flatMap(j => owner(j.startMs).map(_ -> j))
      .groupBy(_._1.id).map { case (k, v) => k -> v.map(_._2) }
    val qesOf = qes.toSeq.flatMap(q => owner(q.startMs).map(_ -> q))
      .groupBy(_._1.id).map { case (k, v) => k -> v.map(_._2) }
    def under(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.flatMap(under)
    def jobsUnder(s: Span) = under(s).flatMap(c => jobsOf.getOrElse(c.id, Nil))
    def qesUnder(s: Span) = under(s).flatMap(c => qesOf.getOrElse(c.id, Nil))

    val out = mutable.LinkedHashMap[String, Double]()
    def layer(name: String) = spans.filter(_.layer == name).toSeq
    def perCall(total: Double, calls: Int) = if (calls == 0) 0.0 else total / calls
    for (l <- Seq("lake.commit", "lake.sql", "lake.scan", "lake.meta",
        "lake.maint", "lake.erase")) {
      val ss = layer(l)
      out(s"$l.calls") = ss.size
      out(s"$l.busy_ms") = ss.map(_.durMs).sum
      out(s"$l.self_ms") = ss.map(selfMs).sum
    }
    def attrSum(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    val commit = layer("lake.commit")
    out("lake.commit.spark_jobs_per_call") =
      perCall(commit.map(jobsUnder(_).size).sum, commit.size)
    out("lake.commit.plan_ms_per_call") =
      perCall(commit.flatMap(qesUnder).map(_.planMs).sum, commit.size)
    out("lake.commit.meta_bytes_per_call") =
      perCall(attrSum(commit, "meta_bytes"), commit.size)
    out("lake.commit.data_bytes_per_call") =
      perCall(attrSum(commit, "data_bytes"), commit.size)
    val sql = layer("lake.sql")
    out("lake.sql.analysis_ms_per_call") =
      perCall(sql.flatMap(qesUnder).map(_.analysisMs).sum, sql.size)
    val scan = layer("lake.scan")
    val scanPlan = scan.flatMap(qesUnder).map(_.planMs).sum
    out("lake.scan.plan_ms_per_call") = perCall(scanPlan, scan.size)
    out("lake.scan.exec_ms_per_call") =
      perCall(scan.map(_.durMs).sum - scanPlan, scan.size)
    out("lake.scan.files_read_per_call") =
      perCall(scan.flatMap(qesUnder).map(_.filesRead).sum, scan.size)
    val returned = attrSum(scan, "rows_returned")
    out("lake.scan.rows_read_per_row_returned") =
      if (returned == 0) 0.0 else scan.flatMap(qesUnder).map(_.rowsRead).sum / returned
    out("lake.scan.antijoin_frac") =
      perCall(scan.count(s => qesUnder(s).exists(_.antiJoin)), scan.size)
    val maint = layer("lake.maint")
    out("lake.maint.bytes_rewritten") = attrSum(maint, "data_bytes")
    out("lake.maint.files_removed") = attrSum(maint, "files_removed")
    val erase = layer("lake.erase")
    out("lake.erase.spark_jobs_per_call") =
      perCall(erase.map(jobsUnder(_).size).sum, erase.size)
    out("lake.erase.bytes_rewritten_per_call") =
      perCall(attrSum(erase, "data_bytes"), erase.size)
    val erased = attrSum(erase, "rows_erased")
    out("lake.erase.rows_rewritten_per_row_erased") =
      if (erased == 0) 0.0 else attrSum(erase, "rows_rewritten") / erased
    out("lake.erase.residue_files") = attrSum(erase, "residue_files")
    for (l <- Seq("rel", "llm", "streaming"))
      out(s"$l.busy_ms") = layer(l).map(_.durMs).sum
    val queries = spans.filter(s => Set("rel", "llm", "streaming")(s.layer)).toSeq
    val qPlan = queries.flatMap(qesUnder).map(_.planMs).sum
    out("query.plan_ms") = qPlan
    out("query.exec_ms") = queries.map(_.durMs).sum - qPlan
    val lake = spans.filter(_.layer.startsWith("lake.")).toSeq
    out("fs.files_created") = attrSum(lake, "files_created")
    out("fs.bytes_written") = attrSum(lake, "data_bytes") + attrSum(lake, "meta_bytes")
    val ops = spans.filter(_.parent < 0).toSeq
    val opJobs = ops.flatMap(jobsUnder)
    out("spark.jobs") = opJobs.size
    out("spark.tasks") = opJobs.map(_.tasks).sum
    out("spark.task_ms") = opJobs.map(_.taskMs).sum
    out("spark.plan_ms") = ops.flatMap(qesUnder).map(_.planMs).sum
    out("spark.driver_gap_ms") = ops.map { o =>
      val busy = unionMs(jobsUnder(o).map(j =>
        (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs))))
      math.max(0.0, o.durMs - busy)
    }.sum
    out.toMap
  }

  def writeTrace(path: Path): Unit = {
    drain()
    Files.createDirectories(path.getParent)
    val lines = spans.map(s => Json.obj(Seq("span" -> Json.num(s.id),
      "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.startMs), "dur_ms" -> Json.num(s.durMs)) ++
      s.attrs.map { case (k, v) => k -> Json.num(v) })) ++
      jobs.values.toSeq.sortBy(_.id).map(j => Json.obj(Seq(
        "job" -> Json.num(j.id), "start_ms" -> Json.num(j.startMs),
        "end_ms" -> Json.num(j.endMs), "tasks" -> Json.num(j.tasks),
        "task_ms" -> Json.num(j.taskMs)))) ++
      qes.map(q => Json.obj(Seq("qe_start_ms" -> Json.num(q.startMs),
        "plan_ms" -> Json.num(q.planMs), "analysis_ms" -> Json.num(q.analysisMs),
        "files_read" -> Json.num(q.filesRead), "rows_read" -> Json.num(q.rowsRead),
        "antijoin" -> q.antiJoin.toString)))
    Files.writeString(path, lines.mkString("\n") + "\n")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, layer: String,
      name: String, startNs: Long, var endNs: Long, startMs: Long,
      var endMs: Long, attrs: mutable.Map[String, Double]) {
    var newDataFiles: Seq[String] = Nil
    def durMs: Double = (endNs - startNs) / 1e6
  }
  final case class JobRec(id: Int, startMs: Long, endMs: Long, tasks: Int,
      taskMs: Long)
  final case class QeRec(startMs: Long, planMs: Long, analysisMs: Long,
      filesRead: Long, rowsRead: Long, antiJoin: Boolean)

  private def depth(s: Span, byId: Map[Int, Span]): Int =
    if (s.parent < 0) 0 else 1 + depth(byId(s.parent), byId)

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }
}

/** Reads the executed plan, through adaptive query stages. */
object PlanInfo extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }
  def hasAntiJoin(p: SparkPlan): Boolean =
    collectWithSubqueries(p) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }.nonEmpty
}
