package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span: a call the benchmark made into the program. `parent` is the
  * span that caused it (-1 for a root). Times are epoch milliseconds, the
  * clock Spark's scheduler events use. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    var end: Long = -1L)

/** A completed Spark stage, as the benchmark's listener saw it. */
final case class StageRec(stageId: Int, jobId: Int, jobCallSite: String,
    jobSubmitted: Long, numTasks: Int, submitted: Long, completed: Long,
    scopes: Seq[String], runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spillDisk: Long, inputBytes: Long,
    outputBytes: Long, taskMs: Seq[Long]) {
  def durMs: Long = completed - submitted
  def readsText: Boolean = scopes.exists(_.startsWith("Scan text"))
  def readsParquet: Boolean = scopes.exists(_.startsWith("Scan parquet"))
}

/** A successful query execution: its planning phases and the per-operator
  * SQL metrics of the final plan (cached and adaptive sub-plans
  * included). `span` is the span it ran under. */
final case class QueryRec(span: Int, planningMs: Long,
    nodes: Seq[(SparkPlan, Map[String, Long])])

/** Records scheduler events for the traced run. Only registered while a
  * traced job runs, so untraced jobs pay nothing for it. */
final class StageRecorder extends SparkListener {
  private val jobs = mutable.Map.empty[Int, (Long, String)]
  /** Adaptive execution runs each query stage as a job of its own, whose
    * call site is Spark-internal; the jobs of one SQL execution share the
    * call site of the execution's user-facing action. */
  private val jobExec = mutable.Map.empty[Int, String]
  private val execSite = mutable.Map.empty[String, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val stages = mutable.ArrayBuffer.empty[StageRec]

  /** The completed stages, each labelled with its execution's call site. */
  def resolved: Seq[StageRec] = synchronized {
    stages.map(st => jobExec.get(st.jobId).flatMap(execSite.get)
      .fold(st)(site => st.copy(jobCallSite = site))).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = (e.time, site)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach { x =>
        jobExec(e.jobId) = x
        if (!site.contains("withThreadLocalCaptured")) execSite.getOrElseUpdate(x, site)
      }
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val jobId = stageJob.getOrElse(si.stageId, -1)
      val (jobAt, site) = jobs.getOrElse(jobId, (0L, ""))
      if (m != null && si.submissionTime.isDefined)
        stages += StageRec(si.stageId, jobId, site, jobAt, si.numTasks,
          si.submissionTime.get,
          si.completionTime.getOrElse(System.currentTimeMillis()),
          si.rddInfos.flatMap(_.scope.map(_.name)).toSeq,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          tasks.remove((si.stageId, si.attemptNumber())).map(_.toSeq)
            .getOrElse(Nil))
    }
}

/** Spans kept in memory plus the listeners' records; written out as one
  * JSON document when the run ends. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val queries = mutable.ArrayBuffer.empty[QueryRec]
  val stages = new StageRecorder
  private var stack = List.empty[Int]
  private val pending = mutable.ArrayBuffer.empty[QueryRec]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = pending.synchronized {
      pending += QueryRec(-1,
        qe.tracker.phases.values.map(_.durationMs).sum,
        Tracer.planNodes(qe.executedPlan).map(p =>
          p -> p.metrics.map { case (k, v) => k -> v.value }))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(stages)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` as a span under the current one. Query executions that
    * finish inside it are tagged with it once the bus has delivered
    * them. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1),
      System.currentTimeMillis())
    spans += s
    stack = s.id :: stack
    try body
    finally {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      PerfbenchBus.drain(spark.sparkContext)
      pending.synchronized {
        queries ++= pending.map(_.copy(span = s.id))
        pending.clear()
      }
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Long = {
    val covered = Tracer.unionMs(children(s.id).map(c => (c.start, c.end)))
    (s.end - s.start) - covered
  }

  /** Innermost span open at time t under `root`. */
  def spanAt(root: Span, t: Long): Span = {
    var cur = root
    var moved = true
    while (moved) {
      moved = false
      children(cur.id).find(c => c.start <= t && t <= c.end).foreach { c =>
        cur = c; moved = true
      }
    }
    cur
  }

  def descendants(root: Span): Set[Int] = {
    val out = mutable.Set(root.id)
    var grew = true
    while (grew) {
      val add = spans.filter(s => s.parent >= 0 && out(s.parent) &&
        !out(s.id)).map(_.id)
      grew = add.nonEmpty
      out ++= add
    }
    out.toSet
  }

  def stagesIn(root: Span): Seq[StageRec] =
    stages.resolved.filter(st => st.jobSubmitted >= root.start &&
      st.jobSubmitted <= root.end)

  def queriesIn(root: Span): Seq[QueryRec] = {
    val ids = descendants(root)
    queries.filter(q => ids(q.span)).toSeq
  }

  /** Splits the root span's wall time over steps: each instant covered by a
    * running stage goes to the step of the earliest-started stage running
    * then; instants with no stage running are the driver gap. The step
    * times plus the gap add up to the root span's duration. */
  def attribute(root: Span, step: (Span, StageRec) => String)
      : (Map[String, Double], Double) = {
    val st = stagesIn(root).map(s => (s, step(spanAt(root, s.jobSubmitted), s)))
    val cuts = (st.flatMap { case (s, _) => Seq(s.submitted, s.completed) } ++
      Seq(root.start, root.end)).filter(t => t >= root.start && t <= root.end)
      .distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var gap = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val live = st.filter { case (s, _) => s.submitted <= a && s.completed >= b }
      if (live.isEmpty) gap += (b - a) / 1000.0
      else acc(live.minBy(_._1.submitted)._2) += (b - a) / 1000.0
    }
    (acc.toMap, gap)
  }

  /** The Spark-runtime layer over a root span. */
  def sparkMetrics(root: Span, cores: Int): Map[String, Double] = {
    val st = stagesIn(root)
    val jobS = (root.end - root.start) / 1000.0
    val runS = st.map(_.runMs).sum / 1000.0
    val longest = if (st.isEmpty) None else Some(st.maxBy(_.durMs))
    val skew = longest.map { s =>
      val t = s.taskMs.sorted
      if (t.isEmpty) 1.0
      else t.last.toDouble / math.max(1L, t(t.size / 2))
    }.getOrElse(0.0)
    val (_, gap) = attribute(root, (_, _) => "stage")
    Map(
      "spark.jobs" -> st.map(_.jobId).distinct.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.numTasks).sum.toDouble,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "spark.core_busy_ratio" -> runS / (cores * math.max(jobS, 1e-3)),
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "spark.spill_disk_bytes" -> st.map(_.spillDisk).sum.toDouble,
      "spark.task_skew" -> skew,
      "spark.planning_s" -> queriesIn(root).map(_.planningMs).sum / 1000.0,
      "spark.driver_gap_s" -> gap)
  }

  def spansJson(root: Span): Seq[Map[String, Any]] = {
    val ids = descendants(root)
    spans.filter(s => ids(s.id)).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.start - root.start), "dur_s" -> (s.end - s.start) / 1000.0,
        "self_s" -> selfMs(s) / 1000.0)
    }.toSeq
  }
}

object Tracer {
  /** Every node of a physical plan, descending into adaptive query
    * stages and into the plans of cached relations. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case i: InMemoryTableScanExec => i +: planNodes(i.relation.cachedPlan)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** Rows a plan node emits: its own row counter, else its shuffle's
    * record count, else that of its only child. */
  def rowsOut(p: SparkPlan, metrics: Map[SparkPlan, Map[String, Long]])
      : Option[Long] = {
    val m = metrics.getOrElse(p, Map.empty)
    m.get("numOutputRows").orElse(m.get("shuffleRecordsWritten")).orElse {
      p match {
        case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan, metrics)
        case q: QueryStageExec => rowsOut(q.plan, metrics)
        case _ if p.children.size == 1 => rowsOut(p.children.head, metrics)
        case _ => None
      }
    }
  }

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
