package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall-clock spans opened by the harness around the parts of a job.
  * Times are epoch milliseconds (fractional), the clock the Spark
  * listener bus stamps jobs with, so harness spans and engine jobs
  * nest on one time axis. Kept in memory and written once at the end.
  */
final class Spans {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val s = nowMs
    try f
    finally {
      stack = stack.tail
      done += Span(id, parent, name, s, nowMs)
    }
  }

  def toJson: Json.Arr = Json.Arr(done.sortBy(_.id).map(s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)).toSeq)
}

/** Engine-side recorder for a traced repetition: a SparkListener for
  * jobs, stages and tasks plus a QueryExecutionListener for planning
  * time and operator SQL metrics. Nothing here touches library code;
  * a job's call site is the one Spark records for its SQL execution or
  * its result stage.
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {

  final case class Job(id: Int, start: Long, var end: Long, site: String)
  final class Stage(val id: Int) {
    var submitted = 0L; var completed = 0L; var name = ""
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var accumIds = Set.empty[Long]
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }

  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  var planMs = 0.0
  val planMetrics = mutable.TreeMap.empty[String, Long]
  private val seenCached = mutable.Set.empty[Int]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  /** SQL execution id -> library call site of the action that started it */
  private val execSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      lock.synchronized(execSites(x.executionId) = EngineTrace.librarySite(x.details, x.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    // a job of a SQL execution (AQE runs query stages from a pool thread)
    // takes the execution's call site; others the one on their result stage
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    val result = e.stageInfos.maxByOption(_.stageId)
    val site = exec.orElse(result.map(i => EngineTrace.librarySite(i.details, i.name))).getOrElse("")
    jobs += Job(e.jobId, e.time, -1L, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.name = i.name
    s.submitted = i.submissionTime.getOrElse(0L)
    s.completed = i.completionTime.getOrElse(0L)
    s.accumIds = i.accumulables.keySet.toSet
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.taskRunMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lock.synchronized {
      val ph = qe.tracker.phases
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      collectMetrics(qe.executedPlan)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sum every operator SQL metric of a finished plan, keyed
    * `<node>.<metric>`; AQE stages, reused exchanges and in-memory
    * caches are walked into (a cached plan's metrics count once).
    */
  private def collectMetrics(root: SparkPlan): Unit = {
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        add(m)
        val cached = m.relation.cacheBuilder.cachedPlan
        if (seenCached.add(System.identityHashCode(cached))) walk(cached)
      case other =>
        add(other)
        other.children.foreach(walk)
    }
    def add(p: SparkPlan): Unit = {
      p.metrics.foreach { case (k, m) =>
        val key = s"${p.nodeName}.$k"
        planMetrics(key) = planMetrics.getOrElse(key, 0L) + m.value
      }
      // MinHash-LSH near-dup's exact verify (a filter, or the join
      // condition the optimizer folds it into): its input rows are the
      // candidate pairs, its output rows the verified pairs
      val verify = p match {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.sql.contains("sorted_intersect_count") => Some(f.child)
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.condition.exists(_.sql.contains("sorted_intersect_count")) => Some(j.left)
        case _ => None
      }
      verify.foreach { in =>
        val out = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        planMetrics("lsh.verified_pairs") = planMetrics.getOrElse("lsh.verified_pairs", 0L) + out
        planMetrics("lsh.candidate_pairs") =
          planMetrics.getOrElse("lsh.candidate_pairs", 0L) + firstRows(in)
      }
    }
    def firstRows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => firstRows(a.executedPlan)
      case q: QueryStageExec => firstRows(q.plan)
      case other =>
        other.metrics.get("numOutputRows").map(_.value)
          .getOrElse(other.children.headOption.map(firstRows).getOrElse(0L))
    }
    walk(root)
  }

  def toJson: Json.Obj = lock.synchronized {
    Json.obj(
      "jobs" -> Json.Arr(jobs.toSeq.map(j => Json.obj(
        "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "site" -> j.site))),
      "stages" -> Json.Arr(stages.values.toSeq.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "submitted_ms" -> s.submitted,
        "completed_ms" -> s.completed, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
        "accums" -> Json.Arr(s.accumIds.toSeq.sorted.map(a => Json.Num(a.toDouble))),
        "task_run_ms" -> Json.Arr(s.taskRunMs.toSeq.map(t => Json.Num(t.toDouble)))))),
      "plan_ms" -> planMs,
      "plan_metrics" -> Json.Obj(planMetrics.toSeq.map { case (k, v) => k -> Json.Num(v.toDouble) }))
  }
}

object EngineTrace {
  /** The innermost library frame (`graft.*`, outside this harness) of a
    * job's long call site, e.g. `graft.text.CurationPipeline$.run
    * (CurationPipeline.scala:196)`; the short form when no frame is.
    */
  def librarySite(longSite: String, shortSite: String): String =
    longSite.split("\n").map(_.trim.stripPrefix("at ").trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.queries."))
      .getOrElse(shortSite)
}
