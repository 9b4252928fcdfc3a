package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.CacheOnce
import graft.plans.PlanWalk

/** A timed interval of one request. `parent` is the id of the enclosing
  * span (-1 for the request itself); times are epoch µs. */
final case class Span(req: Int, id: Int, parent: Int, name: String,
    startUs: Long, endUs: Long, query: String = "")

/** Spans opened by the benchmark around its calls into the engine. The
  * untraced run uses [[Spans.Off]], which only runs the body. */
trait Spans {
  def request[T](id: Int)(body: => T): T
  def span[T](name: String, query: String = "")(body: => T): T
}

object Spans {
  object Off extends Spans {
    def request[T](id: Int)(body: => T): T = body
    def span[T](name: String, query: String)(body: => T): T = body
  }
}

/** The traced run's recorder. It times the benchmark's calls into each
  * layer (request, declaration, version write, execution) and listens,
  * from outside the engine, to what those calls caused:
  *  - Spark's public SparkListener events (jobs, stages, tasks), scoped
  *    to a request by the job group the benchmark sets for it;
  *  - the executing QueryExecution of every query (Catalyst phase times
  *    from its tracker, exchanges, broadcasts, scan time and join row
  *    counts from the executed plan) through a QueryExecutionListener;
  *  - CacheOnce's lookup log and storage snapshot after each request.
  * Everything is kept in memory; [[resolve]] turns it into spans and
  * per-request counts after the listener bus has been drained. */
final class Tracer extends SparkListener
    with QueryExecutionListener with Spans {

  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  private def nowUs: Long = baseUs + System.nanoTime() / 1000

  // ---- benchmark side (benchmark thread only) ----
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var req = -1
  private val stack = mutable.Stack.empty[Int]
  private val cacheCounts = mutable.Map.empty[Int, (Long, Long, Long)]

  private def timed[T](name: String, query: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += null
    stack.push(id)
    val s = nowUs
    try body
    finally {
      stack.pop()
      spans(id) = Span(req, id, parent, name, s, nowUs, query)
    }
  }

  def request[T](id: Int)(body: => T): T = {
    req = id
    CacheOnce.drainEvents()
    try timed("request", "")(body)
    finally {
      val ev = CacheOnce.drainEvents()
      val mem = CacheOnce.storageSnapshot().values.map(_._2).sum
      cacheCounts(id) = (ev.size.toLong, ev.count(_._2).toLong, mem)
    }
  }

  def span[T](name: String, query: String)(body: => T): T = timed(name, query)(body)

  // ---- listener side (listener-bus thread), read after drain ----
  import Tracer._

  private val jobs = TrieMap.empty[Int, Job]
  private val stages = TrieMap.empty[Int, StageAgg]
  private val qes = new ConcurrentLinkedQueue[Qe]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => jobs(e.jobId) = Job(group, e.time, e.stageIds))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).submitMs =
      e.stageInfo.submissionTime.getOrElse(0L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.submitMs = e.stageInfo.submissionTime.getOrElse(a.submitMs)
    a.completeMs = e.stageInfo.completionTime.getOrElse(0L)
    a.ran = a.submitMs > 0 && a.completeMs > 0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    if (a.submitMs > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submitMs)
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shufWriteNs += m.shuffleWriteMetrics.writeTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qes.add(describe(qe)): Unit

  // a failed query may have no executed plan; its phases are still kept
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    qes.add(scala.util.Try(describe(qe)).getOrElse(Qe(phases(qe), 0, 0, 0L, 0L, 0L))): Unit

  private def phases(qe: QueryExecution): Seq[(String, Long, Long)] =
    Seq("analysis", "optimization", "planning").flatMap { p =>
      qe.tracker.phases.get(p).map(s => (p, s.startTimeMs, s.endTimeMs))
    }

  private def describe(qe: QueryExecution): Qe = {
    // PlanWalk reaches a reused exchange twice; count each node once
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val nodes = PlanWalk.nodes(qe.executedPlan).filter(seen.add)
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").fold(0L)(_.value)
    val joins = nodes.collect {
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec) => rows(j)
    }
    Qe(phases(qe),
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      scanMs = nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("scanTime").fold(0L)(_.value) }.sum,
      maxJoinRows = (0L +: joins).max,
      resultRows = nodes.find(_.metrics.contains("numOutputRows")).fold(0L)(rows))
  }

  /** Spark stamps events in whole epoch ms; the best µs estimate of a
    * truncated stamp is the middle of its millisecond. */
  private def us(ms: Long): Long = ms * 1000 + 500

  /** Spans (the benchmark's own plus stage and Catalyst-phase spans,
    * each parented to the innermost benchmark span that contains its
    * midpoint and clipped to it) and per-request counts, keyed by metric
    * name. Call after the listener bus has been drained. */
  def resolve(group: Int => String): (Seq[Span], Map[Int, Map[String, Double]]) = {
    val own = spans.toSeq
    val byReq = own.groupBy(_.req)
    val qeList = qes.asScala.toSeq
    var nextId = own.size
    val derived = mutable.ArrayBuffer.empty[Span]
    val counts = byReq.keys.toSeq.sorted.map { r =>
      val mine = byReq(r)
      val root = mine.find(_.parent == -1).get
      // innermost benchmark span containing t (spans nest, so the latest
      // opened one that contains t is the innermost)
      def owner(tUs: Long): Span =
        mine.filter(s => s.startUs <= tUs && tUs <= s.endUs).maxBy(_.id)
      def add(name: String, s0: Long, e0: Long): Unit = {
        val p = owner(math.max(root.startUs, math.min((s0 + e0) / 2, root.endUs)))
        val (s, e) = (math.max(s0, p.startUs), math.min(e0, p.endUs))
        if (e > s) { derived += Span(r, nextId, p.id, name, s, e, p.query); nextId += 1 }
      }
      val myJobs = jobs.values.filter(_.group == group(r)).toSeq
      val myStages = myJobs.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.ran)
      myStages.foreach(a => add("exec.stage", us(a.submitMs), us(a.completeMs)))
      // a QE belongs to the benchmark span holding the middle of its phases
      def mid(q: Qe): Long = (us(q.phases.head._2) + us(q.phases.last._3)) / 2
      val myQes = qeList.filter(q => q.phases.nonEmpty &&
        mid(q) >= root.startUs && mid(q) <= root.endUs)
      myQes.foreach(_.phases.foreach { case (p, s, e) => add(s"plans.$p", us(s), us(e)) })
      val declares = mine.filter(_.name == "queries.declare")
      val dedup = myQes.filter { q =>
        val o = owner(mid(q))
        o.name == "execute" && o.query.startsWith("dedup_")
      }
      val (lookups, hits, mem) = cacheCounts.getOrElse(r, (0L, 0L, 0L))
      def sum(f: StageAgg => Long): Double = myStages.map(f).sum.toDouble
      r -> Map[String, Double](
        "queries.declare_jobs" -> myJobs.count(j =>
          declares.exists(d => d.startUs <= us(j.startMs) && us(j.startMs) <= d.endUs)).toDouble,
        "plans.exchanges" -> myQes.map(_.exchanges).sum.toDouble,
        "plans.broadcasts" -> myQes.map(_.broadcasts).sum.toDouble,
        "cache.lookups" -> lookups.toDouble,
        "cache.hits" -> hits.toDouble,
        "cache.mem_bytes" -> mem.toDouble,
        "sched.jobs" -> myJobs.size.toDouble,
        "sched.stages" -> myStages.size.toDouble,
        "sched.tasks" -> sum(_.tasks),
        "sched.task_wait_ms" -> sum(_.waitMs),
        "exec.task_run_ms" -> sum(_.runMs),
        "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
        "exec.gc_ms" -> sum(_.gcMs),
        "exec.failed_tasks" -> sum(_.failed),
        "scan.bytes" -> sum(_.inBytes),
        "scan.rows" -> sum(_.inRows),
        "scan.time_ms" -> myQes.map(_.scanMs).sum.toDouble,
        "shuffle.write_bytes" -> sum(_.shufWriteBytes),
        "shuffle.write_ms" -> sum(_.shufWriteNs) / 1e6,
        "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
        "dedup.requests" -> dedup.size.toDouble,
        "dedup.candidates" -> dedup.map(_.maxJoinRows).sum.toDouble,
        "dedup.result_rows" -> dedup.map(_.resultRows).sum.toDouble,
        "write.bytes" -> sum(_.outBytes))
    }.toMap
    (own ++ derived, counts)
  }
}

private object Tracer {
  final case class Job(group: String, startMs: Long, stageIds: Seq[Int])
  final class StageAgg {
    var submitMs = 0L; var completeMs = 0L; var ran = false
    var tasks = 0L; var failed = 0L; var waitMs = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L
    var shufWriteBytes = 0L; var shufWriteNs = 0L; var fetchWaitMs = 0L
  }
  final case class Qe(phases: Seq[(String, Long, Long)], exchanges: Int,
      broadcasts: Int, scanMs: Long, maxJoinRows: Long, resultRows: Long)
}
