package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task metrics summed over one stage attempt. */
final class StageRec(val id: Int, val attempt: Int, val op: Int) {
  var name = ""
  var submit = 0L
  var complete = 0L
  var cpuNs, runMs, gcMs, swBytes, swRecords, srBytes, fetchWaitMs,
      spillBytes, inBytes, inRecords, outBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, op: Int, start: Long, var end: Long,
                        sqlId: Long, stageIds: Seq[Int])

final case class SqlRec(id: Long, root: Long, op: Int, start: Long,
                        var end: Long, tag: String)

final case class PlanRec(op: Int, planMs: Double, filesWritten: Long,
                         facts: Map[String, Double])

final case class BatchRec(op: Int, query: String, start: Long, durMs: Long,
                          durations: Map[String, Long], stateCommitMs: Long,
                          stateRows: Long)

/** Everything the benchmark observes of Spark, gathered through public
  * listener APIs only: a [[SparkListener]] (jobs, stages, task metrics,
  * SQL execution boundaries), a [[QueryExecutionListener]] (planning time,
  * files written, facts read off executed plans) and a
  * [[StreamingQueryListener]] (micro-batch progress).
  *
  * Each record is tagged with the op that was in flight when its event was
  * delivered. The harness runs one op at a time and calls [[drain]] before
  * it moves on, so an event can only land on the op that caused it.
  * Records stay in memory until the run ends.
  */
final class Recorder {
  @volatile var op: Int = -1
  @volatile var traced: Boolean = false
  /** Classifies a SQL execution from its physical plan text (traced runs). */
  @volatile var sqlTagger: String => String = _ => ""
  /** Reads facts off an executed plan (traced runs). */
  @volatile var planFacts: QueryExecution => Map[String, Double] = _ => Map.empty

  private val lock = new Object
  private var delivered = 0L
  private var open = 0L
  private val stageOp = mutable.HashMap.empty[Int, Int]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt),
      new StageRec(id, attempt, stageOp.getOrElse(id, -1)))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      delivered += 1; open += 1
      val sqlId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
      jobs(e.jobId) = JobRec(e.jobId, op, e.time, e.time, sqlId, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      delivered += 1; open -= 1
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        delivered += 1
        val i = e.stageInfo
        stage(i.stageId, i.attemptNumber()).submit =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        delivered += 1
        val i = e.stageInfo
        val r = stage(i.stageId, i.attemptNumber())
        r.name = i.name
        r.complete = i.completionTime.getOrElse(System.currentTimeMillis())
        if (r.submit == 0L) r.submit = i.submissionTime.getOrElse(r.complete)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      delivered += 1
      val m = e.taskMetrics
      if (m != null) {
        val r = stage(e.stageId, e.stageAttemptId)
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.swBytes += m.shuffleWriteMetrics.bytesWritten
        r.swRecords += m.shuffleWriteMetrics.recordsWritten
        r.srBytes += m.shuffleReadMetrics.totalBytesRead
        r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        r.spillBytes += m.diskBytesSpilled
        r.inBytes += m.inputMetrics.bytesRead
        r.inRecords += m.inputMetrics.recordsRead
        r.outBytes += m.outputMetrics.bytesWritten
        r.taskRunMs += m.executorRunTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        delivered += 1; open += 1
        val tag = if (traced) sqlTagger(s.physicalPlanDescription) else ""
        sqls(s.executionId) = SqlRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), op, s.time, s.time, tag)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        delivered += 1
        if (sqls.contains(s.executionId)) open -= 1
        sqls.get(s.executionId).foreach(_.end = s.time)
      }
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      if (!traced) return
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val files = Plans.nodes(qe.executedPlan).collect {
        case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val facts = try planFacts(qe) catch { case _: Throwable => Map.empty[String, Double] }
      lock.synchronized { delivered += 1; plans += PlanRec(op, planMs, files, facts) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      lock.synchronized { delivered += 1 }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { delivered += 1 }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
      lock.synchronized { delivered += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { delivered += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = {
        val b = Map.newBuilder[String, Long]
        p.durationMs.forEach((k, v) => b += (k -> v.longValue))
        b.result()
      }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val rec = BatchRec(op, Option(p.name).getOrElse(""), start,
        durations.getOrElse("triggerExecution", 0L), durations,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum)
      lock.synchronized { delivered += 1; if (traced) batches += rec }
    }
  }

  /** Blocks until every event already posted has been delivered: no job or
    * SQL execution is open and nothing new arrived for 50 ms.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      Thread.sleep(5)
      val (d, o) = lock.synchronized((delivered, open))
      val now = System.nanoTime()
      if (d != last) { last = d; quietSince = now }
      else if (o <= 0 && now - quietSince >= 50000000L) return
    }
  }

  def stagesOf(opId: Int): Seq[StageRec] =
    lock.synchronized(stages.values.filter(_.op == opId).toVector)
  def jobsOf(opId: Int): Seq[JobRec] =
    lock.synchronized(jobs.values.filter(_.op == opId).toVector)
  def sqlsOf(opId: Int): Seq[SqlRec] =
    lock.synchronized(sqls.values.filter(_.op == opId).toVector)
  def plansOf(opId: Int): Seq[PlanRec] =
    lock.synchronized(plans.filter(_.op == opId).toVector)
  def batchesOf(opId: Int): Seq[BatchRec] =
    lock.synchronized(batches.filter(_.op == opId).toVector)

  def cpuSeconds(opId: Int): Double = stagesOf(opId).map(_.cpuNs).sum / 1e9
}

/** Walks executed plans, including adaptive query stages. */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case _ => p.children.flatMap(nodes)
  })

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}

/** A span: one interval of the run, its parent and its kind. */
final case class Span(id: Int, parent: Int, op: Int, kind: String,
                      name: String, start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

object Spans {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    cl.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Splits the root span's interval among span kinds: each instant goes to
    * the deepest span active at it (a span's self time, with overlapping
    * siblings counted once). The parts add up to the root's duration.
    */
  def selfByKind(spans: Seq[Span], root: Span): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      Iterator.iterate(s)(x => byId.getOrElse(x.parent, null))
        .takeWhile(x => x != null && x.id != root.id).size
    val clipped = spans.filter(_.id != root.id)
      .map(s => (s, math.max(s.start, root.start), math.min(s.end, root.end), depth(s)))
      .filter(x => x._3 > x._2)
    val cuts = (clipped.flatMap(x => Seq(x._2, x._3)) ++ Seq(root.start, root.end))
      .distinct.sorted
    val out = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = clipped.filter(x => x._2 <= a && b <= x._3)
        val kind = if (active.isEmpty) root.kind else active.maxBy(_._4)._1.kind
        out(kind) += b - a
      case _ =>
    }
    out.toMap
  }
}
