package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small core count — unit tests are
  * about semantics, not throughput).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.configure(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
  ).getOrCreate()

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (fork := true gives one
    // JVM per test run) — do not stop it here.
    super.afterAll()
  }

  /** Capture every query execution completed while `body` runs — the only
    * window into plans that eager materialization (localCheckpoint) hides
    * from the returned frame's lineage. Listener delivery is async, so
    * assertions should poll [[awaitUntil]] on the returned accessor.
    */
  protected def capturePlans[A](body: => A): (A, () => Seq[String]) = {
    val (r, plans) = captureExecuted(body)
    (r, () => plans().map(_.toString))
  }

  /** [[capturePlans]]' executed plans as plan trees. */
  protected def captureExecuted[A](body: => A)
      : (A, () => Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val plans = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r =
      try body
      finally {
        // The body may run MANY jobs and listener delivery is async —
        // unregistering as soon as ONE plan arrived could drop the later
        // plans the test actually asserts on (r10 ADVICE, medium: the
        // fallback-join assert could flake and the "never SortMergeJoin"
        // guard pass vacuously on missing plans). Wait until the captured
        // count has been STABLE across several consecutive poll intervals
        // (~200 ms of bus quiet) before unregistering.
        var seen = -1
        var stableFor = 0
        awaitUntil { () =>
          val n = plans.synchronized(plans.size)
          if (n == seen && n > 0) stableFor += 1 else stableFor = 0
          seen = n
          stableFor >= 4
        }
        spark.listenerManager.unregister(listener)
      }
    (r, () => plans.synchronized(plans.toSeq))
  }

  /** The layout of every block-route multiply in `df`'s physical plan. */
  protected def blockShapes(df: org.apache.spark.sql.DataFrame): Seq[graft.plans.BlockShape] =
    blockNodes(df).map(_.shape)

  /** Every block-route multiply node in `df`'s physical plan, looking
    * inside adaptive plans and their query stages.
    */
  protected def blockNodes(df: org.apache.spark.sql.DataFrame): Seq[graft.plans.BlockMatMulExec] =
    planNodes(df.queryExecution.executedPlan).collect {
      case b: graft.plans.BlockMatMulExec => b
    }

  /** Every dense pair-join node of the plans `run` executed, with the
    * metrics of its run.
    */
  protected def densePairsNodes(run: => Any): Seq[graft.plans.DensePairsExec] = {
    val (_, plans) = captureExecuted(run)
    awaitUntil(() => plans().nonEmpty)
    plans().flatMap(planNodes).collect { case d: graft.plans.DensePairsExec => d }
  }

  /** `p` and every node under it, looking inside adaptive plans and their
    * query stages.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case s: QueryStageExec => planNodes(s.plan)
      case _ => p.children.flatMap(planNodes)
    })
  }

  /** The Hadoop `Shell` processes started while `body` runs, each as its
    * command line and stack. Spark's own cleanup forks (`rm -rf`) do not go
    * through `Shell` and are not counted.
    */
  protected def shellForks(body: => Unit): Seq[String] = Scratch.using("jfr") { dir =>
    import scala.jdk.CollectionConverters._
    val r = new jdk.jfr.Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      body
      r.stop()
      val f = dir.resolve("forks.jfr")
      r.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}")
          (e.getString("command") +: frames).mkString("\n  at ")
        }
        .filter(_.contains("org.apache.hadoop.util.Shell"))
    } finally r.close()
  }

  /** Fails when `body` starts a Hadoop `Shell` process. */
  protected def assertNoForks(what: String)(body: => Unit): Unit = {
    // The session and Shell's one-time start-up probes come first, so the
    // recording holds only what `body` does.
    spark.range(1).count()
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val forks = shellForks(body)
    assert(forks.isEmpty, s"$what forked ${forks.size}:\n${forks.take(3).mkString("\n")}")
  }

  /** `body`'s result and the Spark jobs it started, counted by the
    * [[Sched]] listener `graft.Bench` reads.
    */
  protected def jobsOf[A](body: => A): (A, Long) = {
    val sched = new Sched
    spark.sparkContext.addSparkListener(sched)
    try {
      val before = sched.settled()
      val r = body
      (r, (sched.settled() - before).jobs)
    } finally spark.sparkContext.removeSparkListener(sched)
  }

  protected def awaitUntil(cond: () => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond() && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}
