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
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
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

  /** The layout of every block-route multiply in `df`'s physical plan,
    * looking inside adaptive plans and their query stages.
    */
  protected def blockShapes(df: org.apache.spark.sql.DataFrame): Seq[graft.plans.BlockShape] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    nodes(df.queryExecution.executedPlan).collect {
      case b: graft.plans.BlockMatMulExec => b.shape
    }
  }

  protected def awaitUntil(cond: () => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond() && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}
