package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: prints `explain("formatted")` for the gates named
  * on the command line and flags the scale anti-patterns the design forbids —
  * scans without pushed filters/pruned columns where expected, missing
  * broadcasts on dim joins, interpreted (non-codegen) hot paths.
  *
  * Usage: `sbt "runMain graft.PlanAudit <sfDir> <gate> [gate ...]"`.
  * The flags are ASSERTED in `sbt test` by `PlanAuditSpec`, whose
  * `required` table is the curated audit set
  * (r5 verdict item 5: a regression that introduces a cartesian product
  * into a gated query must fail the build, not just print); this main
  * remains the eyeball/round-log view of the full formatted plans.
  */
object PlanAudit {

  /** Execute `df` (noop traversal — AQE's final plan only exists after
    * execution) and compute the anti-pattern flags from the executed plan.
    */
  def audit(df: org.apache.spark.sql.DataFrame): Map[String, Boolean] = {
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // Formatted mode carries no codegen annotation in Spark 4; the
    // executed-plan string marks codegen stages with `*(n)` prefixes.
    val simple = df.queryExecution.executedPlan.toString
    Map(
      "PushedFilters" -> plan.contains("PushedFilters: ["),
      "WholeStageCodegen" -> simple.contains("*("),
      "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
      "CartesianProduct(!)" -> plan.contains("CartesianProduct"),
      "SortMergeJoin" -> plan.contains("SortMergeJoin"))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.PlanAudit <sfDir> <gate> [gate ...]")
      sys.exit(2)
    }
    val sfDir = args.head
    val selected = SparkEntry.named(SparkEntry.queries.toSeq.sortBy(_._1),
                                    args.drop(1).toSet)
    val spark = Engine.configure(
      SparkSession.builder().master("local[8]").appName("graft-audit")
        .config("spark.sql.shuffle.partitions", 8)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val flags = audit(df)
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"[audit] $name " +
        flags.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.stop()
  }
}
