package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AQE's OptimizeSkewedJoin is the engine's declared RUNTIME answer to
  * shuffle-join skew (r23 / [[graft.operators.SkewOps.saltedJoin]] is the
  * plan-level complement — see the SkewOps scaladoc for when each
  * applies). This spec proves the runtime path actually fires on a
  * genuinely skewed shuffle join: with broadcast off, the final adaptive
  * plan must contain a skewed AQEShuffleRead (the hot partition split
  * across tasks), and the result must match the plain join.
  */
class SkewAqeSpec extends SparkSpec {

  private def executed(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan.toString
  }

  test("OptimizeSkewedJoin splits the hot partition of a skewed shuffle join") {
    val confs = Seq(
      // Force the sort-merge path: a broadcast dim would dissolve the
      // shuffle this spec exists to skew-split.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Fixture-scaled thresholds: the defaults target 256 MB cluster
      // partitions; here the hot partition is ~8 MB against a ~50 KB
      // median, the same ~100x ratio a production hot key produces.
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072")
    Engine.withConf(spark, confs: _*) {
      // 5/6 of the fact lands on ONE key (plus a uniform 2000-key tail),
      // so one shuffle partition carries ~100x the median bytes — the
      // key-skew shape AQE must catch at runtime.
      val fact = spark.range(120000).select(
        when(col("id") % 6 =!= 0, lit(0L))
          .otherwise(col("id") % 2000).as("key"),
        rpad(col("id").cast("string"), 64, "x").as("payload"))
      val dim = spark.range(2000).select(col("id").as("key"),
        rpad(col("id").cast("string"), 16, "d").as("dval"))
      val joined = fact.join(dim, "key")
      val plan = executed(joined)
      assert(plan.toLowerCase.contains("skew"),
             s"no skewed AQEShuffleRead in the final adaptive plan:\n$plan")
      // Splitting must not change semantics: every fact row matches its
      // one dim key exactly once.
      assert(joined.count() == 120000L)
    }
  }
}
