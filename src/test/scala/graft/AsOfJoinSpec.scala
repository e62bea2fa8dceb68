package graft

import graft.operators.AsOfJoin
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Semantics of the round-5 operators: as-of join (merge formulation)
  * and multimodal frame sampling.
  */
class AsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000) {
    // exact micros: Timestamp(millis) then setNanos for the remainder
    setNanos(((us % 1000000 + 1000000) % 1000000).toInt * 1000)
  }

  test("asOf picks the latest right row at or before each left row") {
    val left = Seq((1L, 100L, ts(1000)), (1L, 101L, ts(3000)),
                   (2L, 102L, ts(500)))
      .toDF("uid", "lid", "t")
    val right = Seq((1L, 10L, ts(900)), (1L, 11L, ts(2500)),
                    (1L, 12L, ts(5000)), (2L, 13L, ts(600)))
      .toDF("uid", "rid", "t")
    val out = AsOfJoin.asOf(left, right, Seq("uid"), "t", "rid")
      .select(col("lid"), col("asof").getField("rid").as("rid"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out(100L) == 10L)  // 900 <= 1000, latest
    assert(out(101L) == 11L)  // 2500 <= 3000; 5000 excluded
    assert(out(102L) == -1L)  // no right row at/before 500
  }

  test("asOf matches an equal-timestamp right row and breaks ties by max tieBreak") {
    val left = Seq((1L, 100L, ts(2000))).toDF("uid", "lid", "t")
    val right = Seq((1L, 10L, ts(2000)), (1L, 11L, ts(2000)),
                    (1L, 5L, ts(1000))).toDF("uid", "rid", "t")
    val out = AsOfJoin.asOf(left, right, Seq("uid"), "t", "rid")
      .select(col("asof").getField("rid")).head().getLong(0)
    assert(out == 11L)  // inclusive as-of; equal-ts tie -> greatest rid
  }

  test("asOf forward picks the earliest right row at or after; min tieBreak on ties") {
    val left = Seq((1L, 100L, ts(1000)), (1L, 101L, ts(3000)),
                   (2L, 102L, ts(500))).toDF("uid", "lid", "t")
    val right = Seq((1L, 10L, ts(900)), (1L, 11L, ts(2500)),
                    (1L, 12L, ts(3000)), (1L, 13L, ts(3000)),
                    (2L, 14L, ts(400))).toDF("uid", "rid", "t")
    val out = AsOfJoin.asOf(left, right, Seq("uid"), "t", "rid",
        direction = "forward")
      .select(col("lid"), col("asof").getField("rid").as("rid"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out(100L) == 11L)  // earliest at/after 1000 is 2500
    assert(out(101L) == 12L)  // equal-ts (3000,3000) tie -> SMALLEST rid
    assert(out(102L) == -1L)  // nothing at/after 500 for uid 2
  }

  test("asOf nearest picks the closer side; equal distance prefers backward") {
    val left = Seq((1L, 100L, ts(2000)),   // b@1000 (d=1000) vs f@2500 (d=500) -> f
                   (1L, 101L, ts(3500)),   // b@2500 (d=1000) vs f@4500 (d=1000) -> b (tie)
                   (1L, 102L, ts(600)),    // only f exists upstream of 1000
                   (2L, 103L, ts(9000)))   // only b exists
      .toDF("uid", "lid", "t")
    val right = Seq((1L, 10L, ts(1000)), (1L, 11L, ts(2500)),
                    (1L, 12L, ts(4500)), (2L, 13L, ts(100)))
      .toDF("uid", "rid", "t")
    val out = AsOfJoin.asOf(left, right, Seq("uid"), "t", "rid",
        direction = "nearest")
      .select(col("lid"), col("asof").getField("rid").as("rid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(100L -> 11L, 101L -> 11L, 102L -> 10L, 103L -> 13L),
      s"got $out")
  }

  test("saltedJoin equals the plain equi-join under heavy key skew") {
    // 1000 rows of one hot key + a tail; right side is a small dim.
    val left = ((1 to 1000).map(i => (1L, i.toLong)) ++
                (1 to 20).map(i => (i.toLong % 5 + 2, i.toLong)))
      .toDF("k", "payload")
    val right = (1L to 6L).map(k => (k, s"dim$k")).toDF("k", "name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val expected = canon(left.join(right, "k"))
    val salted = canon(graft.operators.SkewOps.saltedJoin(left, right, "k", 8))
    assert(salted == expected)
  }

  test("saltedJoin spreads a hot key across multiple tasks when broadcast is off") {
    // r23's gate hashes the salting ALGEBRA, but at fixture scale Catalyst
    // broadcasts the replicated dim, so the skew mechanism itself never
    // runs there (r5 verdict item 8). Here broadcast is disabled (the
    // regime salting exists for) and AQE's partition coalescing too (it
    // would re-merge the tiny test partitions), then we assert the hot
    // key's probe rows actually land in >1 shuffle task AND that the join
    // shuffles on the widened (key, salt).
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
                    "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val left = ((1 to 4000).map(i => (1L, i.toLong)) ++
                  (1 to 20).map(i => (i.toLong % 5 + 2, i.toLong)))
        .toDF("k", "payload")
      val right = (1L to 6L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = graft.operators.SkewOps.saltedJoin(left, right, "k", 8)
      joined.queryExecution.toRdd.foreach(_ => ())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"salt key missing from the plan:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
             "broadcast crept back in — the test no longer exercises the shuffle path")
      val hotTasks = joined.filter(col("k") === 1L)
        .select(spark_partition_id().as("pid")).distinct().count()
      assert(hotTasks > 1, s"hot key serialized into $hotTasks task")
    }
  }

  test("approx_percentile agrees with exact percentile on an odd-count group") {
    // Odd count: the exact (n−1)·p interpolation lands on a real element,
    // so the GK sketch at high accuracy must return the identical value —
    // the L13/L13b exact-vs-scale-path agreement check.
    val docs = (1 to 101).map(i => ("en", i.toLong)).toDF("lang", "n_chars")
    val r = docs.groupBy(col("lang")).agg(
      percentile(col("n_chars"), lit(0.5)).as("p50"),
      approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("ap50"))
      .head()
    assert(r.getDouble(1) == 51.0)
    assert(r.getLong(2) == 51L)
  }

  test("frameSample probes first and last byte, short payloads degrade to k=n") {
    val docs = Seq((1L, "abcdefghij"), (2L, "xy"), (3L, ""))
      .toDF("doc_id", "text")
    val frames = Multimodal.frameSample(Multimodal.withPayload(docs))
      .collect().groupBy(_.doc_id)
    val f1 = frames(1L).sortBy(_.frame_idx)
    assert(f1.map(_.frame_off).toSeq == Seq(0L, 3L, 6L, 9L))
    assert(f1.head.frame_byte == 'a'.toInt && f1.last.frame_byte == 'j'.toInt)
    val f2 = frames(2L).sortBy(_.frame_idx)
    assert(f2.map(_.frame_off).toSeq == Seq(0L, 1L))  // k = min(4, 2)
    assert(!frames.contains(3L))  // empty payload emits nothing
  }
}
