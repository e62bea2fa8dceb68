package graft

import graft.operators.{MatrixGen, MatrixOps}
import org.apache.spark.sql.DataFrame

/** The planner-selected MatMul node (SURVEY §7's extraStrategies hook):
  * MatMulStrategy must pick the row join when a side is broadcastable, the
  * block-GEMM path when broadcast is off the table, and both must equal the
  * handwritten formulations cell-for-cell.
  */
class MatMulPlanSpec extends SparkSpec {

  private def canon(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

  private def planned() = MatrixOps.multiplyPlanned(
    MatrixGen.matA(spark, 40, 30), MatrixGen.matB(spark, 30, 20))

  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan.toString
  }

  test("small operands plan as the broadcast row join (no object serde)") {
    val df = planned()
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast row join:\n$plan")
    assert(!plan.contains("SerializeFromObject"),
           s"block GEMM chosen for broadcastable operands:\n$plan")
    assert(canon(df) == canon(MatrixOps.matmul(
      MatrixGen.matA(spark, 40, 30), MatrixGen.matB(spark, 30, 20))))
  }

  test("without broadcast the strategy switches to the block-GEMM path") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = planned()
      val plan = executedPlan(df)
      assert(plan.contains("SerializeFromObject"),
             s"expected the block-GEMM object pipeline:\n$plan")
      assert(canon(df) == canon(MatrixOps.blockMatmul(
        MatrixGen.matA(spark, 40, 30), MatrixGen.matB(spark, 30, 20), 16)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the tile join and the partial-tile reduce keep one partition per cuboid key") {
    // AQE coalesces a small shuffle it planned itself, which once ran the
    // whole tile join and every GEMM as ONE task. The tile and partial-tile
    // exchanges carry an explicit count instead: the executed plan must
    // read each at its full width (no AQEShuffleRead over it) and the width
    // must be the planner's estimated key count, grid·P·Q.
    import graft.plans.MatMulStrategy
    import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    // The node an operator reads its exchange through: past the sort and
    // projections the planner puts between them.
    def input(p: SparkPlan): SparkPlan = p match {
      case s: SortExec => input(s.child)
      case pr: ProjectExec => input(pr.child)
      case other => other
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = MatrixGen.matA(spark, 40, 30)
      val b = MatrixGen.matB(spark, 30, 20)
      val df = MatrixOps.multiplyPlanned(a, b)
      df.queryExecution.toRdd.foreach(_ => ())
      val Some((_, nEst, bs)) = MatMulStrategy.lastDerived
      val split = MatMulStrategy.deriveReplication(
        a.queryExecution.analyzed, b.queryExecution.analyzed, bs,
        spark.sparkContext.defaultParallelism,
        MatMulStrategy.replicationHeadroom(spark))
      val keys = (nEst + bs - 1) / bs * split * split
      assert(split >= 2 && keys >= 2L * spark.sparkContext.defaultParallelism,
        s"small grid should be split: n=$nEst bs=$bs split=$split")
      val all = nodes(df.queryExecution.executedPlan)
      val join = all.collect { case j: SortMergeJoinExec => j }
      val reduce = all.filter(_.nodeName == "MapGroups").take(1)
      assert(join.size == 1 && reduce.size == 1, df.queryExecution.executedPlan)
      val reads = join.head.children ++ reduce.head.children
      reads.map(input).foreach { r =>
        assert(!r.isInstanceOf[AQEShuffleReadExec],
          s"AQE re-read an explicit-count exchange:\n$r")
        assert(r.outputPartitioning.numPartitions == keys,
          s"expected $keys partitions:\n$r")
      }
      assert(canon(df) == canon(MatrixOps.matmul(a, b).filter("v != 0")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a MatMul node planned again under another broadcast setting takes that setting's route") {
    // The strategy keeps each node's expansion for AQE's re-plans; a later
    // query over the same frame must still take the route its own conf
    // selects, not the one kept from the earlier query.
    import org.apache.spark.sql.functions.col
    val df = planned()
    def route(): String = executedPlan(df.filter(col("v") > 0L))
    assert(!route().contains("SerializeFromObject"), "expected the row join first")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(route().contains("SerializeFromObject"),
               "the block route must be planned once broadcast is off")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cost statistics flip the physical path across the m1 size sweep") {
    // Planning only (no execution): MatMulStrategy decides from the
    // children's size estimates, before AQE ever runs — so the choice is
    // visible in the initial physical plan string.
    def planFor(n: Int): String = MatrixOps.multiplyPlanned(
      MatrixGen.matA(spark, n, n), MatrixGen.matB(spark, n, n))
      .queryExecution.executedPlan.toString
    // 50²: COO estimate ~0.2 MB — a broadcastable side, row join.
    assert(!planFor(50).contains("SerializeFromObject"),
           "50² should plan as the broadcast row join")
    // 1000²/2000² (the bench's m1_sweep_1000/2000 rungs): estimates
    // (~64 MB / ~256 MB) clear the broadcast threshold on BOTH sides, so
    // the strategy flips to the block-GEMM object pipeline — the
    // dense-operand shape whose row join would shuffle m·n·p rows.
    assert(planFor(1000).contains("SerializeFromObject"),
           "1000² should plan as block GEMM")
    assert(planFor(2000).contains("SerializeFromObject"),
           "2000² should plan as block GEMM")
  }

  test("the planner derives the block tile width from operand statistics") {
    // The tile decision is MatMulStrategy.deriveBs's — the measured
    // sweepTile rule (min(n/4, 512))
    // over the SAME size statistics the broadcast decision reads. The
    // chosen bs is invisible in the plan string (it parameterizes the
    // mapGroups closures), so the strategy records its last derivation.
    // The pinned values encode Catalyst's size model for the crossJoin-of-
    // ranges COO children (nnz ≈ sizeInBytes/32 ⇒ n within ~2× of true n;
    // both the n/4 floor and the 512 cap are safe on either side of that
    // factor) — if the size model shifts across Spark versions, this spec
    // is MEANT to flag it.
    import graft.plans.MatMulStrategy
    def derivedFor(n: Int): (Long, Int) = {
      MatMulStrategy.lastDerived = None
      // Planning only: executedPlan forces strategy application, no run.
      MatrixOps.multiplyPlanned(
        MatrixGen.matA(spark, n, n), MatrixGen.matB(spark, n, n))
        .queryExecution.executedPlan
      val Some((_, nEst, bs)) = MatMulStrategy.lastDerived
      (nEst, bs)
    }
    val (n1, bs1) = derivedFor(1000)
    val (n2, bs2) = derivedFor(8000)
    // 1000²: the n/4 regime — bs tracks the dimension estimate.
    assert(bs1 == MatrixOps.sweepTile(n1.toInt) && bs1 < 512 && bs1 >= 125,
      s"1000² derived (n=$n1, bs=$bs1)")
    // 8000²: the measured memory cap — bs clamps at 512 however large the
    // operands get (per-task tile memory stays O(512²); the GRID widens).
    assert(bs2 == 512, s"8000² derived (n=$n2, bs=$bs2)")
  }

  test("MatMulReassociate rotates (A·B)·C right-deep iff C is the small operand") {
    import graft.plans.MatMul
    val a = MatrixGen.matA(spark, 40, 30)
    val b = MatrixGen.matB(spark, 30, 30)
    def topNode(df: DataFrame): MatMul =
      df.queryExecution.optimizedPlan.collectFirst { case m: MatMul => m }.get

    // C tiny (30×2): the rule must rotate — right child becomes the inner
    // MatMul, left child is a base operand.
    val cSmall = MatrixGen.matB(spark, 30, 2)
    val rotated = topNode(MatrixOps.multiplyPlannedChain(a, b, cSmall))
    assert(rotated.right.isInstanceOf[MatMul] && !rotated.left.isInstanceOf[MatMul],
           s"expected right-deep rotation:\n$rotated")
    // C big (30×200): left-deep is already the cheap association — no
    // rotation.
    val cBig = MatrixGen.matB(spark, 30, 200)
    val kept = topNode(MatrixOps.multiplyPlannedChain(a, b, cBig))
    assert(kept.left.isInstanceOf[MatMul] && !kept.right.isInstanceOf[MatMul],
           s"expected left-deep chain kept:\n$kept")
    // Both associations are result-identical to the handwritten chain.
    val want = canon(MatrixOps.matmul(
      MatrixOps.matmul(a, b).withColumnRenamed("k", "j"), cSmall))
    assert(canon(MatrixOps.multiplyPlannedChain(a, b, cSmall)) == want)
  }

  test("downstream operators compose over the MatMul node's output") {
    import org.apache.spark.sql.functions._
    // Filter + aggregate ABOVE the custom node: parent expressions resolve
    // against the node's attribute ids, which the strategy's final Project
    // must preserve through the expansion.
    val total = planned().filter(col("i") < 10L).agg(sum(col("v")))
      .head().getLong(0)
    val expected = MatrixOps.matmul(
        MatrixGen.matA(spark, 40, 30), MatrixGen.matB(spark, 30, 20))
      .filter(col("i") < 10L).agg(sum(col("v"))).head().getLong(0)
    assert(total == expected && total > 0L)
  }
}
