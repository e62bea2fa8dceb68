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
    assert(blockShapes(df).isEmpty,
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
      assert(blockShapes(df).size == 1, s"expected one BlockMatMulExec:\n$plan")
      // One operator: no object pipeline, no tile join or group around it.
      Seq("SerializeFromObject", "MapGroups", "SortMergeJoin").foreach { n =>
        assert(!plan.contains(n), s"$n in the block route:\n$plan")
      }
      val shape = blockShapes(df).head
      assert(plan.contains(s"BlockMatMul bs=${shape.bs} P=${shape.p} Q=${shape.q} " +
        s"R=${shape.r} keys=${shape.keys}"), plan)
      assert(canon(df) == canon(MatrixOps.blockMatmul(
        MatrixGen.matA(spark, 40, 30), MatrixGen.matB(spark, 30, 20), 16)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the GEMM stage runs one task per cuboid key; R = 1 has no partial-tile shuffle") {
    // Each key is its own partition of an RDD shuffle, which AQE does not
    // coalesce, so the stage that zips the two tile sides must run exactly
    // P·Q·R tasks. With R = 1 every key holds all contraction steps of its
    // output tiles and emits them itself; R > 1 adds one reduce of partial
    // output tiles, one task per P·Q output residue.
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.rddInfos.map(_.name), e.stageInfo.numTasks))
    }
    def tasksOf(rdd: String): Seq[Int] = {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.collect { case (names, n) if names.contains(rdd) => n }
    }
    def run(df: DataFrame): Unit = {
      stages.clear()
      df.queryExecution.toRdd.foreach(_ => ())
      awaitUntil(() => tasksOf("BlockMatMul gemm").nonEmpty)
      Thread.sleep(200)
    }
    val a = MatrixGen.matA(spark, 40, 30)
    val b = MatrixGen.matB(spark, 30, 20)
    val want = canon(MatrixOps.matmul(a, b).filter("v != 0"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = MatrixOps.multiplyPlanned(a, b)
      run(df)
      val Seq(shape) = blockShapes(df)
      assert(shape.r == 1 && shape.keys >= spark.sparkContext.defaultParallelism,
        s"planned $shape")
      assert(tasksOf("BlockMatMul gemm") == Seq(shape.keys), stages)
      assert(tasksOf("BlockMatMul partial C").isEmpty, stages)
      assert(canon(df) == want)

      val split = MatrixOps.blockMatmul(a, b, 8, 2, 3, 2)
      run(split)
      assert(tasksOf("BlockMatMul gemm") == Seq(12), stages)
      assert(tasksOf("BlockMatMul partial C") == Seq(6), stages)
      assert(canon(split) == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a MatMul node planned again under another broadcast setting takes that setting's route") {
    // The strategy keeps each node's row-join subtree for AQE's re-plans; a
    // later query over the same frame must still take the route its own
    // conf selects, not the one kept from the earlier query.
    import org.apache.spark.sql.functions.col
    val df = planned()
    def route(): Seq[graft.plans.BlockShape] = {
      val q = df.filter(col("v") > 0L)
      executedPlan(q)
      blockShapes(q)
    }
    assert(route().isEmpty, "expected the row join first")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(route().nonEmpty, "the block route must be planned once broadcast is off")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cost statistics flip the physical path across the m1 size sweep") {
    // Planning only (no execution): MatMulStrategy decides from the
    // children's size estimates, before AQE ever runs — so the choice is
    // visible in the initial physical plan.
    def shapesFor(n: Int) = blockShapes(MatrixOps.multiplyPlanned(
      MatrixGen.matA(spark, n, n), MatrixGen.matB(spark, n, n)))
    // 50²: COO estimate ~0.2 MB — a broadcastable side, row join.
    assert(shapesFor(50).isEmpty, "50² should plan as the broadcast row join")
    // 1000²/2000² (the bench's m1_sweep_1000/2000 rungs): estimates
    // (~64 MB / ~256 MB) clear the broadcast threshold on BOTH sides, so
    // the strategy flips to the block operator — the dense-operand shape
    // whose row join would shuffle m·n·p rows.
    assert(shapesFor(1000).size == 1, "1000² should plan as block GEMM")
    assert(shapesFor(2000).size == 1, "2000² should plan as block GEMM")
  }

  test("the planner derives the block tile width from operand statistics") {
    // The layout is BlockShape.choose's, over the SAME size statistics the
    // broadcast decision reads, and the planned node carries it. The
    // pinned values encode Catalyst's size model for the crossJoin-of-
    // ranges COO children (nnz ≈ sizeInBytes/32 ⇒ n ≈ 2.3× the true n) —
    // if the size model shifts across Spark versions, this spec is MEANT
    // to flag it.
    import graft.plans.BlockShape
    val cores = spark.sparkContext.defaultParallelism
    val budget = BlockShape.taskBudget(spark)
    def shapeFor(n: Int): BlockShape = {
      val Seq(shape) = blockShapes(MatrixOps.multiplyPlanned(
        MatrixGen.matA(spark, n, n), MatrixGen.matB(spark, n, n)))
      shape
    }
    /** Bytes of tiles one key holds on an n×n product under `s`. */
    def keyBytes(s: BlockShape, n: Long): Long = {
      def g(split: Int) = ((n + s.bs - 1) / s.bs + split - 1) / split
      val k = g(s.r)
      (g(s.p) * k + k * g(s.q) + 1) * s.bs.toLong * s.bs * 8
    }
    // 1000² (estimated n = 2309): the widest tile, one key per core as a
    // 2×2 output split, and no partial-tile reduce.
    val s1 = shapeFor(1000)
    assert(s1.bs == BlockShape.MaxTile && s1.r == 1 && s1.p == s1.q &&
      s1.keys >= cores && s1.budget == budget, s"1000²: $s1")
    // 4000² and 8000²: bs stays at the cap however large the operands
    // get; the grid widens instead, and each key's tiles stay under the
    // per-task bound.
    Seq(4000, 8000).foreach { n =>
      val s = shapeFor(n)
      assert(s.bs == BlockShape.MaxTile && s.keys >= cores, s"$n²: $s")
      assert(keyBytes(s, n) <= budget,
        s"$n²: $s holds ${keyBytes(s, n)} B per key, budget $budget")
    }
  }

  test("the densify buffer stays within its bound on a scattered 4000² operand") {
    // Cells arrive in a scattered order, so a partition touches every tile
    // of the operand long before any is complete. The fold flushes when the
    // next tile would pass the bound: the buffer never holds more than the
    // budget, and the partial tiles still sum to the operand.
    import graft.plans.BlockMatMulExec
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.execution.metric.SQLMetrics
    val (n, bs) = (4000L, 512)
    val budget = 8L * bs * bs * 8
    val cells = n * n
    val row = new GenericInternalRow(3)
    val rows = Iterator.range(0, cells.toInt).map { x =>
      val c = (x * 7919L) % cells // 7919 is prime, so this permutes the cells
      val (i, j) = (c / n, c % n)
      row.update(0, i); row.update(1, j); row.update(2, (i * 31 + j * 17 + 7) % 97)
      row
    }
    val time = SQLMetrics.createNanoTimingMetric(spark.sparkContext, "densify time")
    val peak = SQLMetrics.createSizeMetric(spark.sparkContext, "densify buffer peak")
    var parts = 0L
    var total = 0L
    BlockMatMulExec.densify(rows, bs, budget, time, peak).foreach { t =>
      val d = new Array[Long](bs * bs)
      t.addTo(d)
      parts += 1
      total += d.sum
    }
    val want = (0L until n).map(i => (0L until n).map(j => (i * 31 + j * 17 + 7) % 97).sum).sum
    assert(total == want)
    assert(peak.value > 0 && peak.value <= budget, s"peak ${peak.value} > $budget")
    assert(parts > 64, s"$parts partial tiles: the buffer never flushed")
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
