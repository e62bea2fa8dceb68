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
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
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
    }
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
    spark.sparkContext.addSparkListener(listener)
    try Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
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
    } finally spark.sparkContext.removeSparkListener(listener)
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
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(route().nonEmpty, "the block route must be planned once broadcast is off")
    }
  }

  test("cost statistics flip the physical path across the m1 size sweep") {
    // Planning only (no execution): MatMulStrategy decides from the
    // children's statistics, before AQE ever runs, so the choice is
    // visible in the initial physical plan. Generated operands report
    // their exact shapes, so the row join's own intermediate, nnzA·nnzB /
    // inner rows at 32 B, is priced: under the default 10 MB threshold it
    // fits at 50² (125k rows, 4 MB) and not from 70² up, where the block
    // route won every measured rung.
    def shapesFor(m: Int, k: Int, n: Int) = blockShapes(MatrixOps.multiplyPlanned(
      MatrixGen.matA(spark, m, k), MatrixGen.matB(spark, k, n)))
    Seq(100, 200, 400, 700, 1000, 2000).foreach { n =>
      assert(shapesFor(n, n, n).size == 1, s"$n² should plan as block GEMM")
    }
    assert(shapesFor(50, 50, 50).isEmpty, "50² should plan as the broadcast row join")
    assert(shapesFor(40, 30, 20).isEmpty, "40×30·30×20 should plan as the broadcast row join")
    // m13's chain: both nodes, the inner 50²·50×10 product and the outer
    // one over it, keep the row join.
    val chain = MatrixOps.multiplyPlannedChain(MatrixGen.matA(spark, 50, 50),
      MatrixGen.matB(spark, 50, 50), MatrixGen.matB(spark, 50, 10))
    assert(chain.queryExecution.optimizedPlan.collect { case m: graft.plans.MatMul => m }.size == 2)
    assert(blockShapes(chain).isEmpty, "m13's chain should plan as two row joins")
    // A sparse 10,000² operand with 20k scattered nonzeros, built from
    // `spark.range`, reports no exact shape: its 0.6 MB side fits the
    // threshold alone, and the row join stays.
    import org.apache.spark.sql.functions.col
    def sparse(seed: Long) = spark.range(20000).select(
      (col("id") * 7919L % 10000L).as("i"),
      ((col("id") * 104729L + seed) % 10000L).as("j"),
      (col("id") % 97L + 1L).as("v"))
    assert(blockShapes(MatrixOps.multiplyPlanned(sparse(1), sparse(2))).isEmpty,
      "a sparse 10,000² product should plan as the broadcast row join")
  }

  test("the planner derives the block tile width from operand statistics") {
    // Generated operands report their exact dimensions (rows·cols rows,
    // i and j ranges) in Catalyst's statistics, so the layout is
    // BlockShape.choose over the true (rows, inner, cols, nnz), the planned
    // node carries it, and lastDerived records the true largest dimension.
    import graft.plans.{BlockShape, MatMulStrategy}
    val cores = spark.sparkContext.defaultParallelism
    val budget = BlockShape.taskBudget(spark)
    def product(m: Long, k: Long, n: Long) =
      MatrixOps.multiplyPlanned(MatrixGen.matA(spark, m, k), MatrixGen.matB(spark, k, n))
    Seq((400L, 400L, 400L), (1000L, 1000L, 1000L), (4000L, 4000L, 4000L),
        (300L, 700L, 200L)).foreach { case (m, k, n) =>
      val Seq(shape) = blockShapes(product(m, k, n))
      assert(shape == BlockShape.choose(m, k, n, m * k, k * n, cores, budget),
        s"${m}×${k}·${k}×${n}: $shape")
      assert(MatMulStrategy.lastDerived.map(_._2).contains(Seq(m, k, n).max),
        s"${m}×${k}·${k}×${n}: ${MatMulStrategy.lastDerived}")
    }
    /** Bytes of tiles one key holds on an n×n product under `s`. */
    def keyBytes(s: BlockShape, n: Long): Long = {
      def g(split: Int) = ((n + s.bs - 1) / s.bs + split - 1) / split
      val k = g(s.r)
      (g(s.p) * k + k * g(s.q) + 1) * s.bs.toLong * s.bs * 8
    }
    // 1000² (a 4×4 grid of 256-wide tiles): the widest tile, one key per
    // core as a 2×2 output split, and no partial-tile reduce.
    val Seq(s1) = blockShapes(product(1000, 1000, 1000))
    assert(s1.bs == BlockShape.MaxTile && s1.r == 1 && s1.p == s1.q &&
      s1.keys >= cores && s1.budget == budget, s"1000²: $s1")
    // 4000² and 8000²: bs stays at the cap however large the operands
    // get; the grid widens instead, and each key's tiles stay under the
    // per-task bound.
    Seq(4000, 8000).foreach { n =>
      val Seq(s) = blockShapes(product(n, n, n))
      assert(s.bs == BlockShape.MaxTile && s.keys >= cores, s"$n²: $s")
      assert(keyBytes(s, n) <= budget,
        s"$n²: $s holds ${keyBytes(s, n)} B per key, budget $budget")
    }
  }

  test("an orderBy(i, j) over a generated matrix plans no exchange and no sort") {
    // The generated leaf comes out in (i, j) order, range-partitioned on
    // it, and says so; the order must hold row for row.
    Seq((50L, 50L), (37L, 1L), (1L, 37L), (1L, 1L)).foreach { case (r, c) =>
      val df = MatrixGen.matA(spark, r, c).orderBy("i", "j")
      val plan = executedPlan(df)
      Seq("Exchange", "Sort").foreach { n =>
        assert(!plan.contains(n), s"$n over a sorted ${r}×$c operand:\n$plan")
      }
      val rows = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      assert(rows == (for (i <- 0L until r; j <- 0L until c) yield (i, j)), s"${r}×$c")
    }
  }

  test("every key of a planned 400² product receives tiles") {
    // Sized from the true 400² grid, the split never reaches past it, so
    // each key's task reads tiles (an A and a B tile at least); sized
    // from a guessed n of 653, three of four keys read none.
    val read = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Long]]()
    val gemmStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "BlockMatMul gemm"))
          gemmStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.computeIfAbsent(e.stageId, _ => new java.util.concurrent.CopyOnWriteArrayList[Long]())
          .add(e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    val df = MatrixOps.multiplyPlanned(MatrixGen.matA(spark, 400, 400), MatrixGen.matB(spark, 400, 400))
    spark.sparkContext.addSparkListener(listener)
    try {
      df.queryExecution.toRdd.foreach(_ => ())
      val Seq(shape) = blockShapes(df)
      import scala.jdk.CollectionConverters._
      def perKey = gemmStages.asScala.toSeq.flatMap(s => Option(read.get(s)).toSeq.flatMap(_.asScala))
      awaitUntil(() => perKey.size == shape.keys)
      assert(shape.keys >= 2 && perKey.size == shape.keys, s"$shape: $perKey")
      assert(perKey.forall(_ >= 2), s"$shape: a key read at most one tile: $perKey")
    } finally spark.sparkContext.removeSparkListener(listener)
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

  test("the tile kernel equals the naive triple loop, cell for cell, wraps included") {
    // The kernel's inner loop compiles to SIMD, so widths on and off a
    // vector's lane count (1, 3, 7, 63, 64, 65, 130) reach both its vector
    // body and its scalar tail. Values near Long.MaxValue and
    // Long.MinValue make products and sums wrap. A carries zero cells and
    // all-zero rows (the skip-zero branch), and the accumulator starts
    // nonzero, since the kernel adds into it. Ten rounds give the JIT time
    // to compile the loop it is checking.
    import graft.plans.BlockMatMulExec
    val rnd = new scala.util.Random(20261019L)
    def value(): Long = rnd.nextInt(4) match {
      case 0 => rnd.nextInt(2001) - 1000L
      case 1 => Long.MaxValue - rnd.nextInt(1000)
      case 2 => Long.MinValue + rnd.nextInt(1000)
      case _ => rnd.nextLong()
    }
    for (round <- 1 to 10; bs <- Seq(1, 3, 7, 63, 64, 65, 130)) {
      val a = Array.tabulate(bs * bs) { x =>
        if ((x / bs) % 5 == 1 || rnd.nextInt(4) == 0) 0L else value()
      }
      val b = Array.fill(bs, bs)(value())
      val acc = Array.fill(bs, bs)(value())
      val want = Array.tabulate(bs, bs) { (i, k) =>
        var c = acc(i)(k)
        for (j <- 0 until bs) c += a(i * bs + j) * b(j)(k)
        c
      }
      BlockMatMulExec.kernel(acc, a, b, bs)
      for (i <- 0 until bs)
        assert(acc(i).sameElements(want(i)), s"round $round, bs $bs, row $i")
    }
  }

  test("kernelMadds counts bs per nonzero A cell of each tile pair that meets") {
    // A = [1 0 2; 0 0 0; 3 4 0] and B = [1 0 5; 0 1 0; 0 0 1] as nonzero
    // cells, in 2×2 tiles. A's tiles (0,0), (0,1) and (1,0) hold 1, 1 and
    // 2 nonzero cells; B's tiles are (0,0), (0,1) and (1,1). The pairs that
    // meet: A(0,0) and A(1,0) with B(0,0) and B(0,1), A(0,1) with B(1,1),
    // so 2·(1 + 2) + 1 = 7 nonzero A cells take bs = 2 multiply-adds each:
    // 14, whatever the layout.
    import spark.implicits._
    val a = Seq((0L, 0L, 1L), (0L, 2L, 2L), (2L, 0L, 3L), (2L, 1L, 4L)).toDF("i", "j", "v")
    val b = Seq((0L, 0L, 1L), (0L, 2L, 5L), (1L, 1L, 1L), (2L, 2L, 1L)).toDF("i", "j", "v")
    Seq((1, 1, 1), (2, 2, 2)).foreach { case (p, q, r) =>
      val c = MatrixOps.blockMatmul(a, b, 2, p, q, r)
      assert(canon(c) == Seq((0L, 0L, 1L), (0L, 2L, 7L), (2L, 0L, 3L), (2L, 1L, 4L), (2L, 2L, 15L)))
      val Seq(node) = blockNodes(c)
      assert(node.metrics("kernelMadds").value == 14L, s"P=$p Q=$q R=$r")
    }
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
