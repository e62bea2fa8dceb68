package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Matrix algebra over COO DataFrames with schema `(i: LONG, j: LONG, v: LONG)`.
  *
  * Re-expresses the reference's dense one-pass MapReduce multiply
  * (reference `mapper/main.py:24-41`, `reducer/main.py:28-32`) two ways,
  * and the planner picks per multiply ([[multiplyPlanned]]):
  *   - [[matmul]], the row join: an equi-join on the contraction index `j`
  *     followed by a partial+final hash aggregate on `(i, k)`. The
  *     reference's mapper replicates every A-element cols(B) times and
  *     every B-element rows(A) times (`mapper/main.py:26-32`), so its
  *     shuffle volume is O(|A|·p + |B|·m); the join shuffles O(|A| + |B|)
  *     rows once on `j`, then at most one partially aggregated row per
  *     (i, k) per task. With a broadcastable side it shuffles neither.
  *   - the block route, one physical operator
  *     ([[graft.plans.BlockMatMulExec]]): the mapper densifies its rows
  *     into bs×bs tiles, each tile is shuffled once to the cuboid keys
  *     that need it, and each key runs a local GEMM per tile pair that
  *     meets there (the FuseME insight, PAPERS.md:5). For dense operands
  *     this ships O(tiles) instead of the row join's m·n·p products.
  */
object MatrixOps {

  /** C = A·B. Inputs/outputs in COO form: a=(i,j,v), b=(i,j,v) read as
    * B[j,k]=v with j=row=contraction index. Result (i, k, v), exact LONG.
    * (The reference's reducer iterates the wrong bound for rectangular
    * shapes — `reducer/main.py:30`; this join formulation has no bound
    * to get wrong.)
    */
  def matmul(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("i"), col("j"), col("v").as("va"))
    val r = b.select(col("i").as("jr"), col("j").as("k"), col("v").as("vb"))
    l.join(r, col("j") === col("jr"))
      .groupBy(col("i"), col("k"))
      .agg(sum(col("va") * col("vb")).as("v"))
  }

  /** `m`'s bs×bs tiles `(bi, bj, cells)` as the block route's map side
    * folds them: per input partition, duplicate cells added, no shuffle,
    * so a tile split across partitions comes out once per partition.
    * Lets a benchmark time the densify step on its own.
    */
  private[graft] def cooToTiles(m: DataFrame, bs: Int): Dataset[(Long, Long, Array[Long])] = {
    val spark = m.sparkSession
    import spark.implicits._
    val budget = graft.plans.BlockShape.taskBudget(spark)
    val rows = m.select(col("i").cast("long"), col("j").cast("long"), col("v").cast("long"))
      .queryExecution.toRdd
    val metrics = org.apache.spark.sql.execution.metric.SQLMetrics
    val time = metrics.createNanoTimingMetric(spark.sparkContext, "densify time")
    val peak = metrics.createSizeMetric(spark.sparkContext, "densify buffer peak")
    spark.createDataset(rows.mapPartitions { it =>
      graft.plans.BlockMatMulExec.densify(it, bs, budget, time, peak).map { t =>
        val d = new Array[Long](bs * bs)
        t.addTo(d)
        (t.row, t.col, d)
      }
    })
  }

  /** C = A·B on the block route with a caller-fixed layout: bs×bs tiles,
    * the output tile grid split `p`×`q`, the contraction axis split `r`
    * ways, and `budget` bytes per task for the densify buffer (0 derives it
    * from task-slot memory). It plans the same [[graft.plans.MatMul]] node
    * as [[multiplyPlanned]], pinned to the block route with this layout,
    * so [[graft.plans.BlockMatMulExec]] is the one block implementation.
    * Result (i, k, v) holds the nonzero cells; hash-identical to [[matmul]]
    * wherever that has no cell cancelling to exact 0.
    *
    * Generalizes the reference's 1-D row/column slabs
    * (`orchestrator/main.py:88-112`) to a block grid. Any split is
    * correct: each tile triple (i, j, k) meets at exactly one key, and a
    * split wider than the tile grid only adds keys that one side never
    * reaches. R > 1 adds a reduce of partial output tiles.
    */
  def blockMatmul(a: DataFrame, b: DataFrame, bs: Int, p: Int = 1, q: Int = 1,
                  r: Int = 1, budget: Long = 0L): DataFrame = {
    val spark = a.sparkSession
    val shape = graft.plans.BlockShape(bs, p, q, r,
      if (budget > 0) budget else graft.plans.BlockShape.taskBudget(spark))
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      graft.plans.MatMul.node(a.queryExecution.analyzed,
        b.queryExecution.analyzed, Some(shape)))
      .withColumnRenamed("j", "k")
  }

  /** PLANNER-selected multiply — the one multiply dispatcher: emits a
    * [[graft.plans.MatMul]] logical node and lets
    * [[graft.plans.MatMulStrategy]] (injected via `SparkSessionExtensions`)
    * choose the physical formulation from the operands' cost statistics —
    * broadcastable side ⇒ row join (no contraction shuffle), both sides
    * big ⇒ [[graft.plans.BlockMatMulExec]] with the layout
    * [[graft.plans.BlockShape.choose]] derives. Either route yields the
    * same rows: zero cells are dropped, duplicate cells add.
    */
  def multiplyPlanned(a: DataFrame, b: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(a.sparkSession,
      graft.plans.MatMul.node(a.queryExecution.analyzed, b.queryExecution.analyzed))
      .withColumnRenamed("j", "k")

  /** (A·B)·C through NESTED planner-selected [[graft.plans.MatMul]] nodes.
    * The caller writes the left-deep chain; [[graft.plans
    * .MatMulReassociate]] rotates it right-deep at optimization time when
    * the cost statistics say the right operand is the small one — the
    * matrix-chain-ordering decision as a Catalyst rule, not caller code.
    */
  def multiplyPlannedChain(a: DataFrame, b: DataFrame, c: DataFrame): DataFrame = {
    val inner = graft.plans.MatMul.node(
      a.queryExecution.analyzed, b.queryExecution.analyzed)
    org.apache.spark.sql.GraftSqlShim.ofRows(a.sparkSession,
      graft.plans.MatMul.node(inner, c.queryExecution.analyzed))
      .withColumnRenamed("j", "k")
  }

  /** y = A·x for a COO vector x = (j, v): one equi-join on the contraction
    * index + hash aggregate on i — the building block of iterative methods
    * (power iteration, PageRank). Output is keyed (j, v) so it feeds the
    * next step directly. Per step the shuffle volume is O(|A| + |x|) on the
    * join plus one row per output component — at 100 TB, A partitioned by j
    * keeps every iteration's join co-located with the (re-broadcastable or
    * co-partitioned) vector.
    */
  def matvec(a: DataFrame, x: DataFrame): DataFrame = {
    val l = a.select(col("i"), col("j"), col("v").as("va"))
    val r = x.select(col("j").as("jr"), col("v").as("xv"))
    l.join(r, col("j") === col("jr"))
      .groupBy(col("i"))
      .agg(sum(col("va") * col("xv")).as("v"))
      .select(col("i").as("j"), col("v"))
  }

  /** k steps of power iteration y = Aᵏ·x₀ (exact LONG arithmetic — the
    * caller bounds k so values fit; the 50×50 fixture holds to k=4).
    */
  def powerIteration(a: DataFrame, x0: DataFrame, k: Int): DataFrame =
    (1 to k).foldLeft(x0)((x, _) => matvec(a, x))

  /** Damped PageRank over the NONZERO STRUCTURE of A (edge i→j where
    * A[i,j] ≠ 0), in exact fixed-point integer arithmetic so the result
    * is hash-deterministic and SQL-replayable — doubles would make the
    * per-node sums order-dependent across engines:
    * ranks scale by 10^6; each edge contributes ⌊r_src / outdeg_src⌋;
    * the damping step is r'_i = 150000 + ⌊85·Σ contribs / 100⌋
    * (d = 0.85, teleport 0.15, dangling mass dropped — documented
    * semantics of THIS operator, not a claim about full PageRank).
    *
    * Execution shape per iteration: one equi-join of the rank vector to
    * the edge list on src + one hash aggregate on dst — exactly the
    * matvec shuffle pattern ([[powerIteration]]); at scale the edge list
    * stays hash-partitioned by src across iterations, and the rank vector
    * (one LONG per node) is the only moving state.
    */
  def pageRank(a: DataFrame, nNodes: Long, iters: Int): DataFrame = {
    val spark = a.sparkSession
    // Edge list + degrees are loop-invariant: persist once instead of
    // re-deriving from `a` every iteration, and cut each iteration's
    // lineage (localCheckpoint) so the plan doesn't deepen by one
    // join+agg per round — the connectedComponents lesson; at iters=3
    // it's negligible, but the API takes arbitrary iters.
    val edges = a.filter(col("v") =!= 0)
      .select(col("i").as("src"), col("j").as("dst"))
      .withColumn("d", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist()
    val nodes = spark.range(nNodes).select(col("id").as("node"))
    var r = nodes.select(col("node"), lit(1000000L).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = edges
        .join(r.select(col("node").as("src"), col("r")), "src")
        .select(col("dst"), graft.Q.intDiv(col("r"), col("d")).as("c"))
      val in = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"), col("s"))
      r = nodes.join(in, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) +
           graft.Q.intDiv(coalesce(col("s"), lit(0L)) * 85L, lit(100L))).as("r"))
        .localCheckpoint(true)
    }
    edges.unpersist(blocking = false)
    r
  }

  /** Transpose: (i,j,v) → (j,i,v). Pure projection — no shuffle. */
  def transpose(a: DataFrame): DataFrame =
    a.select(col("j").as("i"), col("i").as("j"), col("v"))

  /** Element-wise A + B with zero-fill (full outer join on the cell key). */
  def add(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("i"), col("j"), col("v").as("va"))
    val r = b.select(col("i"), col("j"), col("v").as("vb"))
    l.join(r, Seq("i", "j"), "full_outer")
      .select(col("i"), col("j"),
        (coalesce(col("va"), lit(0L)) + coalesce(col("vb"), lit(0L))).as("v"))
  }

  /** Scalar multiply αA — narrow projection. */
  def scale(a: DataFrame, alpha: Long): DataFrame =
    a.select(col("i"), col("j"), (col("v") * alpha).as("v"))

  /** trace(A) = Σ A[i,i]. */
  def trace(a: DataFrame): DataFrame =
    a.filter(col("i") === col("j")).agg(sum(col("v")).as("trace"))

  /** Σ A[i,j]² — exact integer Frobenius norm squared. */
  def sumsq(a: DataFrame): DataFrame =
    a.agg(sum(col("v") * col("v")).as("sumsq"))
}

/** Deterministic formula-generated COO matrices.
  *
  * The reference's fixtures are random integer matrices valued 0..99
  * (`test/test.py:42-43`); for the oracle gate we need matrices both Spark
  * and DuckDB can construct bit-identically, so entries follow an affine
  * formula over the cell coordinates: v = (i·fa + j·fb + fc) mod m.
  */
object MatrixGen {
  /** The `rows`×`cols` matrix, one row per cell (exact zeros included).
    * Its plan is one leaf ([[graft.plans.FormulaMatrix]]) that reports the
    * exact shape to the planner and runs as a single `range` of rows·cols
    * cell ids projected to i = id div cols and j = id mod cols: one
    * codegen'd stage, no join.
    */
  def formula(spark: SparkSession, rows: Long, cols: Long,
              fa: Long, fb: Long, fc: Long, mod: Long): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      graft.plans.FormulaMatrix.node(rows, cols, fa, fb, fc, mod))

  /** A-side standard test matrix (values 0..96, contains exact zeros). */
  def matA(spark: SparkSession, rows: Long, cols: Long): DataFrame =
    formula(spark, rows, cols, 31, 17, 7, 97)

  /** B-side standard test matrix (values 0..88). */
  def matB(spark: SparkSession, rows: Long, cols: Long): DataFrame =
    formula(spark, rows, cols, 13, 23, 5, 89)

  /** DuckDB CTE text for the same matrices — shared by every matrix oracle. */
  def duckA(name: String, rows: Long, cols: Long): String =
    s"$name AS (SELECT i.range AS i, j.range AS j, (i.range*31 + j.range*17 + 7) % 97 AS v FROM range($rows) i, range($cols) j)"
  def duckB(name: String, rows: Long, cols: Long): String =
    s"$name AS (SELECT i.range AS i, j.range AS j, (i.range*13 + j.range*23 + 5) % 89 AS v FROM range($rows) i, range($cols) j)"
}
