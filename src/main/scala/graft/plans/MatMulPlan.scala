package graft.plans

import graft.operators.MatrixOps
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Ascending, Attribute, AttributeMap, AttributeReference, Cast, IntegralDivide, KnownNotNull, Literal, Multiply, Remainder, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, ColumnStat, LeafNode, LogicalPlan, LogicalQueryStage, Project, Range, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Logical matrix-multiply operator: `C = A · B` over COO children with
  * schema `(i, j, v)` (B read as B[j,k] — row = contraction index, exactly
  * [[MatrixOps.matmul]]'s convention). The node carries INTENT only; the
  * physical formulation — row-level join+aggregate vs 2-D block GEMM — is
  * chosen by [[MatMulStrategy]] at planning time from the children's cost
  * statistics, the way Spark itself picks broadcast vs sort-merge joins
  * (SURVEY §7's declared-optional `extraStrategies` hook). `pinned` fixes
  * the block route and its layout instead ([[MatrixOps.blockMatmul]]).
  *
  * Zero rule: the result holds the NONZERO cells only. A cell whose
  * products cancel to exact 0 is dropped on both routes — the block
  * route's emission skips zero cells, so the row-join route filters
  * `v ≠ 0` — and the rows returned never depend on which route ran.
  *
  * Duplicate rule: two COO entries at the same (i, j) of an operand add,
  * as if the operand held their sum there. The row join sums their
  * products; the block route adds them while it densifies.
  *
  * `output` is a constructor parameter so the attribute ids survive
  * `copy()`/`transform` — parents resolve against these exact ids, and the
  * strategy plans both routes to produce them.
  */
case class MatMul(left: LogicalPlan, right: LogicalPlan,
                  output: Seq[Attribute],
                  pinned: Option[BlockShape] = None) extends BinaryNode {
  // The output attributes are PRODUCED here, not passed through from the
  // children — without this, CheckAnalysis counts them as missing inputs
  // (MISSING_ATTRIBUTES) because they appear in this node's expression list.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  // And the node CONSUMES every child column (both COO triples): with the
  // default (empty) references, ColumnPruning decides no child column is
  // needed and rewrites the children to zero-column Projects, which the
  // strategy then fails to resolve (i, j, v) against.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  /** With both operands' exact dimensions ([[MatMul.dims]]), the product's
    * own: rows(A)×cols(B), every cell counted, as a dense product fills
    * them. So a chain's outer node sees the inner product's true shape.
    * Otherwise Catalyst's default for a binary node.
    */
  override def stats: Statistics = (MatMul.dims(left), MatMul.dims(right)) match {
    case (Some((rows, _, _)), Some((_, cols, _))) => MatMul.exactStats(output, rows, cols)
    case _ => super.stats
  }
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): MatMul =
    copy(left = newLeft, right = newRight)
}

object MatMul {
  /** Output schema is `(i, j, v)` — IDENTICAL to the COO child schema, so
    * MatMul nodes COMPOSE: a chain `(A·B)·C` is just nested nodes, which
    * is what lets [[MatMulReassociate]] rotate associations at the
    * logical level. Public entry points rename the column-index to `k`
    * for the user-facing result ([[graft.operators.MatrixOps
    * .multiplyPlanned]]).
    */
  def node(left: LogicalPlan, right: LogicalPlan,
           pinned: Option[BlockShape] = None): MatMul =
    MatMul(left, right, coo(), pinned)

  /** Fresh `(i, j, v)` LONG attributes. */
  private[plans] def coo(): Seq[Attribute] = Seq("i", "j", "v").map(AttributeReference(_, LongType)())

  /** (rows, cols, nnz) of COO plan `p` when its statistics give them: a
    * row count (nnz, counting zero and repeated cells) and non-negative
    * min/max for its `i` and `j` columns, rows = max(i) + 1 and cols =
    * max(j) + 1. [[FormulaMatrix]] and a MatMul over two such operands
    * report them; a file source or a filtered operand does not.
    */
  private[plans] def dims(p: LogicalPlan): Option[(Long, Long, Long)] = {
    val s = p.stats
    val resolver = SQLConf.get.resolver
    def extent(name: String): Option[Long] =
      p.output.find(a => resolver(a.name, name)).flatMap(s.attributeStats.get)
        .flatMap(c => (c.min, c.max) match {
          case (Some(lo: java.lang.Number), Some(hi: java.lang.Number))
              if lo.longValue >= 0 && hi.longValue < Long.MaxValue => Some(hi.longValue + 1)
          case _ => None
        })
    for (n <- s.rowCount if n.isValidLong; r <- extent("i"); c <- extent("j"))
      yield (r, c, n.toLong)
  }

  /** Exact statistics of a dense `rows`×`cols` COO matrix over `output`
    * (i, j, v): a row per cell, i over [0, rows), j over [0, cols).
    */
  private[plans] def exactStats(output: Seq[Attribute], rows: Long, cols: Long): Statistics = {
    val cells = BigInt(rows) * cols
    def extent(n: Long) = ColumnStat(distinctCount = Some(BigInt(n)), min = Some(0L),
      max = Some(n - 1), nullCount = Some(BigInt(0)))
    Statistics(EstimationUtils.getOutputSize(output, cells), Some(cells),
      if (cells == 0) AttributeMap.empty[ColumnStat]
      else AttributeMap(Seq(output(0) -> extent(rows), output(1) -> extent(cols))))
  }
}

/** The leaf [[graft.operators.MatrixGen.formula]] builds: the `rows`×`cols`
  * COO matrix v = (i·fa + j·fb + fc) mod `mod` over every cell. It reports
  * exact statistics ([[MatMul.exactStats]]), the shape [[MatMulStrategy]]
  * plans a product from, and is planned as [[expand]] under
  * [[FormulaMatrixExec]].
  */
case class FormulaMatrix(rows: Long, cols: Long, fa: Long, fb: Long, fc: Long,
                         mod: Long, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  require(rows >= 0 && cols >= 0, s"a matrix needs rows, cols ≥ 0, got $rows×$cols")
  private val cells = Math.multiplyExact(rows, cols)

  override def newInstance(): FormulaMatrix = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = MatMul.exactStats(output, rows, cols)

  /** One range of rows·cols cell ids projected to i = id div cols, j = id
    * mod cols and v, under this node's attribute ids: one codegen'd stage.
    */
  def expand: LogicalPlan = {
    val range = Range(0, cells, 1, None)
    val id = range.output.head
    val i = KnownNotNull(IntegralDivide(id, Literal(cols)))
    val j = KnownNotNull(Remainder(id, Literal(cols)))
    val v = Remainder(Add(Add(Multiply(i, Literal(fa)), Multiply(j, Literal(fb))),
      Literal(fc)), Literal(mod))
    Project(Seq(i, j, v).zip(output).map { case (e, a) =>
      Alias(e, a.name)(exprId = a.exprId)
    }, range)
  }
}

object FormulaMatrix {
  /** i and j are never null, as over a range's `id`: without that,
    * Catalyst infers `isnotnull` filters on them from each join that uses
    * them, and two uses of one operand no longer share an exchange.
    */
  def node(rows: Long, cols: Long, fa: Long, fb: Long, fc: Long, mod: Long): FormulaMatrix =
    FormulaMatrix(rows, cols, fa, fb, fc, mod, MatMul.coo().zipWithIndex.map {
      case (a, c) => if (c < 2) a.withNullability(false) else a
    })
}

/** The physical [[FormulaMatrix]]: its planned [[FormulaMatrix.expand]]
  * (a projection over a range), with the order Spark cannot see through
  * i = id div cols, j = id mod cols. Cell ids ascend within each range
  * slice and from one slice to the next, and so does (i, j): the rows come
  * out sorted by (i, j) and range-partitioned on it, and an `orderBy("i",
  * "j")` over a generated matrix needs no exchange, no sampling job and no
  * sort. The node adds no code to its codegen stage.
  */
case class FormulaMatrixExec(child: SparkPlan, cells: Long)
    extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  private def order: Seq[SortOrder] = output.take(2).map(SortOrder(_, Ascending))
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = child.outputPartitioning.numPartitions match {
    case n if cells == 0 || n < 1 => child.outputPartitioning
    case 1 => SinglePartition
    case n => RangePartitioning(order, n)
  }

  private def codegenChild = child.asInstanceOf[CodegenSupport]
  override def inputRDDs(): Seq[RDD[InternalRow]] = codegenChild.inputRDDs()
  override protected def doProduce(ctx: CodegenContext): String = codegenChild.produce(ctx, this)
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): FormulaMatrixExec =
    copy(child = newChild)
}

/** Optimizer rule: reassociate LEFT-DEEP MatMul chains toward the cheaper
  * association — the matrix-chain-ordering decision, made from Catalyst
  * cost statistics the way join reorder is. Model: a product costs the
  * product of its operands' sizes, under which the two associations of
  * `(A·B)·C` share the `sA·sB·sC` term and differ by `sA·sB` (left-deep)
  * vs `sB·sC` (right-deep) — so rotate right exactly when C is smaller
  * than A (the small operand belongs innermost, where it contracts the big
  * ones early). sA and sC are the operands' `sizeInBytes`. For a leaf
  * that is its own statistic; when A is itself a product (a longer chain)
  * it is [[MatMul.stats]]: the dense rows×cols size when both of A's
  * operands report exact dimensions, else Catalyst's default for a binary
  * node, the product of its operands' sizes. The shared-term argument is
  * exact for leaf operands; over an inner product it holds only as far
  * as that reported size stands for the product's cost. Each
  * rotation strictly shortens the left spine, so the fixed-point batch
  * terminates; a rotated plan no longer matches the pattern. The top
  * node keeps its attribute ids (parents resolve against them); the new
  * inner node mints fresh ones. A pinned node is left where its caller
  * put it.
  */
object MatMulReassociate
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case MatMul(MatMul(a, b, _, None), c, out, None)
        if c.stats.sizeInBytes < a.stats.sizeInBytes =>
      MatMul(a, MatMul.node(b, c), out)
  }
}

/** Plans [[MatMul]]: the row-level join+aggregate wins while one operand
  * fits the broadcast threshold and so does the join's own intermediate
  * (the join becomes a broadcast hash join — no shuffle on the
  * contraction index, and the block route's tile shuffles would be pure
  * overhead). Otherwise the block route, [[BlockMatMulExec]], returned
  * directly as the physical node over the planned children, with the
  * layout [[BlockShape.choose]] derives from the operands' dimensions.
  * Its shuffle volume is O(tiles) rather than the dense row join's
  * |A⋈B| = m·n·p intermediate.
  *
  * AQE plans the node once up front and again after every query stage
  * completes. A re-plan of the block route only reruns the cost function.
  * The row-join route composes [[MatrixOps.matmul]] into an analyzed subtree
  * handed back via `planLater`, with a final Project pinning its output to
  * the node's attribute ids. Analyzing it takes a noticeable share of a
  * small query, so it is built once per node and kept in a tag, and each
  * re-plan reuses it. The tag holds the children it was built from, so a
  * node whose children AQE has rewritten (a finished broadcast stage
  * inside an operand) gets a fresh one. A later query over the same frame
  * optimizes its own copy of the node, so it decides its route afresh.
  *
  * It also plans the product's second kernel, [[DensePairs]], as
  * [[DensePairsExec]]. Its grid needs the row count, which only exists
  * once the per-document aggregate's stage has run, so AQE's re-plan
  * after that stage sizes the grid; with no such stage the node counts
  * its rows when it runs. And it plans the generated operand leaf,
  * [[FormulaMatrix]], as the range projection it stands for
  * ([[FormulaMatrixExec]]).
  */
class MatMulStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: MatMul =>
      m.pinned.orElse(MatMulStrategy.blockShape(spark, m)) match {
        case Some(shape) =>
          BlockMatMulExec(planLater(coo(m.left)), planLater(coo(m.right)),
            m.output, shape) :: Nil
        case None =>
          val joined = m.getTagValue(MatMulStrategy.rowJoinTag).collect {
            case (l, r, plan) if l.eq(m.left) && r.eq(m.right) => plan
          }.getOrElse {
            val plan = rowJoin(m)
            m.setTagValue(MatMulStrategy.rowJoinTag, (m.left, m.right, plan))
            plan
          }
          planLater(joined) :: Nil
      }
    case d: DensePairs =>
      // The rows AQE measured under the node: the per-document aggregate's
      // shuffle records, whose partial aggregates bound the rows from above.
      val rows = d.child.collectFirst {
        case s: LogicalQueryStage if s.isMaterialized => s.stats.rowCount
      }.flatten.map(_.toLong)
      DensePairsExec(planLater(d.child), d.output, d.codes, d.t, d.threshold,
        d.symmetric, d.pinned, rows) :: Nil
    case g: FormulaMatrix =>
      FormulaMatrixExec(planLater(g.expand), Math.multiplyExact(g.rows, g.cols)) :: Nil
    case _ => Nil
  }

  /** `p`'s (i, j, v) columns as LONGs in that order; `p` itself when it
    * already is exactly that.
    */
  private def coo(p: LogicalPlan): LogicalPlan = {
    val resolver = spark.sessionState.conf.resolver
    val cols = Seq("i", "j", "v").map(n => p.output.find(a => resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"MatMul operand needs columns (i, j, v), got ${p.output.map(_.name).mkString(", ")}")))
    if (cols == p.output && cols.forall(_.dataType == LongType)) p
    else Project(cols.map(a =>
      if (a.dataType == LongType) a else Alias(Cast(a, LongType), a.name)()), p)
  }

  private def rowJoin(m: MatMul): LogicalPlan = {
    val a = GraftSqlShim.ofRows(spark, m.left)
    val b = GraftSqlShim.ofRows(spark, m.right)
    val joined = MatrixOps.matmul(a, b).filter(col("v") =!= 0L)
      .queryExecution.analyzed
    Project(
      m.output.zip(joined.output).map { case (target, src) =>
        Alias(src, target.name)(exprId = target.exprId)
      }, joined)
  }
}

object MatMulStrategy {
  /** A node's row-join subtree with the children it was built from. See
    * [[MatMulStrategy]].
    */
  private val rowJoinTag =
    TreeNodeTag[(LogicalPlan, LogicalPlan, LogicalPlan)]("graft.matmul.rowJoin")

  /** Last block-route decision `(nnz, n, bs)`: the larger operand's cell
    * count, its largest dimension (the true one when the operands report
    * exact dimensions) and the tile width. Kept for the benchmark harness;
    * the planned [[BlockMatMulExec]] carries the whole layout.
    */
  @volatile var lastDerived: Option[(BigInt, Long, Int)] = None

  /** Catalyst's size of a row of three longs. */
  private val RowBytes = 32

  /** A product's operand shapes: A `rows`×`inner` with `nnzA` cells, B
    * `inner`×`cols` with `nnzB`.
    */
  private case class Operands(rows: Long, inner: Long, cols: Long, nnzA: Long, nnzB: Long) {
    /** Rows the row join's contraction join produces: each of A's cells
      * meets B's row of its column, nnzB / inner cells on average.
      */
    def joinRows: Double = nnzA.toDouble * nnzB / inner.max(1L)
  }

  /** The operands' exact shapes ([[MatMul.dims]]), when both report them. */
  private def exact(left: LogicalPlan, right: LogicalPlan): Option[Operands] =
    for ((rows, ka, nnzA) <- MatMul.dims(left); (kb, cols, nnzB) <- MatMul.dims(right))
      yield Operands(rows, ka.max(kb), cols, nnzA, nnzB)

  /** Without exact shapes, each operand is read as a dense n×n matrix of
    * sizeInBytes / 32 cells, n from the larger. Catalyst's estimate runs
    * high through joins and low through projections of a range, so this
    * only sizes the layout; a split sized for a wrong grid leaves some
    * keys without tiles or tiles narrower than they could be.
    */
  private def squareModel(left: LogicalPlan, right: LogicalPlan): Operands = {
    def cells(p: LogicalPlan): Long =
      (p.stats.sizeInBytes / RowBytes).max(BigInt(1)).min(BigInt(Long.MaxValue)).toLong
    val (nnzA, nnzB) = (cells(left), cells(right))
    val n = math.sqrt(nnzA.max(nnzB).toDouble).toLong.max(1L)
    Operands(n, n, n, nnzA, nnzB)
  }

  /** The block route's layout for `m`, or None when the row join wins: a
    * side fits the broadcast threshold and so does the join's own
    * intermediate, [[Operands.joinRows]] at 32 bytes a row. Under the
    * default 10 MB threshold dense operands fail the second test from 70²
    * up; warm on `local[4]` the block route ran 400² in 0.25 s against
    * the row join's 1.80 s, and 700² in 0.30 s against 7.17 s. The
    * intermediate needs the operands' exact shapes; without them (a file
    * source, a filtered operand) the side sizes decide alone, since the
    * square model would take a sparse operand for a dense one.
    */
  private def blockShape(spark: SparkSession, m: MatMul): Option[BlockShape] = {
    val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val minSide = m.left.stats.sizeInBytes.min(m.right.stats.sizeInBytes)
    def joinFits = exact(m.left, m.right).forall(_.joinRows * RowBytes <= bcThreshold)
    if (bcThreshold > 0 && minSide <= bcThreshold && joinFits) None
    else Some(choose(m.left, m.right, spark.sparkContext.defaultParallelism,
      BlockShape.taskBudget(spark)))
  }

  /** [[BlockShape.choose]] over the operands' exact shapes, or the square
    * model's when they do not report them.
    */
  private def choose(left: LogicalPlan, right: LogicalPlan, parallelism: Int,
                     budget: Long): BlockShape = {
    val o = exact(left, right).getOrElse(squareModel(left, right))
    val shape = BlockShape.choose(o.rows, o.inner, o.cols, o.nnzA, o.nnzB,
      parallelism, budget)
    lastDerived = Some((BigInt(o.nnzA.max(o.nnzB)), o.rows.max(o.inner).max(o.cols), shape.bs))
    shape
  }

  /** The cuboid split P the cost function picks for these operands on
    * `parallelism` cores. `bs` and `headroom` are ignored: the tile width
    * is part of the same choice, and the key target is the core count.
    */
  def deriveReplication(left: LogicalPlan, right: LogicalPlan, bs: Int,
                        parallelism: Int, headroom: Int = 1): Int =
    choose(left, right, parallelism, BlockShape.taskBudget(SparkSession.active)).p

  /** Always 1: the cost function takes its key target from the core
    * count. Kept for callers of [[deriveReplication]]'s old signature.
    */
  def replicationHeadroom(spark: SparkSession): Int = 1
}
