package graft.plans

import graft.operators.MatrixOps
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, LogicalQueryStage, Project}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
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
    MatMul(left, right, Seq(
      AttributeReference("i", LongType)(),
      AttributeReference("j", LongType)(),
      AttributeReference("v", LongType)()), pinned)
}

/** Optimizer rule: reassociate LEFT-DEEP MatMul chains toward the cheaper
  * association — the matrix-chain-ordering decision, made from Catalyst
  * cost statistics the way join reorder is. Model: a MatMul's default
  * size estimate is the product of its children's (`BinaryNode` fallback),
  * under which the two associations of `(A·B)·C` share the `sA·sB·sC`
  * term and differ by `sA·sB` (left-deep) vs `sB·sC` (right-deep) — so
  * rotate right exactly when C is smaller than A (the small operand
  * belongs innermost, where it contracts the big ones early). Each
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

/** Plans [[MatMul]]: if either operand's estimated size fits the broadcast
  * threshold, the row-level join+aggregate wins (the join becomes a
  * broadcast hash join — no shuffle on the contraction index, and the
  * block route's tile shuffles would be pure overhead). Otherwise both
  * sides are big: the block route, [[BlockMatMulExec]], returned directly
  * as the physical node over the planned children, with the layout
  * [[BlockShape.choose]] derives from the same size statistics. Its
  * shuffle volume is O(tiles) rather than the dense row join's
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
  * its rows when it runs.
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

  /** Last block-route decision `(nnz estimate, derived n, bs)`, kept for
    * the benchmark harness. The planned [[BlockMatMulExec]] carries the
    * whole layout; read it there.
    */
  @volatile var lastDerived: Option[(BigInt, Long, Int)] = None

  /** The block route's layout for `m`, or None when a side fits the
    * broadcast threshold and the row join wins.
    */
  private def blockShape(spark: SparkSession, m: MatMul): Option[BlockShape] = {
    val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val minSide = m.left.stats.sizeInBytes.min(m.right.stats.sizeInBytes)
    if (bcThreshold > 0 && minSide <= bcThreshold) None
    else Some(choose(m.left, m.right, spark.sparkContext.defaultParallelism,
      BlockShape.taskBudget(spark)))
  }

  /** [[BlockShape.choose]] over the operands' size statistics: each is
    * read as a dense n×n COO matrix of sizeInBytes / 32 cells (3 longs +
    * row overhead, Catalyst's own size model for this schema), n from the
    * larger. The estimate runs high for range-generated operands: n =
    * 653, 1632, 3265 and 6531 for a true 400, 1000, 2000 and 4000. Tiles
    * stay ≤ 512 wide either way, and a split sized for the estimated grid
    * only leaves some keys without tiles.
    */
  private def choose(left: LogicalPlan, right: LogicalPlan, parallelism: Int,
                     budget: Long): BlockShape = {
    val rowBytes = 32
    def cells(p: LogicalPlan): BigInt = (p.stats.sizeInBytes / rowBytes).max(BigInt(1))
    def clamp(x: BigInt): Long = x.min(BigInt(Long.MaxValue)).toLong
    val nnz = cells(left).max(cells(right))
    val n = math.sqrt(clamp(nnz).toDouble).toLong.max(1L)
    val shape = BlockShape.choose(n, n, n, clamp(cells(left)), clamp(cells(right)),
      parallelism, budget)
    lastDerived = Some((nnz, n, shape.bs))
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
