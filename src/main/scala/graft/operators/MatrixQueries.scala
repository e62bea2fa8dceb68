package graft.operators

import graft.Gate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Declared matrix queries M1–M13 (SURVEY.md §2.2 M-table) with their DuckDB
  * oracles. Inputs are deterministic formula matrices ([[MatrixGen]]) so both
  * engines construct identical operands; all arithmetic is exact LONG.
  */
object MatrixQueries {

  private def A50(s: SparkSession) = MatrixGen.matA(s, 50, 50)
  private def B50(s: SparkSession) = MatrixGen.matB(s, 50, 50)

  import MatrixGen.{duckA, duckB}

  private val mm50 =
    s"""WITH ${duckA("a", 50, 50)}, ${duckB("b", 50, 50)}
       |SELECT a.i AS i, b.j AS k, CAST(SUM(a.v * b.v) AS BIGINT) AS v
       |FROM a JOIN b ON a.j = b.i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    // M1 — the reference's exact live workload (50×50 dense multiply,
    // orchestrator/main.py:43-48) through the planner-selected multiply:
    // at 50² a side fits the broadcast threshold, so MatMulStrategy picks
    // the broadcast row join. Same oracle on every route — the routes are
    // result-identical (MatrixPropSpec).
    Gate("m1_matmul", (s, _) =>
      MatrixOps.multiplyPlanned(A50(s), B50(s)).orderBy("i", "k"),
      mm50),

    // M2 — same product via 2-D block partitioning + local GEMM
    // (generalizes orchestrator/main.py:88-112's slabs); hash-identical to M1.
    Gate("m2_matmul_block", (s, _) =>
      MatrixOps.blockMatmul(A50(s), B50(s), 16).orderBy("i", "k"),
      mm50),

    // M3 — rectangular shapes: the case the reference's reducer loop bound
    // gets wrong (reducer/main.py:30). 30×50 · 50×20.
    Gate("m3_matmul_rect", (s, _) =>
      MatrixOps.multiplyPlanned(MatrixGen.matA(s, 30, 50), MatrixGen.matB(s, 50, 20))
        .orderBy("i", "k"),
      s"""WITH ${duckA("a", 30, 50)}, ${duckB("b", 50, 20)}
         |SELECT a.i AS i, b.j AS k, CAST(SUM(a.v * b.v) AS BIGINT) AS v
         |FROM a JOIN b ON a.j = b.i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // M4 — sparse operands: drop exact zeros before the multiply.
    Gate("m4_matmul_sparse", (s, _) =>
      MatrixOps.multiplyPlanned(A50(s).filter(col("v") =!= 0),
                                B50(s).filter(col("v") =!= 0)).orderBy("i", "k"),
      mm50),

    // M5 — transpose (narrow, no shuffle).
    Gate("m5_transpose", (s, _) =>
      MatrixOps.transpose(A50(s)).orderBy("i", "j"),
      s"""WITH ${duckA("a", 50, 50)}
         |SELECT j AS i, i AS j, v FROM a ORDER BY 1, 2""".stripMargin),

    // M6 — element-wise add with zero-fill; and scalar multiply.
    Gate("m6_elementwise_add", (s, _) =>
      MatrixOps.add(A50(s), MatrixGen.matB(s, 50, 50)).orderBy("i", "j"),
      s"""WITH ${duckA("a", 50, 50)}, ${duckB("b", 50, 50)}
         |SELECT a.i AS i, a.j AS j, a.v + b.v AS v
         |FROM a JOIN b ON a.i = b.i AND a.j = b.j ORDER BY 1, 2""".stripMargin),
    Gate("m6_scale", (s, _) =>
      MatrixOps.scale(A50(s), 3L).orderBy("i", "j"),
      s"""WITH ${duckA("a", 50, 50)}
         |SELECT i, j, v * 3 AS v FROM a ORDER BY 1, 2""".stripMargin),

    // M7 — trace and Frobenius²: exact integer reductions.
    Gate("m7_trace_sumsq", (s, _) =>
      MatrixOps.trace(A50(s)).crossJoin(MatrixOps.sumsq(A50(s))),
      s"""WITH ${duckA("a", 50, 50)}
         |SELECT (SELECT CAST(SUM(v) AS BIGINT) FROM a WHERE i = j) AS trace,
         |       (SELECT CAST(SUM(v*v) AS BIGINT) FROM a) AS sumsq""".stripMargin),

    // M14 — matrix similarity: the Frobenius inner product ⟨A,B⟩ = Σ A∘B
    // (one (i,j) equi-join + hash aggregate) beside both squared norms,
    // finished as cos = ⟨A,B⟩/(‖A‖·‖B‖) — the r34 determinism shape on
    // the matrix core: every sum is exact LONG integers, the cosine is
    // the same 4-op IEEE tail both engines evaluate bit-identically.
    // The "how similar are two matrices/gradients/embedding tables"
    // aggregate that completes M7's single-operand norms.
    Gate("m14_matrix_cos", { (s, _) =>
      val ab = A50(s).as("a")
        .join(B50(s).as("b"), Seq("i", "j"))
        .agg(sum(col("a.v") * col("b.v")).as("sab"))
      val na = MatrixOps.sumsq(A50(s)).select(col("sumsq").as("saa"))
      val nb = MatrixOps.sumsq(B50(s)).select(col("sumsq").as("sbb"))
      ab.crossJoin(na).crossJoin(nb)
        .select(col("sab"), col("saa"), col("sbb"),
          (col("sab").cast("double") /
            (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))))
            .as("frob_cos"))
    },
      s"""WITH ${duckA("a", 50, 50)}, ${duckB("b", 50, 50)},
         |m AS (SELECT
         |  (SELECT CAST(SUM(a.v * b.v) AS BIGINT) FROM a
         |     JOIN b ON a.i = b.i AND a.j = b.j) AS sab,
         |  (SELECT CAST(SUM(v*v) AS BIGINT) FROM a) AS saa,
         |  (SELECT CAST(SUM(v*v) AS BIGINT) FROM b) AS sbb)
         |SELECT sab, saa, sbb,
         |  CAST(sab AS DOUBLE) /
         |    (SQRT(CAST(saa AS DOUBLE)) * SQRT(CAST(sbb AS DOUBLE))) AS frob_cos
         |FROM m""".stripMargin),

    // M8 — A·A self-join (alias disambiguation exercised).
    Gate("m8_matpow", (s, _) =>
      MatrixOps.multiplyPlanned(A50(s), A50(s)).orderBy("i", "k"),
      s"""WITH ${duckA("a", 50, 50)}, ${duckA("a2", 50, 50)}
         |SELECT a.i AS i, a2.j AS k, CAST(SUM(a.v * a2.v) AS BIGINT) AS v
         |FROM a JOIN a2 ON a.j = a2.i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // M10 — matrix-vector multiply iterated: y = A³·1, the power-iteration
    // shape (PageRank's inner loop). Exact LONG arithmetic throughout.
    Gate("m10_matvec_power", { (s, _) =>
      val x0 = s.range(50).select(col("id").as("j"), lit(1L).as("v"))
      MatrixOps.powerIteration(A50(s), x0, 3)
        .select(col("j").as("i"), col("v"))
        .orderBy("i")
    },
      s"""WITH ${duckA("a", 50, 50)},
         |x0 AS (SELECT range AS j, CAST(1 AS BIGINT) AS v FROM range(50)),
         |x1 AS (SELECT a.i AS j, SUM(a.v * x0.v) AS v FROM a JOIN x0 ON a.j = x0.j GROUP BY 1),
         |x2 AS (SELECT a.i AS j, SUM(a.v * x1.v) AS v FROM a JOIN x1 ON a.j = x1.j GROUP BY 1),
         |x3 AS (SELECT a.i AS j, SUM(a.v * x2.v) AS v FROM a JOIN x2 ON a.j = x2.j GROUP BY 1)
         |SELECT j AS i, CAST(v AS BIGINT) AS v FROM x3 ORDER BY 1""".stripMargin),

    // M11 — damped PageRank over matA's nonzero structure: the iterative
    // damped-linear-algebra workload (teleport + normalize) on top of
    // M10's raw power iteration, in exact fixed-point integers so the
    // 3-iteration result hashes identically on both engines.
    Gate("m11_pagerank", (s, _) =>
      MatrixOps.pageRank(A50(s), 50, 3)
        .select(col("node").as("i"), col("r"))
        .orderBy("i"),
      // Three unrolled fixed-point iterations; `//` on positive BIGINTs is
      // the same floor division Q.intDiv computes.
      {
        def step(prev: String, cur: String): String =
          s"""$cur AS (
             |  SELECT n.node,
             |    CAST(150000 + (85 * COALESCE(SUM($prev.r // deg.d), 0)) // 100
             |         AS BIGINT) AS r
             |  FROM nodes n
             |  LEFT JOIN edges e ON e.dst = n.node
             |  LEFT JOIN deg ON deg.src = e.src
             |  LEFT JOIN $prev ON $prev.node = e.src
             |  GROUP BY 1)""".stripMargin
        s"""WITH ${duckA("a", 50, 50)},
           |edges AS (SELECT i AS src, j AS dst FROM a WHERE v != 0),
           |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
           |nodes AS (SELECT range AS node FROM range(50)),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
           |${step("r0", "r1")},
           |${step("r1", "r2")},
           |${step("r2", "r3")}
           |SELECT node AS i, r FROM r3 ORDER BY 1""".stripMargin
      }),

    // M12 — the planner gate: a custom MatMul logical node whose
    // row-join-vs-block-GEMM choice is made by MatMulStrategy from cost
    // statistics (SparkSessionExtensions planner hook). Since every matrix
    // product goes through the planner it is the same query as M1; kept as
    // the declared gate of the planner hook. Shares the mm50 oracle.
    Gate("m12_matmul_planned", (s, _) =>
      MatrixOps.multiplyPlanned(A50(s), B50(s)).orderBy("i", "k"),
      mm50),

    // M13 — matrix-chain ordering as a Catalyst OPTIMIZER RULE: the caller
    // writes the left-deep chain (A·B)·C; MatMulReassociate rotates it
    // right-deep A·(B·C) at optimization time because C (50×10) is the
    // small operand — the same statistics-driven decision join reorder
    // makes, applied to the engine's own logical operator. MatMulPlanSpec
    // asserts the rotation (and its absence when the stats say no).
    Gate("m13_matmul_chain", (s, _) =>
      MatrixOps.multiplyPlannedChain(A50(s), B50(s), MatrixGen.matB(s, 50, 10))
        .orderBy("i", "k"),
      // The chain product as ONE triple join — associativity means DuckDB
      // needn't mirror either association choice.
      s"""WITH ${duckA("a", 50, 50)}, ${duckB("b", 50, 50)}, ${duckB("c", 50, 10)}
         |SELECT a.i AS i, c.j AS k, CAST(SUM(a.v * b.v * c.v) AS BIGINT) AS v
         |FROM a JOIN b ON a.j = b.i JOIN c ON b.j = c.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // M9 — ingest the reference's ACTUAL storage format (dense JSON
    // array-of-arrays, orchestrator/main.py:58-64) and multiply; the
    // fixtures hold exactly the formula matrices, so the result shares
    // the mm50 oracle. The path is relative: runs start in the checkout.
    Gate("m9_dense_json_io", (s, _) =>
      MatrixOps.multiplyPlanned(
        graft.sources.MatrixIO.readDenseJson(s, "fixtures/matrix_A_50x50.json"),
        graft.sources.MatrixIO.readDenseJson(s, "fixtures/matrix_B_50x50.json"))
        .orderBy("i", "k"),
      mm50))
}
