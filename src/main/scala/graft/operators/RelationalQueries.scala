package graft.operators

import graft.{Gate, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Declared relational queries R1–R31 (SURVEY.md §2.2 R-table): every operator
  * family the judge checks — scan/filter/project, hash aggregate, all join
  * shapes, windows (ranking, analytic, RANGE frames, distribution), sort/
  * limit, set ops (distinct + multiset ALL), rollup/cube/pivot, distinct
  * agg, scalar functions, conditional agg, decorrelated subquery, HAVING,
  * salted skew join.
  *
  * Plans are declarative DataFrame ops: filters/projections reach the parquet
  * scan via Catalyst pushdown; small dims (region/nation) get explicit
  * broadcast hints; aggregates are partial+final hash aggregates.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  private def setOpsAll(s: SparkSession, d: String, op: String): DataFrame = {
    def keys(y: Int) = t(s, d, "lineitem")
      .filter(year(col("l_shipdate")) === y).select("l_partkey")
    val a = keys(1995)
    val b = keys(1996)
    val r = op match {
      case "except_all"    => a.exceptAll(b)
      case "intersect_all" => a.intersectAll(b)
    }
    r.orderBy("l_partkey")
  }

  private def setOps(s: SparkSession, d: String, op: String): DataFrame = {
    val auto = t(s, d, "customer").filter(col("c_mktsegment") === "AUTOMOBILE")
      .select("c_custkey")
    val rich = t(s, d, "customer").filter(col("c_acctbal") > 5000.0)
      .select("c_custkey")
    val r = op match {
      case "union"     => auto.union(rich).distinct()
      case "intersect" => auto.intersect(rich)
      case "except"    => auto.except(rich)
    }
    r.orderBy("c_custkey")
  }

  val gates: Seq[Gate] = Seq(
    // R1 — scan + range filter + projection (pushed to parquet).
    Gate("r1_filter_project", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"), Q.day(col("l_shipdate")).as("ship_day"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // R2 — pricing summary: partial+final hash aggregate with exact decimal sums.
    Gate("r2_pricing_summary", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Q.sumMoney(col("l_quantity")).as("sum_qty"),
          Q.sumMoney(col("l_extendedprice")).as("sum_base_price"),
          Q.sumDiscounted(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          Q.avg4(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  ((20000 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) + COUNT(l_quantity) * 100)
        |   // (2 * COUNT(l_quantity) * 100)) / 10000.0 AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // R3 — inner equi-join, revenue per market segment.
    Gate("r3_join_revenue", (s, d) =>
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(Q.sumMoney(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // R4 — multi-way join with broadcast dims: revenue per nation in ASIA.
    Gate("r4_multijoin_region", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Q.sumDiscounted(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy("n_name"),
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // R5 — left outer join, null-aware count: 'F'-order count per customer
    // including customers with none.
    Gate("r5_left_outer_count", (s, d) =>
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_f_orders"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, COUNT(o_orderkey) AS n_f_orders
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
        |  ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // R6 — left semi join (EXISTS).
    Gate("r6_semi_join", (s, d) =>
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // R7 — left anti join (NOT EXISTS): customers with no 'F' order.
    Gate("r7_anti_join", (s, d) =>
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // R8 — broadcast hash join of two tiny dims.
    Gate("r8_broadcast_dims", (s, d) =>
      t(s, d, "nation").join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_name", "r_name").orderBy("n_name"),
      """SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_name""".stripMargin),

    // R9 — window ranking: top-3 orders per customer by totalprice.
    Gate("r9_window_topk", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // R10 — window analytics: running sum (exact decimal) + lag per customer.
    Gate("r10_window_running", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("running_spend",
          sum(Q.dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), Q.day(col("o_orderdate")).as("order_day"),
                col("running_spend"), col("prev_price"))
        .orderBy("o_custkey", "order_day", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |                             ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
        |FROM orders ORDER BY o_custkey, order_day, o_orderkey""".stripMargin),

    // R21 — RANGE window frame (value-based, vs R10's ROWS frame): per
    // customer, spend over orders within the preceding 30 DAYS of each
    // order — peers by value distance, not row position. Day numbers are
    // exact integers (epoch days), sums exact decimal.
    Gate("r21_range_frame", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day_num"))
        .rangeBetween(-30, Window.currentRow)
      t(s, d, "orders")
        .withColumn("day_num",
          datediff(col("o_orderdate").cast("date"),
                   lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("spend_30d",
          sum(Q.dec2(col("o_totalprice"))).over(w).cast(DoubleType))
        .select(col("o_custkey"), col("o_orderkey"), col("day_num"),
                col("spend_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY o_custkey
        |             ORDER BY DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R22 — distribution window functions: ntile (equi-height bucketing),
    // percent_rank, cume_dist per customer over a TOTAL order (price,
    // orderkey) — ranks are deterministic, and both engines compute the
    // rank ratios as single IEEE divisions of exact integers, so the
    // doubles are bit-identical.
    Gate("r22_ntile", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
                ntile(4).over(w).cast("long").as("quartile"),
                percent_rank().over(w).as("pr"),
                cume_dist().over(w).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R11 — global top-10 (TakeOrderedAndProject — no full sort at scale).
    Gate("r11_top10", (s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // R12 — set operations over custkey sets (distinct semantics).
    Gate("r12_union", (s, d) => setOps(s, d, "union"),
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin),
    Gate("r12_intersect", (s, d) => setOps(s, d, "intersect"),
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin),
    Gate("r12_except", (s, d) => setOps(s, d, "except"),
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin),

    // R12b/R12c — MULTISET set operations (ALL semantics): per-element
    // multiplicity is max(0, n_a − n_b) for EXCEPT ALL and min(n_a, n_b)
    // for INTERSECT ALL — the bag algebra DISTINCT-flavored r12 can't
    // express (e.g. "how many 1995 shipments of this part exceed its 1996
    // shipments"). Duplicate output rows are identical, so the sorted
    // hash is order-stable.
    Gate("r12b_except_all", (s, d) => setOpsAll(s, d, "except_all"),
      """SELECT l_partkey FROM lineitem WHERE YEAR(l_shipdate) = 1995
        |EXCEPT ALL
        |SELECT l_partkey FROM lineitem WHERE YEAR(l_shipdate) = 1996
        |ORDER BY l_partkey""".stripMargin),
    Gate("r12c_intersect_all", (s, d) => setOpsAll(s, d, "intersect_all"),
      """SELECT l_partkey FROM lineitem WHERE YEAR(l_shipdate) = 1995
        |INTERSECT ALL
        |SELECT l_partkey FROM lineitem WHERE YEAR(l_shipdate) = 1996
        |ORDER BY l_partkey""".stripMargin),

    // R23 — salted skew join through the oracle gate: lineitem's
    // l_returnflag has THREE values across every row — the textbook
    // hot-key shape where a plain shuffle join serializes each key into
    // one task. SkewOps.saltedJoin widens the key to (flag, salt∈[0,8))
    // with a deterministic row-hash salt and an 8×-replicated dim; the
    // gate proves the salting algebra is row-for-row identical to the
    // plain join (the spec additionally asserts equivalence on skewed
    // synthetic data). At fixture scale Catalyst may still broadcast the
    // replicated dim — the correctness contract, not the task spread, is
    // what's hashed.
    Gate("r23_salted_skew_join", { (s, d) =>
      val li = t(s, d, "lineitem")
      val dim = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("flag_total"))
      SkewOps.saltedJoin(
          li.select(col("l_returnflag"), col("l_quantity")), dim,
          "l_returnflag", 8)
        .groupBy(col("l_returnflag"), col("flag_total"))
        .agg(Q.sumMoney(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
      """WITH dim AS (
        |  SELECT l_returnflag, COUNT(*) AS flag_total
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, d.flag_total,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem l JOIN dim d USING (l_returnflag)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // R25 — hand-picked GROUPING SETS through the DataFrame API
    // (Dataset.groupingSets, new in Spark 4.0 — sql3 gates the same shape
    // through the parser) with grouping_id() disambiguating which set a
    // row belongs to: detail (gid 0), per-status margin (gid 1), grand
    // total (gid 3). Plans as ONE Expand + hash aggregate — a single scan
    // for all three aggregation levels, which is exactly why grouping
    // sets beat three unioned GROUP BYs at 100 TB. NULL group keys are
    // coalesced to 'ALL' per the r13 convention.
    Gate("r25_grouping_sets", (s, d) =>
      t(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
             Q.sumMoney(col("o_totalprice")).as("total"),
             count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
                col("gid"), col("total"), col("n"))
        .orderBy("gid", "status", "priority"),
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid, status, priority""".stripMargin),

    // R26 — IGNORE NULLS analytic windows: per customer, the previous and
    // the running-latest finalized ('F') order price, carried across
    // non-F rows by LAG(.., ignoreNulls) / LAST(.., ignoreNulls). The
    // gap-carry shape (last observation carried forward) that a plain
    // LAG/LAST cannot express without a second self-join. Prices pass
    // through unchanged (no arithmetic), so doubles are bit-identical to
    // the oracle's.
    Gate("r26_ignore_nulls", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("p", when(col("o_orderstatus") === "F", col("o_totalprice")))
        .select(col("o_custkey"), col("o_orderkey"),
                lag(col("p"), 1, null, ignoreNulls = true).over(w).as("prev_f"),
                last(col("p"), ignoreNulls = true)
                  .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                  .as("last_f"))
        .orderBy("o_custkey", "o_orderkey")
    },
      // DuckDB spells IGNORE NULLS inside the argument list; the values
      // themselves pass through LAG/LAST_VALUE untouched, so DOUBLE parity
      // is exact.
      """SELECT o_custkey, o_orderkey,
        |  LAG(p, 1 IGNORE NULLS) OVER w AS prev_f,
        |  LAST_VALUE(p IGNORE NULLS) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_f
        |FROM (SELECT *, CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS p
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R28 — FULL OUTER join: per-customer finished-order vs open-order
    // spend, keys surviving from EITHER side (the churn/reconciliation
    // shape left/semi/anti can't express — a customer with only 'F'
    // orders and one with only 'O' orders both appear, zero-filled on
    // the missing side). Exercises the outer-both path of the shuffle
    // join; the mix tag pins all three match cases in the hash.
    Gate("r28_full_outer", { (s, d) =>
      val o = t(s, d, "orders")
      val f = o.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("ck_f"))
        .agg(count(lit(1)).as("n_f"),
             sum(Q.dec2(col("o_totalprice"))).as("sp_f"))
      val op = o.filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey").as("ck_o"))
        .agg(count(lit(1)).as("n_o"),
             sum(Q.dec2(col("o_totalprice"))).as("sp_o"))
      f.join(op, col("ck_f") === col("ck_o"), "full_outer")
        .select(
          coalesce(col("ck_f"), col("ck_o")).as("custkey"),
          coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("n_o"), lit(0L)).as("n_o"),
          coalesce(col("sp_f").cast("double"), lit(0.0)).as("sp_f"),
          coalesce(col("sp_o").cast("double"), lit(0.0)).as("sp_o"),
          when(col("ck_f").isNotNull && col("ck_o").isNotNull, "both")
            .when(col("ck_f").isNotNull, "f_only")
            .otherwise("o_only").as("mix"))
        .orderBy("custkey")
    },
      """WITH f AS (
        |  SELECT o_custkey, COUNT(*) AS n_f,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp_f
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |o2 AS (
        |  SELECT o_custkey, COUNT(*) AS n_o,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp_o
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT COALESCE(f.o_custkey, o2.o_custkey) AS custkey,
        |  CAST(COALESCE(n_f, 0) AS BIGINT) AS n_f,
        |  CAST(COALESCE(n_o, 0) AS BIGINT) AS n_o,
        |  CAST(COALESCE(CAST(sp_f AS DOUBLE), 0.0) AS DOUBLE) AS sp_f,
        |  CAST(COALESCE(CAST(sp_o AS DOUBLE), 0.0) AS DOUBLE) AS sp_o,
        |  CASE WHEN f.o_custkey IS NOT NULL AND o2.o_custkey IS NOT NULL
        |         THEN 'both'
        |       WHEN f.o_custkey IS NOT NULL THEN 'f_only'
        |       ELSE 'o_only' END AS mix
        |FROM f FULL OUTER JOIN o2 ON f.o_custkey = o2.o_custkey
        |ORDER BY custkey""".stripMargin),

    // R29 — the Observation API: data-quality metrics (row count, exact
    // cents total, key bounds) collected AS A SIDE EFFECT of one pass via
    // `df.observe` — the production-pipeline pattern for audit counters
    // without a second scan (vs r24's dedicated profiling query). The
    // observed values are four scalars delivered to the driver by the
    // listener bus — that is the API's contract, not a collect() of data —
    // re-shaped into a one-row frame so the oracle can hash them.
    Gate("r29_observe", { (s, d) =>
      val obs = org.apache.spark.sql.Observation()
      val observed = t(s, d, "orders").observe(obs,
        count(lit(1)).as("n_rows"),
        sum((Q.dec2(col("o_totalprice")) * 100).cast("long")).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      // Any full-pass action triggers metric delivery; count() reuses the
      // observed plan without materializing rows anywhere.
      observed.count()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("sum_cents").asInstanceOf[Long],
           m("min_key").asInstanceOf[Long], m("max_key").asInstanceOf[Long]))
        .toDF("n_rows", "sum_cents", "min_key", "max_key")
    },
      // The observed metrics are exactly the one-pass aggregate.
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS sum_cents,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders""".stripMargin),

    // R27 — collect aggregates: the per-group value SET materialized as a
    // column (the array-building half of the aggregate family — r2..r18
    // only ever reduce to scalars). collect_set is order-nondeterministic
    // by contract, so the gate pins a TOTAL order: sort_array before
    // array_join, making the result engine- and partitioning-independent.
    Gate("r27_collect", (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
               .as("priorities"),
             countDistinct(col("o_orderpriority")).as("n_distinct"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
        |    AS priorities,
        |  COUNT(DISTINCT o_orderpriority) AS n_distinct,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // R24 — one-pass column profiling (the ANALYZE TABLE / data-quality
    // audit shape): per-column null count, exact distinct count, min, max
    // over the key columns, computed in ONE scan + ONE aggregate, then
    // unpivoted with `stack` into (column, metrics) rows. Multiple exact
    // COUNT(DISTINCT)s plan as an Expand (input ×(k+1)) — the documented
    // cost of exactness; a 100 TB profiler swaps in approx_count_distinct
    // (HLL partials merge map-side) and the Expand disappears. The hashed
    // contract here is the exact numbers.
    Gate("r24_column_profile", { (s, d) =>
      val all = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                    "l_quantity")
      val tt = t(s, d, "lineitem")
        .select(all.map(c => col(c).cast("long").as(c)): _*)
      val aggs = all.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max")))
      val one = tt.agg(aggs.head, aggs.tail: _*)
      val stackExpr = s"stack(${all.size}, " + all.map(c =>
        s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
        .mkString(", ") + ") AS (column_name, n_nulls, n_distinct, min_v, max_v)"
      one.selectExpr(stackExpr).orderBy("column_name")
    },
      {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                       "l_quantity")
        cols.map { c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  MIN($c) AS min_v, MAX($c) AS max_v FROM t""".stripMargin
        }.mkString(
          "WITH t AS (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,\n" +
          "  CAST(l_partkey AS BIGINT) AS l_partkey,\n" +
          "  CAST(l_suppkey AS BIGINT) AS l_suppkey,\n" +
          "  CAST(l_linenumber AS BIGINT) AS l_linenumber,\n" +
          "  CAST(l_quantity AS BIGINT) AS l_quantity FROM lineitem)\n",
          "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    // R13 — ROLLUP with grouping flags (NULL group keys coalesced to 'ALL'
    // so null-ordering never enters the hash).
    Gate("r13_rollup", (s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Q.sumMoney(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("n"),
             grouping(col("l_returnflag")).cast("long").as("g_flag"),
             grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("status"),
                col("sum_qty"), col("n"), col("g_flag"), col("g_status"))
        .orderBy("g_flag", "g_status", "flag", "status"),
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n,
        |       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, flag, status""".stripMargin),

    // R13b — CUBE: all four grouping-set combinations (the rollup's three
    // plus the status-only margin), same NULL-coalescing conventions.
    Gate("r13b_cube", (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(Q.sumMoney(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("n"),
             grouping(col("l_returnflag")).cast("long").as("g_flag"),
             grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("status"),
                col("sum_qty"), col("n"), col("g_flag"), col("g_status"))
        .orderBy("g_flag", "g_status", "flag", "status"),
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n,
        |       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, flag, status""".stripMargin),

    // R20 — PIVOT: order-priority revenue spread per order status. The
    // value list is explicit (the 5 TPC-H priorities), so the plan is a
    // single pass of conditional aggregates — no collect-distinct step,
    // the shape that scales.
    Gate("r20_pivot", (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
               Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(Q.sumMoney(col("o_totalprice")))
        .select(col("o_orderstatus"),
                col("`1-URGENT`").as("rev_urgent"),
                col("`2-HIGH`").as("rev_high"),
                col("`3-MEDIUM`").as("rev_medium"),
                col("`4-NOT SPECIFIED`").as("rev_notspec"),
                col("`5-LOW`").as("rev_low"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_urgent,
        |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_high,
        |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_medium,
        |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_notspec,
        |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // R14 — exact distinct aggregate (expand + two-phase agg).
    Gate("r14_count_distinct", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // R14b — the HLL++ scale path of r14, HASH-GATED through a
    // deterministic verdict: sketch estimates are engine-specific, so the
    // exported row carries the EXACT distinct count, the declared ±5%
    // band, and within_band = |approx − exact|·20 ≤ exact (integer
    // arithmetic — no float compare). The estimate itself stays out of
    // the hash; the oracle computes the exact side and a literal true,
    // so a sketch drifting outside its declared band flips the boolean
    // and hash-fails the gate.
    Gate("r14b_approx_distinct", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
             approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
                lit(5L).as("band_pct"),
                (abs(col("approx_parts") - col("exact_parts")) * 20 <=
                  col("exact_parts")).as("within_band"))
        .orderBy("l_returnflag"),
      // The sketch estimate is engine-specific, so the oracle computes only
      // the deterministic half of the verdict row: the exact count, the
      // declared band, and the literal verdict the sketch must earn.
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |       CAST(5 AS BIGINT) AS band_pct, true AS within_band
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // R30 — MERGEABLE HLL sketches (Datasketches): per-status partial
    // sketches union-merged into one estimate, next to the direct
    // whole-table sketch and the exact count. This is the 100 TB distinct
    // path r14's exact Expand can't walk — partials build map-side, merge
    // associatively across any partitioning, and re-aggregate without
    // rescanning (the stored-sketch rollup pattern). Estimates are
    // engine-specific, so the gate exports the r14b verdict shape instead
    // of raw estimates: exact count, the declared ±5% band, and one
    // within_band boolean per estimate path (merged partials / direct
    // whole-table) — the oracle computes the exact side plus literal
    // trues, making the sketch's band a HASH-ENFORCED contract.
    Gate("r30_hll_merge", { (s, d) =>
      val o = t(s, d, "orders")
      val merged = o.groupBy(col("o_orderstatus"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
      val direct = o.agg(
        hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("direct_est"),
        countDistinct(col("o_custkey")).as("exact_custkeys"))
      merged.crossJoin(direct)
        .select(col("exact_custkeys"), lit(5L).as("band_pct"),
                (abs(col("merged_est") - col("exact_custkeys")) * 20 <=
                  col("exact_custkeys")).as("merged_within_band"),
                (abs(col("direct_est") - col("exact_custkeys")) * 20 <=
                  col("exact_custkeys")).as("direct_within_band"))
    },
      """SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
        |       CAST(5 AS BIGINT) AS band_pct,
        |       true AS merged_within_band, true AS direct_within_band
        |FROM orders""".stripMargin),

    // R31 — COUNT-MIN SKETCH with an ORACLE-REPLAYABLE construction: the
    // heavy-hitter frequency estimator as pure dataflow — d=4 formula-
    // seeded affine hash rows ((2k+3)·x + k²+7k+1 mod p, the MinHash
    // family) over W=1024 counters, one shuffle to build all rows, point
    // lookups estimated as the min over rows. Every step is integer
    // arithmetic both engines compute identically, so unlike R30's HLL
    // this sketch is FULLY hash-gated — estimate ≥ truth (one-sided CMS
    // error) is visible in the output next to the exact counts.
    Gate("r31_countmin", { (s, d) =>
      val p = 2147483647L // 2^31 − 1, the MinHash family prime
      val W = 1024L
      def bucket(x: org.apache.spark.sql.Column,
                 k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (((lit(2L) * k + 3L) * x + (k * k + lit(7L) * k + 1L)) % p) % W
      val o = t(s, d, "orders")
      val rows = o.select(col("o_custkey"),
                          explode(sequence(lit(0L), lit(3L))).as("k"))
        .groupBy(col("k"), bucket(col("o_custkey"), col("k")).as("b"))
        .agg(count(lit(1)).as("c"))
      val keys = o.select(col("o_custkey")).distinct()
        .orderBy(col("o_custkey")).limit(10)
        .select(col("o_custkey").as("key"),
                explode(sequence(lit(0L), lit(3L))).as("k"))
      val est = keys
        .join(rows, rows("k") === keys("k") &&
                    rows("b") === bucket(col("key"), keys("k")))
        .groupBy(col("key")).agg(min(col("c")).as("cm_est"))
      val truth = o.groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("n_true"))
      est.join(truth, "key")
        .select(col("key"), col("cm_est"), col("n_true"))
        .orderBy("key")
    },
      // Replays the CMS construction end-to-end: same affine hash rows,
      // same counters, same min-over-rows estimates — integer-exact.
      """WITH ks AS (SELECT unnest(range(0, 4)) AS k),
        |cnt AS (
        |  SELECT ks.k,
        |    ((((2*ks.k+3) * o_custkey + (ks.k*ks.k + 7*ks.k + 1))
        |      % 2147483647) % 1024) AS b,
        |    COUNT(*) AS c
        |  FROM orders CROSS JOIN ks GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT o_custkey AS key FROM orders
        |         ORDER BY 1 LIMIT 10),
        |est AS (
        |  SELECT key, MIN(c) AS cm_est
        |  FROM keys CROSS JOIN ks
        |  JOIN cnt ON cnt.k = ks.k
        |   AND cnt.b = ((((2*ks.k+3) * key + (ks.k*ks.k + 7*ks.k + 1))
        |                 % 2147483647) % 1024)
        |  GROUP BY 1),
        |truth AS (SELECT o_custkey AS key, COUNT(*) AS n_true
        |          FROM orders GROUP BY 1)
        |SELECT est.key, CAST(cm_est AS BIGINT) AS cm_est,
        |  CAST(n_true AS BIGINT) AS n_true
        |FROM est JOIN truth USING (key) ORDER BY key""".stripMargin),

    // R15 — scalar function library: string / date / math / conditional.
    Gate("r15_scalar_funcs", (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderpriority").like("%URGENT%"))
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 1)).as("prio_code"),
          concat(col("o_orderstatus"), lit("/"), col("o_orderpriority")).as("status_prio"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).cast("long").as("days_to_2002"),
          ((Q.dec2(col("o_totalprice")) * 100).cast("long") / 10000.0).as("price_hundreds"),
          abs(col("o_totalprice") - 50000.0).as("dist_from_50k"),
          when(col("o_totalprice") > 50000.0, "big").otherwise("small").as("size_class"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  UPPER(SUBSTRING(o_orderpriority, 1, 1)) AS prio_code,
        |  o_orderstatus || '/' || o_orderpriority AS status_prio,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) / 10000.0 AS price_hundreds,
        |  ABS(o_totalprice - 50000.0) AS dist_from_50k,
        |  CASE WHEN o_totalprice > 50000.0 THEN 'big' ELSE 'small' END AS size_class
        |FROM orders WHERE o_orderpriority LIKE '%URGENT%'
        |ORDER BY o_orderkey""".stripMargin),

    // R16 — conditional aggregation: urgent-revenue share per order status.
    Gate("r16_conditional_agg", (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          Q.sumCents(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")).otherwise(0.0)).as("uc"),
          Q.sumCents(col("o_totalprice")).as("tc"))
        .select(col("o_orderstatus"),
                (col("uc") / 100.0).as("urgent_rev"),
                Q.round4Ratio(col("uc"), col("tc")).as("urgent_share"))
        .orderBy("o_orderstatus"),
      """WITH g AS (
        |  SELECT o_orderstatus,
        |    CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,2))) * 100 AS BIGINT) AS uc,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS tc
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, uc / 100.0 AS urgent_rev,
        |       ((20000 * uc + tc) // (2 * tc)) / 10000.0 AS urgent_share
        |FROM g ORDER BY 1""".stripMargin),

    // R17 — correlated scalar subquery, decorrelated: orders above their
    // customer's average order value (exact decimal average).
    Gate("r17_decorrelated_subquery", { (s, d) =>
      val o = t(s, d, "orders")
      val avgByCust = o.groupBy(col("o_custkey").as("ac_custkey"))
        .agg(Q.sumCents(col("o_totalprice")).as("cc"), count(lit(1)).as("cn"))
      o.join(avgByCust, col("o_custkey") === col("ac_custkey"))
        .filter(col("o_totalprice") > col("cc") / (lit(100.0) * col("cn")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
                Q.round4Ratio(col("cc"), col("cn") * 100L).as("cust_avg"))
        .orderBy("o_orderkey")
    },
      """WITH a AS (
        |  SELECT o_custkey AS ac_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cc,
        |    COUNT(*) AS cn
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |       ((20000 * cc + cn * 100) // (2 * cn * 100)) / 10000.0 AS cust_avg
        |FROM orders JOIN a ON o_custkey = ac_custkey
        |WHERE o_totalprice > cc / (100.0 * cn)
        |ORDER BY o_orderkey""".stripMargin),

    // R18 — HAVING: post-aggregation filter.
    Gate("r18_having", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Q.sumMoney(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 254000.0)
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1, 2
        |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 254000.0
        |ORDER BY 1, 2""".stripMargin),

    // R32 — ordered-statistic aggregates: exact MEDIAN and DETERMINISTIC
    // MODE per group. `mode(expr, true)` pins ties to the lowest value —
    // the default non-deterministic mode is partitioning-dependent and
    // could never hash-gate (the same reason r27 sorts its collect_set).
    // l_quantity values are integers carried in doubles, so the even-count
    // median midpoint interpolation is exact binary arithmetic on both
    // engines (the l13 percentile ≡ quantile_cont equivalence, one level
    // up through the dedicated aggregate). Both aggregates are single-pass
    // hash aggregates with a per-group value sort inside the buffer —
    // at 100 TB the per-(flag, qty) pre-aggregation the oracle spells out
    // is the better plan shape; here the builtin demonstrates the API.
    Gate("r32_median_mode", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             median(col("l_quantity")).as("med_qty"),
             expr("mode(l_quantity, true)").as("mode_qty"))
        .orderBy("l_returnflag"),
      """WITH med AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    quantile_cont(l_quantity, 0.5) AS med_qty
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |md AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY cnt DESC, l_quantity ASC) AS rn
        |  FROM c)
        |SELECT med.l_returnflag, med.n, med.med_qty, md.mode_qty
        |FROM med JOIN md USING (l_returnflag)
        |WHERE md.rn = 1 ORDER BY 1""".stripMargin),

    // R33 — ANSI boolean aggregates: every/bool_and, any/bool_or, and
    // count_if — the data-quality predicate rollup (is EVERY row in
    // bounds, does ANY row trip the flag, how many) without CASE-WHEN
    // scaffolding. All three are plain hash aggregates; both dialects
    // share the semantics (DuckDB spells them bool_and/bool_or/count_if).
    Gate("r33_bool_agg", (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             expr("every(o_totalprice > 0)").as("all_positive"),
             expr("any(o_totalprice > 300000)").as("has_jumbo"),
             expr("count_if(o_orderpriority = '1-URGENT')").as("n_urgent"))
        .orderBy("o_orderstatus"),
      // Median replayed as quantile_cont(0.5) (the l13 equivalence); the
      // deterministic mode replayed as the (count DESC, value ASC) argmin —
      // exactly the tie the `true` flag pins on the Spark side.
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_totalprice > 300000) AS has_jumbo,
        |  CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // R34 — correlation + least-squares regression per status with EXACT
    // integer moments. Spark's corr()/regr_slope() fold doubles in
    // partition order (engine- and partitioning-dependent), so the gate
    // computes the five moments (n, Σx, Σy, Σxy, Σx², Σy²) as exact LONG
    // sums — x = whole weeks since 1992-01-01, y = whole thousand-dollars,
    // both small enough that every moment combination stays under 2^53
    // through sf0.1 — lifts the textbook combinations into DECIMAL(38,0)
    // for scale headroom, and performs the ONLY inexact steps as the same
    // short IEEE sequence both engines evaluate identically on exact
    // inputs (cast, multiply, sqrt, divide — the r22 determinism
    // argument; no ROUND convention needed at all). 100 TB: one narrow
    // projection + one hash aggregate; moments merge associatively across
    // any partitioning — the exact-arithmetic analogue of sketch
    // mergeability for second-order statistics.
    Gate("r34_corr_regr", { (s, d) =>
      val m = t(s, d, "orders")
        .select(col("o_orderstatus"),
          datediff(col("o_orderdate").cast("date"),
                   lit("1992-01-01").cast("date")).cast("long").as("days"),
          (Q.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
        .select(col("o_orderstatus"),
          expr("days div 7").as("x"), expr("cents div 100000").as("y"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(col("x")).as("sx"), sum(col("y")).as("sy"),
             sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      def D(c: Column): Column = c.cast(dec38)
      val num = (D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
        .cast("double")
      val denx = (D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx")))
        .cast("double")
      val deny = (D(col("n")) * D(col("syy")) - D(col("sy")) * D(col("sy")))
        .cast("double")
      m.select(col("o_orderstatus"), col("n"),
          (num / denx).as("slope"),
          ((col("sy").cast("double") - (num / denx) * col("sx").cast("double"))
            / col("n").cast("double")).as("intercept"),
          (num / (sqrt(denx) * sqrt(deny))).as("corr"))
        .orderBy("o_orderstatus")
    },
      // Same exact-moment formulas as the Spark side, spelled in BIGINT
      // (the combinations stay under 2^53 at gate SFs, so the double casts
      // are exact and the IEEE tail is bit-identical).
      """WITH m AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM (SELECT o_orderstatus,
        |          DATEDIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) // 7 AS x,
        |          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS y
        |        FROM orders)
        |  GROUP BY 1)
        |SELECT o_orderstatus, n,
        |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        |  CAST(n*sxy - sx*sy AS DOUBLE) / (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) * SQRT(CAST(n*syy - sy*sy AS DOUBLE))) AS corr
        |FROM m ORDER BY o_orderstatus""".stripMargin),

    // R35 — the remaining analytic window functions: first_value and
    // nth_value over the default ANSI frame (RANGE UNBOUNDED PRECEDING →
    // CURRENT ROW: nth_value is NULL until the frame reaches n rows —
    // semantics both engines share verbatim), plus lead with an explicit
    // default. Total (price desc, orderkey) order makes every value
    // deterministic; prices pass through unchanged (no arithmetic), so
    // DOUBLE parity with the oracle is exact (the r26 argument).
    Gate("r35_nth_value", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
                first_value(col("o_totalprice")).over(w).as("top_price"),
                nth_value(col("o_totalprice"), 3).over(w).as("third_price"),
                lead(col("o_totalprice"), 1, -1.0).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  FIRST_VALUE(o_totalprice) OVER w AS top_price,
        |  NTH_VALUE(o_totalprice, 3) OVER w AS third_price,
        |  COALESCE(LEAD(o_totalprice, 1) OVER w, -1.0) AS next_price
        |FROM orders WHERE o_custkey % 10 = 0
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R36 — equi-width value histogram via `width_bucket`: the
    // distribution-profiling staple (R24 profiles nulls/distincts/bounds;
    // this profiles SHAPE) every warehouse runs before choosing join
    // strategies or partition ranges. One narrow projection + one hash
    // aggregate over ≤ n+2 groups — shuffle volume is bucket-count-bound,
    // independent of table size, so the op is trivially 100 TB-safe.
    // Determinism: cents are exact LONGs; Spark's width_bucket evaluates
    // bucket = trunc(n·(v−lo)/(hi−lo)) + 1 as one double multiply and one
    // double divide on exactly-representable integers — DuckDB has no
    // width_bucket, so the oracle replays the SAME two IEEE ops in the
    // same order (the r22/r34 bit-identical-short-sequence argument; a
    // histogram spec additionally pins Spark's width_bucket ≡ the replayed
    // formula on planted boundary-exact values).
    Gate("r36_histogram", { (s, d) =>
      val cents = (Q.dec2(col("o_totalprice")) * 100).cast("long")
      t(s, d, "orders")
        .select(cents.as("cents"))
        .select(col("cents"),
                expr("width_bucket(cents, 0L, 50000000L, 10)").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
             sum(col("cents")).as("sum_cents"),
             min(col("cents")).as("min_cents"),
             max(col("cents")).as("max_cents"))
        .orderBy("bucket")
    },
      // DuckDB has no width_bucket; replay Spark's exact evaluation —
      // trunc(n·(v−lo)/(hi−lo)) + 1 as the same double multiply-then-divide
      // on exactly-representable integers (bit-identical on both engines).
      """WITH c AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CASE WHEN cents >= 50000000 THEN CAST(11 AS BIGINT)
        |            WHEN cents < 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(trunc((10.0 * cents) / 50000000.0) AS BIGINT) + 1
        |       END AS bucket,
        |  COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // R37 — inverse-distribution quartiles via ANSI `percentile_disc`
    // (Spark's WITHIN GROUP surface): the discrete percentile RETURNS A
    // VALUE PRESENT IN THE DATA (smallest v with cume_dist ≥ p), so unlike
    // percentile_cont there is no interpolation arithmetic to disagree on —
    // the gate exports exact 2-dec money values. The oracle does not trust
    // DuckDB's quantile_disc indexing convention; it replays the ANSI
    // definition literally (cume_dist window + MIN-over-threshold), so
    // this gate pins Spark's implementation TO THE STANDARD, not to
    // another engine's reading of it. At 100 TB: one sort-based aggregate
    // per group — same shape as any exact-percentile job; the scale path
    // is l13b's approx_percentile (declared there).
    Gate("r37_percentile_disc", { (s, d) =>
      // ANSI definition computed DIRECTLY (round 16, guide §2.3 "shuffle
      // fewer bytes"): three `percentile_disc WITHIN GROUP` aggregates
      // each buffer EVERY group value independently and ship that buffer
      // through the exchange — the same column serialized 3× (measured
      // 2.97 s at sf0.1 with the r15 spread already applied). The
      // inverse distribution the gate pins is "smallest v with
      // cume_dist ≥ p" — the exact formulation the DuckDB oracle replays
      // — so compute it that way: ONE cume_dist window (each row crosses
      // the exchange once), then min-over-threshold in a hash aggregate
      // that reuses the window's partitioning (§2.4 — no second
      // exchange). Values compare as the same IEEE doubles on both
      // engines (cume_dist is an exact-long ratio), so the pick is
      // bit-identical to percentile_disc's.
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
        .withColumn("cd", cume_dist().over(w))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("cd") >= 0.25, col("v"))).as("pd25"),
          min(when(col("cd") >= 0.5, col("v"))).as("pd50"),
          min(when(col("cd") >= 0.75, col("v"))).as("pd75"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"),
                Q.dec2(col("pd25")).cast("double").as("p25"),
                Q.dec2(col("pd50")).cast("double").as("p50"),
                Q.dec2(col("pd75")).cast("double").as("p75"),
                col("n_rows"))
        .orderBy("l_returnflag")
    },
      // ANSI definition replayed literally (NOT DuckDB's quantile_disc,
      // whose indexing convention is its own): smallest value whose
      // cume_dist reaches the fraction. cume_dist = rank/n is a correctly-
      // rounded double on both engines and the thresholds 0.25/0.5/0.75 are
      // exactly representable, so the comparison is engine-independent.
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         cume_dist() OVER (PARTITION BY l_returnflag
        |                           ORDER BY l_extendedprice) AS cd
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(CAST(MIN(CASE WHEN cd >= 0.25 THEN v END) AS DECIMAL(18,2)) AS DOUBLE) AS p25,
        |  CAST(CAST(MIN(CASE WHEN cd >= 0.5  THEN v END) AS DECIMAL(18,2)) AS DOUBLE) AS p50,
        |  CAST(CAST(MIN(CASE WHEN cd >= 0.75 THEN v END) AS DECIMAL(18,2)) AS DOUBLE) AS p75,
        |  COUNT(*) AS n_rows
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // R40 — variance / standard deviation via EXACT integer moments (the
    // r34 discipline applied to the dispersion aggregates): Spark's
    // var_samp/stddev_samp fold doubles in partition order — engine- and
    // partitioning-dependent in the last bits — so the gate sums cents
    // and squared cents exactly (DECIMAL-lifted: n·Σx² reaches ~9·10^18
    // at sf0.1, already past LONG), forms the textbook rational
    // (n·Σx² − (Σx)²)/(n(n−1)) with one half-up ROUND(4), and takes
    // stddev as sqrt of that now-identical double (IEEE sqrt is
    // correctly rounded — bit-identical on both engines given the same
    // input). Moments merge associatively — the same at-scale shape as
    // any partial-aggregate rollup.
    Gate("r40_var_stddev", { (s, d) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cents = (Q.dec2(col("l_quantity")) * 100).cast("long")
      t(s, d, "lineitem")
        .select(col("l_returnflag"), cents.as("c"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
             sum(col("c") * col("c")).as("sx2"))
        .select(col("l_returnflag"), col("n"), col("sx"), col("sx2"),
          Q.round4Ratio(
            dec(col("n")) * dec(col("sx2")) - dec(col("sx")) * dec(col("sx")),
            dec(col("n")) * dec(col("n") - 1)).as("var_cents2"))
        .withColumn("stddev_cents", sqrt(col("var_cents2")))
        .orderBy("l_returnflag")
    },
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(c * c) AS BIGINT) AS sx2
        |  FROM c GROUP BY 1)
        |SELECT l_returnflag, n, sx, sx2,
        |  ((20000 * (CAST(n AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx)
        |    + CAST(n AS HUGEINT) * (n - 1))
        |   // (2 * CAST(n AS HUGEINT) * (n - 1))) / 10000.0 AS var_cents2,
        |  SQRT(((20000 * (CAST(n AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx)
        |    + CAST(n AS HUGEINT) * (n - 1))
        |   // (2 * CAST(n AS HUGEINT) * (n - 1))) / 10000.0) AS stddev_cents
        |FROM m ORDER BY 1""".stripMargin),

    // R39 — trailing TIME-RANGE window frame: per-customer revenue over a
    // sliding 30-day horizon, `RANGE BETWEEN 29 PRECEDING AND CURRENT
    // ROW` over an integer DAY column. r21 proves value-range frames on
    // prices; this is the TEMPORAL range frame every retention/velocity
    // metric runs on — and unlike a rows-frame it is tie-correct by
    // construction (all orders on the same day share one frame, so the
    // result is independent of intra-day row order; a ROWS frame would be
    // nondeterministic here without a total order). Day numbers are exact
    // integers on both engines (epoch days); sums are exact cents.
    Gate("r39_trailing_window", { (s, d) =>
      val day = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-29, Window.currentRow)
      t(s, d, "orders")
        .filter(col("o_custkey") % 20 === 0)
        .select(col("o_custkey"), col("o_orderkey"), day.as("day"),
                (Q.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
                sum(col("cents")).over(w).as("cents_30d"),
                count(lit(1)).over(w).as("n_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey % 20 = 0)
        |SELECT o_custkey, o_orderkey, CAST(day AS BIGINT) AS day,
        |  CAST(SUM(cents) OVER w AS BIGINT) AS cents_30d,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R38 — running DISTINCT count over a window, which Spark (like most
    // engines) refuses natively (`COUNT(DISTINCT) OVER` is unsupported):
    // the scalable emulation is first-occurrence flags (row_number = 1
    // over (key, value)) summed over the running frame — O(1) state per
    // row instead of a per-frame set, which is the ONLY shape that
    // survives 100 TB windows (a set-per-frame materializes O(frame)
    // memory per row). The gate reports, per returnflag, how deep into
    // the shipdate-ordered stream one must read before every supplier has
    // appeared (coverage saturation) — an incremental-ingest planning
    // metric. Tie-safety: the order (shipdate, orderkey, linenumber) is a
    // total order (PK suffix), so running sums are engine-independent.
    // Round 13 moved the per-flag running sums onto the grouped two-pass
    // prefix sum; round 14 (r13 verdict item 2) goes further: the gate's
    // DECLARED rollup — n_rows, n_supps, saturation_row per flag — admits
    // an AGGREGATE-ONLY closed form, because the running-distinct curve's
    // only consumed points are its endpoints. The semantics stay the
    // oracle's window replay (first-occurrence flags summed over the
    // running frame — the O(1)-state emulation of the unsupported
    // `COUNT(DISTINCT) OVER`, still exercised as a reusable shape by
    // OrderPropSpec's multi-summand property); the ENGINE's plan derives:
    //   n_rows          = max(rn)                 = COUNT(*) per flag,
    //   n_supps         = max(running_distinct)   = COUNT(DISTINCT supp),
    //   saturation_row  = min rn where running_distinct = n_supps
    //                   = rank of the LAST supplier's first appearance
    //                   = COUNT of rows ≤ max over supps of min(order key).
    // Three hash aggregates (all map-side partial) + one 3-row broadcast —
    // no window, no sort, no data-sized partitions anywhere; the shuffles
    // carry distinct-(flag, supp) cells and 3-row flags. (shipdate,
    // orderkey, linenumber) is a total order (PK suffix), so min/max
    // struct endpoints are engine-independent.
    Gate("r38_running_distinct", { (s, d) =>
      val orderKey = struct(col("l_shipdate"), col("l_orderkey"),
                            col("l_linenumber"))
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_suppkey"), col("l_shipdate"),
                col("l_orderkey"), col("l_linenumber"))
      // One row per (flag, supp): the order key of that supplier's first
      // appearance within the flag's stream.
      val firstSeen = li.groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(min(orderKey).as("_first"))
      // 3 rows: per flag, the LAST of those first appearances (= the key
      // at which the running distinct count saturates) and the supplier
      // universe size.
      val sat = firstSeen.groupBy(col("l_returnflag"))
        .agg(max(col("_first")).as("_sat"), count(lit(1)).as("n_supps"))
      li.join(broadcast(sat), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
             max(col("n_supps")).as("n_supps"),
             sum(when(orderKey <= col("_sat"), 1L).otherwise(0L))
               .as("saturation_row"))
        .orderBy("l_returnflag")
    },
      """WITH f AS (
        |  SELECT l_returnflag,
        |    CASE WHEN row_number() OVER (PARTITION BY l_returnflag, l_suppkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber) = 1
        |         THEN 1 ELSE 0 END AS first_occ,
        |    row_number() OVER w AS rn
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber)),
        |r AS (
        |  SELECT l_returnflag, rn,
        |    SUM(first_occ) OVER (PARTITION BY l_returnflag ORDER BY rn
        |                         ROWS UNBOUNDED PRECEDING) AS running_distinct
        |  FROM f),
        |m AS (
        |  SELECT l_returnflag, rn, running_distinct,
        |    MAX(running_distinct) OVER (PARTITION BY l_returnflag) AS n_supps
        |  FROM r)
        |SELECT l_returnflag, CAST(MAX(rn) AS BIGINT) AS n_rows,
        |  CAST(MAX(n_supps) AS BIGINT) AS n_supps,
        |  CAST(MIN(CASE WHEN running_distinct = n_supps THEN rn END) AS BIGINT)
        |    AS saturation_row
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin))
}
