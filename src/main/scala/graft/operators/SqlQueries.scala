package graft.operators

import graft.{Engine, Gate, Scratch}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declared queries routed through the engine's SECOND entry point —
  * `spark.sql(...)` over the registered fixture views ([[Engine.sql]],
  * SURVEY.md §3.2 entry point 2) — so the SQL surface (view registration,
  * the events view's microsecond TimestampType re-typing, ANSI aggregate
  * parsing) sits inside the oracle gate rather than being declared but
  * unexercised (VERDICT r3 "What's missing" 4).
  *
  * Statements follow the same determinism conventions as the DataFrame
  * queries (graft.Q): DECIMAL casts before SUM, total ORDER BY, aliases
  * identical on both engines.
  */
object SqlQueries {

  // sql22: one statement, both engines verbatim (WINDOW clause is
  // dialect-shared). CAST(... AS BIGINT) pins ROW_NUMBER (Spark INT) and
  // DuckDB's HUGEINT window SUM/COUNT to one exported type.
  private val WindowClauseSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_custkey % 20 = 0)
      |SELECT o_custkey, o_orderkey, cents,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
      |  CAST(SUM(cents) OVER w AS BIGINT) AS run_cents,
      |  CAST(COUNT(*) OVER w2 AS BIGINT) AS n_orders,
      |  CAST(MAX(cents) OVER w2 AS BIGINT) AS max_cents
      |FROM o
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey ASC),
      |       w2 AS (PARTITION BY o_custkey)
      |ORDER BY o_custkey, rn""".stripMargin

  val gates: Seq[Gate] = Seq(
    // Pricing-summary shape (R2 family) parsed from ANSI SQL: exact
    // DECIMAL sums exported as DOUBLE, ordinal group-by.
    Gate("sql1_pricing", (s, d) => Engine.sql(s, d,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Explicit GROUPING SETS through the parser — the grouping-set shape
    // neither ROLLUP (r13) nor CUBE (r13b) covers: two hand-picked sets,
    // (returnflag) and (linestatus), no grand total. SQL-only surface: the
    // DataFrame API exposes only rollup/cube, so the parser IS the
    // operator's entry point.
    Gate("sql3_grouping_sets", (s, d) => Engine.sql(s, d,
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY flag, status""".stripMargin),
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY flag, status""".stripMargin),

    // The engine's custom native expression surface through the PARSER:
    // vec_dot is an extension-injected codegen'd Catalyst expression
    // (GraftExtensions.injectFunction), and this statement is the gate
    // proving the SQL registration resolves and computes. Self-dot is the
    // squared L2 norm, accumulated in index order — bit-identical to the
    // oracle's list_reduce fold, so MAX/MIN over exact doubles is
    // hash-stable with no rounding needed.
    Gate("sql4_vec_norms", (s, d) => Engine.sql(s, d,
      """SELECT label,
        |  MAX(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |              CAST(embedding AS ARRAY<DOUBLE>))) AS max_sq_norm,
        |  MIN(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |              CAST(embedding AS ARRAY<DOUBLE>))) AS min_sq_norm,
        |  COUNT(*) AS n
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),
      // Same index-order fold as VecDot's generated loop: ((0+v1)+v2)+... —
      // identical IEEE sequence, so the doubles match bit-for-bit.
      """WITH e AS (SELECT label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
        |           FROM embeddings)
        |SELECT label,
        |  MAX(list_reduce(list_prepend(0.0, list_transform(a, v -> v * v)),
        |                  (acc, v) -> acc + v)) AS max_sq_norm,
        |  MIN(list_reduce(list_prepend(0.0, list_transform(a, v -> v * v)),
        |                  (acc, v) -> acc + v)) AS min_sq_norm,
        |  COUNT(*) AS n
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // Genuinely CORRELATED scalar subqueries through the parser —
    // complements r17, whose DataFrame form is pre-decorrelated by hand.
    // Here Catalyst's RewriteCorrelatedScalarSubquery must do the
    // decorrelation (subquery → aggregate + join) itself; the gate proves
    // the rewritten plan computes the same answer DuckDB's decorrelator
    // does. "Above the customer's average" is tested by CROSS-
    // MULTIPLICATION (price·n > Σ), all DECIMAL-exact — a decimal
    // DIVISION here would round at engine-specific scales and make the
    // filter boundary non-portable.
    Gate("sql5_correlated", (s, d) => Engine.sql(s, d,
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM orders i
        |       WHERE i.o_custkey = o.o_custkey) >
        |      (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(18,2)))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM orders i
        |       WHERE i.o_custkey = o.o_custkey) >
        |      (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(18,2)))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    // LATERAL correlated subquery with LIMIT — each customer's single
    // most expensive order. The per-group top-1 expressed as the parser's
    // lateral-join shape (complementing r9's window formulation);
    // Catalyst plans the correlated limit via DomainJoin rewrites. Total
    // tie-break (price desc, orderkey asc) keeps the picked row unique.
    Gate("sql6_lateral", (s, d) => Engine.sql(s, d,
      """SELECT c.c_custkey, t.o_orderkey, t.price
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |  FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) t
        |ORDER BY c_custkey""".stripMargin),
      // DuckDB's grammar wants ON TRUE for JOIN LATERAL; same semantics.
      """SELECT c.c_custkey, t.o_orderkey, t.price
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |  FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) t ON TRUE
        |ORDER BY c_custkey""".stripMargin),

    // Predicate subqueries through the parser: EXISTS and NOT EXISTS in
    // one WHERE clause, which Catalyst's RewritePredicateSubquery turns
    // into a left-semi plus a left-anti join — the predicate complement
    // of sql5's scalar-subquery decorrelation (r6/r7 prove the same plans
    // from the DataFrame API; this gate proves the parser route). The
    // price threshold keeps NOT EXISTS selective rather than vacuous.
    Gate("sql7_exists", (s, d) => Engine.sql(s, d,
      """SELECT c.c_mktsegment, COUNT(*) AS n_active
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND CAST(o.o_totalprice AS DECIMAL(18,2)) >
        |                        300000.00)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      """SELECT c.c_mktsegment, COUNT(*) AS n_active
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND CAST(o.o_totalprice AS DECIMAL(18,2)) >
        |                        300000.00)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // RECURSIVE CTE (Spark 4's WITH RECURSIVE) — per-customer order-chain
    // walk: anchor = each customer's first order, step = LEAD successor in
    // (o_orderdate, o_orderkey) order, accumulating exact cents along the
    // path. A path-local accumulation is deterministic regardless of
    // execution order (each row's value depends only on its unique chain
    // prefix — no reduction reordering exists to diverge), and cents are
    // monotone along the chain so MAX(cents) is the chain total. Depth is
    // bounded by max orders/customer (24 at sf0.1) — far under the default
    // recursion limit of 100. UNION ALL semantics only (Spark has no
    // UNION-distinct fixpoint yet), so the walked relation must be a DAG —
    // which the LEAD successor relation is by construction.
    // The edge list is materialized ONCE through SQL DDL (CREATE VIEW +
    // CACHE LAZY TABLE) before the loop: Spark's UnionLoop re-executes the
    // step plan every iteration, so an inline edges CTE would re-scan and
    // re-window orders 24 times (measured 17 s → ~2 s at sf0.01). LAZY
    // keeps the gate honest — the cache builds inside the timed recursion,
    // not at statement-registration time. This is the production posture
    // for iterating over a derived relation: materialize, then loop.
    Gate("sql8_recursive_chain", { (s, d) =>
      Engine.registerViews(s, d)
      val edgeSelect =
        """SELECT o_custkey, o_orderkey,
          |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          |       LEAD(o_orderkey) OVER w AS next_key,
          |       ROW_NUMBER() OVER w AS rn
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin
      // LOCAL FINISH (round 16, guide §2.4 — the r15 cc/pagerank gate
      // pattern applied to the recursion): Spark's UnionLoop re-plans and
      // re-launches the step join EVERY iteration, so a depth-24 walk pays
      // 24 job rounds of scheduling + broadcast builds on a relation that
      // is one edge row per order. When the edge relation (one row per
      // order: the window neither filters nor explodes) fits the driver,
      // walk the chains there — one window pass, one collect, a hash-map
      // pointer chase — with the recursive SQL below kept as the at-scale
      // route (a 100 TB orders table must never be collected). The route
      // is decided by that same collect, bounded at localMax + 1 rows: at
      // most localMax rows walk locally, more take the recursion.
      // `spark.graft.sql8.localMaxRows=0` forces the distributed loop (the
      // A/B + dual-route-equality-test handle); the default 1M-row cap
      // bounds the collect at ~40 MB of longs.
      // The walk mirrors the recursion's JOIN semantics exactly — follow
      // next_key to ANY edge row keyed by that o_orderkey, accumulate
      // cents/hop per produced row, MAX per customer — and bails to the
      // distributed route past the engine's own recursion depth limit so
      // pathological inputs keep Spark's error behavior.
      val localMax = math.min(graft.GraftConf.sql8LocalMaxRows.get(s),
                              Int.MaxValue - 1L).toInt
      val rows =
        if (localMax > 0) s.sql(edgeSelect).limit(localMax + 1).collect()
        else Array.empty[org.apache.spark.sql.Row]
      val localDone: Option[org.apache.spark.sql.DataFrame] =
        if (localMax > 0 && rows.length <= localMax) {
          import s.implicits._
          // o_orderkey -> edge rows (orderkeys are unique in practice, but
          // the join semantics allow fan-out; mirror them).
          val byKey = new java.util.HashMap[Long, List[Int]](rows.length * 2)
          rows.indices.foreach { i =>
            val k = rows(i).getLong(1)
            byKey.merge(k, List(i), (a, b) => b ::: a)
          }
          val best = new java.util.HashMap[Long, (Long, Long)](rows.length)
          def note(ck: Long, hop: Long, cents: Long): Unit =
            best.merge(ck, (hop, cents),
              (a, b) => (math.max(a._1, b._1), math.max(a._2, b._2)))
          val levelLimit = s.conf
            .getOption("spark.sql.cteRecursionLevelLimit").map(_.toInt)
            .getOrElse(100)
          // frontier entries: (edge row index, accumulated cents)
          var frontier = rows.indices.toList
            .filter(i => rows(i).getInt(4) == 1) // rn is ROW_NUMBER's INT
            .map(i => (i, rows(i).getLong(2)))
          frontier.foreach { case (i, c) => note(rows(i).getLong(0), 1L, c) }
          var hop = 1L
          while (frontier.nonEmpty && hop <= levelLimit) {
            hop += 1
            frontier = frontier.flatMap { case (i, c) =>
              val r = rows(i)
              if (r.isNullAt(3)) Nil
              else byKey.getOrDefault(r.getLong(3), Nil).map { j =>
                note(rows(j).getLong(0), hop, c + rows(j).getLong(2))
                (j, c + rows(j).getLong(2))
              }
            }
          }
          if (frontier.isEmpty) {
            import scala.jdk.CollectionConverters._
            Some(best.entrySet().iterator().asScala
              .map(e => (e.getKey, e.getValue._1, e.getValue._2)).toSeq
              .toDF("o_custkey", "chain_len", "chain_cents")
              .orderBy("o_custkey"))
          } else None // depth exceeds the engine limit: same route, same error
        } else None
      localDone.getOrElse {
        // At-scale route (unchanged): materialize the edge relation once
        // through SQL DDL (CREATE VIEW + CACHE LAZY TABLE) — UnionLoop
        // re-executes the step plan every iteration, so an inline edges
        // CTE would re-scan and re-window orders 24 times (measured 17 s
        // → ~2 s at sf0.01). LAZY keeps the gate honest — the cache
        // builds inside the timed recursion.
        s.sql("CREATE OR REPLACE TEMPORARY VIEW order_edges AS " +
              "SELECT /*+ COALESCE(4) */ * FROM (" + edgeSelect + ")")
        s.sql("CACHE LAZY TABLE order_edges")
        s.sql(
          """WITH RECURSIVE walk AS (
            |  SELECT o_custkey, o_orderkey, next_key, cents, CAST(1 AS BIGINT) AS hop
            |  FROM order_edges WHERE rn = 1
            |  UNION ALL
            |  SELECT /*+ BROADCAST(w) */
            |         e.o_custkey, e.o_orderkey, e.next_key, w.cents + e.cents, w.hop + 1
            |  FROM walk w JOIN order_edges e ON w.next_key = e.o_orderkey
            |)
            |SELECT o_custkey, MAX(hop) AS chain_len, MAX(cents) AS chain_cents
            |FROM walk GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
      }
    },
      // The identical statement runs in DuckDB — recursion, WINDOW clause,
      // and exact-cents arithmetic are dialect-shared.
      """WITH RECURSIVE edges AS (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         LEAD(o_orderkey) OVER w AS next_key,
        |         ROW_NUMBER() OVER w AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |),
        |walk AS (
        |  SELECT o_custkey, o_orderkey, next_key, cents, CAST(1 AS BIGINT) AS hop
        |  FROM edges WHERE rn = 1
        |  UNION ALL
        |  SELECT e.o_custkey, e.o_orderkey, e.next_key, w.cents + e.cents, w.hop + 1
        |  FROM walk w JOIN edges e ON w.next_key = e.o_orderkey
        |)
        |SELECT o_custkey, MAX(hop) AS chain_len, MAX(cents) AS chain_cents
        |FROM walk GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // GROUP BY ALL: every non-aggregate select item becomes a group key —
    // the modern-warehouse convenience both dialects share verbatim. The
    // resolution happens in the analyzer; the plan is the same hash
    // aggregate an explicit GROUP BY 1, 2 produces.
    Gate("sql12_group_by_all", (s, d) => Engine.sql(s, d,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      // Dialect-shared GROUP BY ALL — identical statement.
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // SQL22 — the named WINDOW clause: one window definition referenced by
    // several OVER clauses (ranking + running sum share `w`, the
    // whole-partition aggregates share `w2`) — the reporting-SQL staple
    // that keeps N window expressions from re-stating (and risking
    // divergent copies of) their specification. Analyzer-side sugar: the
    // plan is the same two Window nodes the inline spelling produces, and
    // both dialects share the statement verbatim. Exact cents, total
    // (cents DESC, orderkey) order ⇒ deterministic running sums.
    Gate("sql22_window_clause", (s, d) => Engine.sql(s, d, WindowClauseSql),
      // Dialect-shared named WINDOW clause — identical statement.
      WindowClauseSql),

    // SQL23 — gaps-and-islands sessionization in PURE batch SQL: the
    // classic lag → break-flag → running-sum-of-breaks island id, here
    // cutting each user's event stream at >10-minute silences. This is
    // the BATCH twin of the streaming session gates (s3 window-based,
    // s11/s13 state-based): same sessions, zero state machinery — two
    // window passes and an aggregate, all shuffle-partitioned by user_id,
    // so a 100 TB replay is N independent per-user sorted scans.
    // Determinism: (ts, event_id) is a total order, durations are exact
    // integer microseconds.
    Gate("sql23_gaps_islands", (s, d) => Engine.sql(s, d,
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    unix_micros(ts) - LAG(unix_micros(ts)) OVER w AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN gap_us IS NULL OR gap_us > 600000000 THEN 1 ELSE 0 END
        |      AS brk
        |  FROM o),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f),
        |g AS (
        |  SELECT user_id, sess, COUNT(*) AS n_events,
        |    unix_micros(MAX(ts)) - unix_micros(MIN(ts)) AS dur_us
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(MAX(n_events) AS BIGINT) AS max_events,
        |  CAST(SUM(dur_us) AS BIGINT) AS total_dur_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN gap_us IS NULL OR gap_us > 600000000 THEN 1 ELSE 0 END
        |      AS brk
        |  FROM o),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f),
        |g AS (
        |  SELECT user_id, sess, COUNT(*) AS n_events,
        |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(MAX(n_events) AS BIGINT) AS max_events,
        |  CAST(SUM(dur_us) AS BIGINT) AS total_dur_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL14 — named parameter markers: the statement is compiled with
    // `:status` / `:minprice` placeholders and the values bound at call
    // time (Spark 4 parameterized SQL) — the injection-safe templating
    // surface every SQL-embedding application needs. The oracle is the
    // same statement with the bindings inlined as literals, proving
    // parameter binding ≡ literal substitution.
    Gate("sql14_named_params", { (s, d) =>
      Engine.registerViews(s, d)
      s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM orders
          |WHERE o_orderstatus = :status AND o_totalprice >= :minprice
          |GROUP BY 1 ORDER BY 1""".stripMargin,
        Map("status" -> "F", "minprice" -> 1000))
    },
      // The bindings inlined as literals — binding ≡ substitution.
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice >= 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL15 — error-safe try_* functions (ANSI mode's graceful half):
    // try_cast turns planted unparseable strings into NULLs instead of
    // failing the job, try_divide nulls division-by-zero, try_add nulls
    // LONG overflow — each surviving NULL is COUNTED, so the gate pins
    // exactly which rows degraded. The dirty-input posture at 100 TB:
    // ANSI strictness with per-row degradation, not job-level failure.
    Gate("sql15_try_funcs", (s, d) => Engine.sql(s, d,
      """WITH r AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 3 = 0
        |         THEN 'x' || CAST(o_orderkey AS STRING)
        |         ELSE CAST(o_orderkey AS STRING) END AS ks
        |  FROM orders)
        |SELECT COUNT(*) AS n,
        |  COUNT(try_cast(ks AS BIGINT)) AS n_parsed,
        |  CAST(SUM(try_cast(ks AS BIGINT)) AS BIGINT) AS sum_parsed,
        |  COUNT(try_divide(100, k % 5)) AS n_div,
        |  COUNT(try_add(9223372036854775800, k % 10)) AS n_add
        |FROM r""".stripMargin),
      // Replays each try_* degradation as its CASE condition: %3 rows are
      // unparseable, %5=0 divides by zero, %10>7 overflows the LONG probe.
      """WITH r AS (SELECT o_orderkey AS k FROM orders)
        |SELECT COUNT(*) AS n,
        |  COUNT(CASE WHEN k % 3 != 0 THEN 1 END) AS n_parsed,
        |  CAST(SUM(CASE WHEN k % 3 != 0 THEN k END) AS BIGINT) AS sum_parsed,
        |  COUNT(CASE WHEN k % 5 != 0 THEN 1 END) AS n_div,
        |  COUNT(CASE WHEN k % 10 <= 7 THEN 1 END) AS n_add
        |FROM r""".stripMargin),

    // SQL16 — ordered string aggregation through the parser: LISTAGG
    // WITHIN GROUP (new in Spark 4) — the reporting/export staple that
    // folds a group's values into one delimited string. The input is
    // pre-DISTINCTed and the WITHIN GROUP order is total, so the string
    // is deterministic on any partitioning — the r27 sort-before-export
    // rule, here enforced by the aggregate itself instead of a wrapper.
    Gate("sql16_listagg", (s, d) => Engine.sql(s, d,
      """WITH p AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |SELECT o_orderstatus,
        |  listagg(o_orderpriority, '|')
        |    WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
        |  COUNT(*) AS n
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
      // DuckDB's grammar spells the ordered fold string_agg(... ORDER BY).
      """WITH p AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |SELECT o_orderstatus,
        |  string_agg(o_orderpriority, '|' ORDER BY o_orderpriority)
        |    AS priorities,
        |  COUNT(*) AS n
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL18 — the CATALOG/DDL surface: CREATE TABLE ... AS SELECT into an
    // explicit scratch LOCATION, INSERT INTO on top, read back through
    // `spark.table` — the managed-table lifecycle (CTAS → append → query
    // → DROP) a user expects from an engine, vs the temp-view-only route
    // every other gate rides. DDL executes eagerly inside the builder;
    // the result is materialized (localCheckpoint) before DROP TABLE so
    // the caller never sees the dropped table.
    Gate("sql18_ctas", { (s, d) =>
      withScratchTable(s, d, "graft_ctas") { (tbl, loc) =>
        s.sql(
          s"""CREATE TABLE $tbl USING parquet LOCATION '$loc' AS
             |SELECT o_orderstatus AS status, COUNT(*) AS n,
             |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |                AS BIGINT)) AS BIGINT) AS cents
             |FROM orders GROUP BY 1""".stripMargin)
        s.sql(s"INSERT INTO $tbl VALUES ('X', 0, 0)")
        s.table(tbl).orderBy("status").localCheckpoint(true)
      }
    },
      // Replays CTAS + the inserted row.
      """SELECT status, n, cents FROM (
        |  SELECT o_orderstatus AS status, COUNT(*) AS n,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |  UNION ALL SELECT 'X', 0, 0)
        |ORDER BY status""".stripMargin),

    // SQL21 — partitioned DML through the parser: CREATE a partitioned
    // table, dynamic-partition INSERT INTO the full load, then INSERT
    // OVERWRITE one STATIC partition (status='F', re-priced ×2) — the SQL
    // spelling of io10's dynamic-overwrite primitive, and the statement a
    // warehouse restatement job actually runs. The explicit PARTITION
    // clause scopes the overwrite: every other partition's rows must
    // survive byte-for-byte (the oracle restates F and keeps the rest).
    Gate("sql21_insert_overwrite", { (s, d) =>
      withScratchTable(s, d, "graft_part") { (tbl, loc) =>
        s.sql(
          s"""CREATE TABLE $tbl (k BIGINT, cents BIGINT, status STRING)
             |USING parquet PARTITIONED BY (status)
             |LOCATION '$loc'""".stripMargin)
        s.sql(
          s"""INSERT INTO $tbl
             |SELECT o_orderkey,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
             |  o_orderstatus
             |FROM orders""".stripMargin)
        s.sql(
          s"""INSERT OVERWRITE TABLE $tbl PARTITION (status = 'F')
             |SELECT o_orderkey,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 200 AS BIGINT)
             |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
        s.sql(
          s"""SELECT status, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS sum_cents
             |FROM $tbl GROUP BY 1 ORDER BY 1""".stripMargin)
          .localCheckpoint(true)
      }
    },
      // Replays the load + the static-partition restatement: F carries
      // doubled cents, every other partition its original.
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 200 AS BIGINT)
        |    ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    END) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL19 — the CACHE surface: CACHE TABLE <name> AS SELECT pins the
    // derived relation in the columnar in-memory store; the downstream
    // aggregate must scan the cache (InMemoryTableScan — asserted by
    // EngineSqlSpec), and at 100 TB this is the interactive-reuse lever
    // (pay the scan once per session, not per query). UNCACHE restores
    // session state; the result is materialized inside the cached scope.
    Gate("sql19_cache", { (s, d) =>
      graft.Engine.registerViews(s, d)
      // CACHE TABLE ... AS SELECT creates the temp view too — drop any
      // leftover from a prior pass (Bench runs each gate three times).
      s.sql("UNCACHE TABLE IF EXISTS graft_cached_orders")
      s.sql("DROP VIEW IF EXISTS graft_cached_orders")
      try {
        s.sql(
          """CACHE TABLE graft_cached_orders AS
            |SELECT o_orderstatus, o_orderpriority,
            |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
            |FROM orders WHERE o_totalprice > 1000""".stripMargin)
        s.sql(
          """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM graft_cached_orders
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
          .localCheckpoint(true)
      } finally {
        s.sql("UNCACHE TABLE IF EXISTS graft_cached_orders")
        s.sql("DROP VIEW IF EXISTS graft_cached_orders")
      }
    },
      // The cache is transparent to semantics — the oracle is the filtered
      // aggregate itself.
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // SQL20 — the HINT surface: /*+ BROADCAST */ forces the dim to the
    // build side even when the session's auto-broadcast is DISABLED —
    // the escape hatch for when statistics mislead the planner (stale
    // stats on a 100 TB fact table being the classic case). EngineSqlSpec
    // asserts the hinted plan broadcasts where the unhinted one
    // sort-merges; the result is hint-invariant (the oracle).
    Gate("sql20_hints", { (s, d) =>
      Engine.withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        Engine.sql(s, d,
          """SELECT /*+ BROADCAST(customer) */ c_mktsegment,
            |  COUNT(*) AS n,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS revenue
            |FROM orders JOIN customer ON o_custkey = c_custkey
            |GROUP BY 1 ORDER BY 1""".stripMargin)
          .localCheckpoint(true)
      }
    },
      // The hint changes the physical join, never the result.
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL24 — STATISTICS-DRIVEN PLANNING (the r8 verdict's last
    // first-order 100 TB lever with no gate): `ANALYZE TABLE ... COMPUTE
    // STATISTICS FOR COLUMNS` + `spark.sql.cbo.enabled` +
    // `spark.sql.cbo.joinReorder.enabled` re-ORDER a deliberately
    // mis-written star join. The statement joins the fact to orders
    // first — left-deep (lineitem ⋈ orders) ⋈ customer — while the
    // 'BUILDING' filter makes orders ⋈ customer the small pair; with row
    // counts and column stats in the catalog, Catalyst's
    // CostBasedJoinReorder rewrites to the cheap order, and without CBO
    // the written order stands (both plans asserted by EngineSqlSpec).
    // The 100 TB story: hints (sql20) are the escape hatch when stats
    // are stale, ANALYZE + CBO is the steady state — statistics are how
    // the planner sees a selective dim filter BEFORE paying the fact
    // shuffle. The result is plan-invariant — the hash gate pins it to
    // the plain-join oracle; only the plan moves.
    Gate("sql24_cbo_reorder", { (s, d) => cboReorder(s, d) },
      // The CTAS copies are verbatim column projections of the fixture
      // tables, so the oracle is the plain star join on the originals —
      // statistics change the PLAN, never the result.
      """SELECT o.o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |                AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL17 — PIVOT through the parser (r20 proves the DataFrame route;
    // the SQL clause is the warehouse-report spelling). Explicit value
    // list with aliases ⇒ one conditional-aggregate pass, no
    // collect-distinct planning step; a status with no orders of a listed
    // priority surfaces NULL (the SQL PIVOT contract — the oracle's
    // conditional SUM over zero rows is NULL likewise). Exact DECIMAL
    // sums exported as DOUBLE per the Q conventions.
    Gate("sql17_pivot", (s, d) => Engine.sql(s, d,
      """SELECT * FROM (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders)
        |PIVOT (CAST(SUM(p) AS DOUBLE) FOR o_orderpriority
        |       IN ('1-URGENT' AS urgent, '2-HIGH' AS high, '5-LOW' AS low))
        |ORDER BY o_orderstatus""".stripMargin),
      // Replays the pivot as conditional aggregation — SUM over zero rows
      // is NULL on both engines, matching PIVOT's missing-cell contract.
      """SELECT o_orderstatus,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DOUBLE) AS urgent,
        |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DOUBLE) AS high,
        |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DOUBLE) AS low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL13 — the USER-function registration surface: a plain Scala UDF
    // (acct_tier) and a typed Aggregator UDAF (sumsq_long) registered by
    // name and called through the parser ([[graft.functions
    // .UserFunctions]]). Deterministic integer semantics throughout, so
    // the oracle replays the tier CASE and the exact sum of squares.
    Gate("sql13_udf", { (s, d) =>
      graft.functions.UserFunctions.register(s)
      Engine.sql(s, d,
        """WITH c AS (
          |  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
          |    AS cents FROM customer)
          |SELECT acct_tier(cents) AS tier, COUNT(*) AS n,
          |  sumsq_long(cents) AS sumsq
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
    },
      // Replays the UDF tier CASE and the UDAF's exact sum of squares.
      """WITH c AS (
        |  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM customer)
        |SELECT CASE WHEN cents < 0 THEN 'debt'
        |            WHEN cents < 500000 THEN 'mid'
        |            ELSE 'high' END AS tier,
        |  COUNT(*) AS n,
        |  CAST(SUM(cents * cents) AS BIGINT) AS sumsq
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // ANSI FILTER-clause aggregates: per-group conditional aggregation
    // without CASE-WHEN scaffolding — one scan, every FILTER evaluated
    // inside the same hash aggregate (no per-condition passes). The
    // statement is dialect-shared, so the oracle runs it verbatim.
    Gate("sql10_filtered_agg", (s, d) => Engine.sql(s, d,
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      // Dialect-shared FILTER clause — identical statement.
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Correlated LATERAL subquery: top-2 orders per customer written as a
    // dependent join, the shape SQL users reach for before window
    // functions. Catalyst decorrelates the LIMIT-per-group into a
    // partitioned window under the hood — the gate proves the rewrite
    // produces exactly the window-formulation's rows.
    Gate("sql11_lateral", (s, d) => Engine.sql(s, d,
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, t.o_orderkey""".stripMargin),
      // Dialect-shared LATERAL — identical statement.
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, t.o_orderkey""".stripMargin),

    // SQL UNPIVOT (the parser-level wide→long reshape, inverse of r20's
    // PIVOT): two measure columns melted into (metric, val) rows with
    // explicit labels. Plans as a single Expand — one scan, rows ×2, no
    // shuffle — which is the shape that survives 100 TB (the UNION ALL
    // equivalent scans the table once per measure). Measures are
    // pre-cast to a shared DOUBLE so UNPIVOT's least-common-type
    // coercion never invents a cross-engine type skew.
    Gate("sql9_unpivot", (s, d) => Engine.sql(s, d,
      """SELECT p_partkey, metric, val
        |FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_v,
        |             p_retailprice AS retail_v FROM part)
        |UNPIVOT (val FOR metric IN (size_v AS size, retail_v AS retail))
        |ORDER BY p_partkey, metric""".stripMargin),
      // DuckDB's UNPIVOT quotes labels differently, so the oracle uses the
      // portable UNION ALL spelling — same rows, same types.
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin),

    // Hourly event counts through the SQL-registered events view — pins
    // the view's microsecond TimestampType (a regression here surfaces as
    // a ws hash mismatch, the exact failure mode the r3 ADVICE flagged).
    Gate("sql2_events_hourly", (s, d) => Engine.sql(s, d,
      """SELECT unix_micros(date_trunc('HOUR', ts)) AS ws, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** The sql24 dataflow, parameterized so EngineSqlSpec can run it with
    * and without CBO and inspect the (pre-checkpoint) plan via `inspect`.
    * Three scratch catalog tables are CTAS'd from the fixture views
    * (temp views cannot carry catalog statistics — ANALYZE needs real
    * tables), column-projected to what the query touches, ANALYZE'd with
    * column stats on the join keys and the filter column, then the star
    * query runs under query-scoped CBO confs. Tables and confs are
    * restored on every path.
    */
  def cboReorder(s: SparkSession, d: String, cbo: Boolean = true,
                 inspect: DataFrame => Unit = _ => ()): DataFrame = {
    graft.Engine.registerViews(s, d)
    val tables = Seq(
      ("graft_cbo_l", "SELECT l_orderkey, l_extendedprice FROM lineitem"),
      ("graft_cbo_o", "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders"),
      ("graft_cbo_c", "SELECT c_custkey, c_mktsegment FROM customer"))
    val analyzeCols = Map(
      0 -> "l_orderkey", 1 -> "o_orderkey, o_custkey",
      2 -> "c_custkey, c_mktsegment")
    Scratch.using("cbo") { dir =>
      try {
        tables.zipWithIndex.foreach { case ((t, sel), i) =>
          s.sql(s"CREATE TABLE $t USING parquet LOCATION '$dir/$t' AS $sel")
          // FOR COLUMNS computes table stats (rowCount/sizeInBytes) AND the
          // per-column NDV/min/max the filter-selectivity estimator needs.
          s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${analyzeCols(i)}")
        }
        val Seq(lt, ot, ct) = tables.map(_._1)
        Engine.withConf(s, "spark.sql.cbo.enabled" -> cbo.toString,
                        "spark.sql.cbo.joinReorder.enabled" -> cbo.toString) {
          val df = s.sql(
            s"""SELECT o.o_orderstatus AS status, COUNT(*) AS n,
               |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
               |                AS BIGINT)) AS BIGINT) AS cents
               |FROM $lt l
               |JOIN $ot o ON l.l_orderkey = o.o_orderkey
               |JOIN $ct c ON o.o_custkey = c.c_custkey
               |WHERE c.c_mktsegment = 'BUILDING'
               |GROUP BY 1 ORDER BY 1""".stripMargin)
          inspect(df)
          df.localCheckpoint(true)
        }
      } finally tables.foreach { case (t, _) => s.sql(s"DROP TABLE IF EXISTS $t") }
    }
  }

  /** Scratch-table lifecycle shared by the DDL gates (sql18/sql21):
    * register views, run `body(tbl, loc)` with a fresh empty LOCATION (an
    * explicit LOCATION makes the table external, and CTAS/CREATE refuse a
    * non-empty dir), then DROP the table and delete the location. `body`
    * must materialize its result (localCheckpoint) — the table is gone
    * when it returns.
    */
  private def withScratchTable(
      s: SparkSession, d: String, tbl: String)(
      body: (String, String) => DataFrame): DataFrame = {
    graft.Engine.registerViews(s, d)
    Scratch.using(tbl) { loc =>
      try body(tbl, loc.toString)
      finally s.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
