package graft

import org.apache.spark.sql.functions._

/** Semantics of the r25/r26/io11/sql9 additions, checked against
  * driver-side re-derivations on sf0.001 — oracle-independent (the DuckDB
  * gate is separate; these pin the SEMANTICS, not the hash).
  */
class RelationalOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("r30 HLL: merged and direct sketch estimates agree with the exact count") {
    // Datasketches HLL at default lgK=12 has ~1.6% RSE; the fixture's
    // cardinality (hundreds) sits far below saturation, so the gate's
    // declared 5% band must hold for BOTH estimate paths — the query now
    // exports the verdict booleans themselves (hash-gated since round 8).
    val r = SparkEntry.queries("r30_hll_merge")(spark, dir).head()
    assert(r.getAs[Long]("exact_custkeys") > 0)
    assert(r.getAs[Boolean]("merged_within_band"), "merged estimate out of band")
    assert(r.getAs[Boolean]("direct_within_band"), "direct estimate out of band")
  }

  test("r31 count-min: estimates are one-sided (est >= truth) and tight here") {
    val rows = SparkEntry.queries("r31_countmin")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    rows.foreach { case (k, est, truth) =>
      assert(est >= truth, s"CMS under-counted key $k: $est < $truth")
    }
    // W=1024 cells vs ~1.5k distinct keys at sf0.001: collisions exist but
    // min-over-4-rows keeps the overestimate within a small multiple.
    assert(rows.count { case (_, est, truth) => est == truth } >= 5,
           "expected at least half the probed keys collision-free")
  }

  test("r36: width_bucket matches the oracle's trunc(n*(v-lo)/(hi-lo))+1 replay on boundary values") {
    import spark.implicits._
    // Exact bucket edges (multiples of hi/n), one-off neighbors, the
    // extremes, and out-of-range values: Spark's width_bucket must equal
    // the double multiply-then-divide replay the DuckDB oracle runs —
    // this is the bit-identity the r36 gate's determinism argument rests on.
    val hi = 50000000L; val n = 10L
    val vals = (0L to 10L).flatMap(k => Seq(k * hi / n - 1, k * hi / n, k * hi / n + 1)) ++
      Seq(-5L, hi, hi + 1, 49999318L)
    val got = vals.toDF("v")
      .select(col("v"), expr(s"width_bucket(v, 0L, ${hi}L, $n)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      val expected =
        if (v < 0) 0L
        else if (v >= hi) n + 1
        else (n.toDouble * v / hi).toLong + 1
      assert(got(v) == expected, s"width_bucket($v) = ${got(v)}, replay says $expected")
    }
  }

  test("r32 deterministic mode picks the LOWEST value on a tie; median interpolates") {
    import spark.implicits._
    // g1: 1.0 ×2, 3.0 ×2 (tie -> 1.0), even count -> median (1.0+3.0)/2.
    // g2: odd count, unique mode.
    val df = Seq(("g1", 1.0), ("g1", 1.0), ("g1", 3.0), ("g1", 3.0),
                 ("g2", 5.0), ("g2", 5.0), ("g2", 9.0))
      .toDF("g", "v")
    val got = df.groupBy($"g")
      .agg(median($"v").as("med"), expr("mode(v, true)").as("mo"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("g1", 2.0, 1.0), ("g2", 5.0, 5.0)))
  }

  test("sql16 listagg is deterministic: WITHIN GROUP order fixes the string") {
    val rows = SparkEntry.queries("sql16_listagg")(spark, dir).collect()
    rows.foreach { r =>
      val parts = r.getString(1).split("\\|").toSeq
      assert(parts == parts.sorted, s"unsorted listagg: ${r.getString(1)}")
      assert(parts.size.toLong == r.getLong(2))
    }
    assert(rows.nonEmpty)
  }

  test("r25 grouping sets: three levels, margins fold to the grand total") {
    val rows = SparkEntry.queries("r25_grouping_sets")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getDouble(3), r.getLong(4)))
    val gids = rows.map(_._3).toSet
    assert(gids == Set(0L, 1L, 3L), "detail, status margin, grand total")
    // Grand total row is fully coalesced and counts every order.
    val Array(total) = rows.filter(_._3 == 3L)
    assert(total._1 == "ALL" && total._2 == "ALL")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    assert(total._5 == orders.count())
    // Detail rows fold exactly onto their status margin (exact decimal
    // sums exported as doubles — equality is legitimate).
    val detailByStatus = rows.filter(_._3 == 0L).groupBy(_._1)
      .view.mapValues(rs => (rs.map(_._4).sum, rs.map(_._5).sum)).toMap
    rows.filter(_._3 == 1L).foreach { case (st, _, _, tot, n) =>
      assert(detailByStatus(st)._2 == n, s"count fold for $st")
      assert(math.abs(detailByStatus(st)._1 - tot) < 1e-6, s"sum fold for $st")
    }
  }

  test("r26 ignore-nulls windows carry the last F price across non-F rows") {
    val got = SparkEntry.queries("r26_ignore_nulls")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 if (r.isNullAt(2)) None else Some(r.getDouble(2)),
                 if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // Re-derive LOCF driver-side from the raw table in window order.
    val raw = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
              unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"),
              when(col("o_orderstatus") === "F", col("o_totalprice")).as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .sortBy(t => (t._1, t._3, t._2))
    val expected = raw.groupBy(_._1).iterator.flatMap { case (_, rs) =>
      val fSoFar = rs.scanLeft(Option.empty[Double]) {
        case (acc, (_, _, _, p)) => p.orElse(acc)
      }
      // prev_f at row i = carry BEFORE the row; last_f = carry AFTER.
      rs.zipWithIndex.map { case ((ck, ok, _, _), i) =>
        (ck, ok) -> (fSoFar(i), fSoFar(i + 1))
      }
    }.toMap
    assert(got.nonEmpty && got.exists(_._3.isEmpty) && got.exists(_._3.nonEmpty),
      "fixture exercises both the null-gap and the carried case")
    got.foreach { case (ck, ok, prev, lastv) =>
      assert(expected((ck, ok)) == ((prev, lastv)), s"customer $ck order $ok")
    }
  }

  test("sql9 UNPIVOT melts two measures into labeled rows, one Expand pass") {
    val df = SparkEntry.queries("sql9_unpivot")(spark, dir)
    val parts = spark.read.parquet(s"$dir/part.parquet")
    val got = df.collect()
    assert(got.length == 2 * parts.count())
    assert(got.map(_.getString(1)).toSet == Set("size", "retail"))
    // wide→long through ONE Expand, not a self-union double scan.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected Expand in:\n$plan")
    assert(!plan.contains("Union"), "UNPIVOT must not plan as UNION ALL")
  }

  test("r27 collect_set output is a total-ordered join of the distinct values") {
    val got = SparkEntry.queries("r27_collect")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val expected = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderstatus", "o_orderpriority").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(vs => (vs.map(_._2).sorted.mkString(","), vs.length.toLong))
      .toMap
    assert(got == expected)
  }

  test("io11 _metadata file names and per-file counts match the fixtures") {
    val got = SparkEntry.queries("io11_file_metadata")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val expected = Seq("orders", "events", "documents").map(t =>
      s"$t.parquet" -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
    assert(got == expected)
  }

  test("r37 percentile_disc picks the smallest value with cume_dist >= f (ANSI), planted groups") {
    import spark.implicits._
    // Group A n=4: cume_dist 0.25/0.5/0.75/1.0 lands EXACTLY on the
    // thresholds — ANSI says >= takes the boundary value itself.
    // Group B n=3: 1/3 < 0.5 < 2/3 → p25=1, p50=2, p75=3.
    val planted = Seq(("A", 10.0), ("A", 20.0), ("A", 30.0), ("A", 40.0),
                      ("B", 1.0), ("B", 2.0), ("B", 3.0)).toDF("g", "v")
    val got = planted.groupBy($"g").agg(
        org.apache.spark.sql.functions.expr(
          "percentile_disc(0.25) WITHIN GROUP (ORDER BY v)").as("p25"),
        org.apache.spark.sql.functions.expr(
          "percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
        org.apache.spark.sql.functions.expr(
          "percentile_disc(0.75) WITHIN GROUP (ORDER BY v)").as("p75"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("A") == ((10.0, 20.0, 30.0)), s"A got ${got("A")}")
    assert(got("B") == ((1.0, 2.0, 3.0)), s"B got ${got("B")}")
  }

  test("r40 exact-moment variance equals Spark's var_samp within float tolerance") {
    val gate = SparkEntry.queries("r40_var_stddev")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val ref = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
          .cast("double").as("c"))
      .groupBy("l_returnflag")
      .agg(var_samp(col("c")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    gate.foreach { case (flag, v) =>
      assert(math.abs(v - ref(flag)) / ref(flag) < 1e-6,
        s"$flag: exact $v vs var_samp ${ref(flag)}")
    }
  }

  test("r39 time-range frame is tie-correct: same-day rows share one frame") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Two same-day rows (day 0), a row at the 30-day horizon edge (day 29
    // — inside the frame of day 0 + 29), and one just past it (day 30).
    val planted = Seq((1L, 0L, 100L), (1L, 0L, 200L),
                      (1L, 29L, 300L), (1L, 30L, 400L))
      .toDF("cust", "day", "cents")
    val w = Window.partitionBy($"cust").orderBy($"day")
      .rangeBetween(-29, Window.currentRow)
    val got = planted
      .select($"day", $"cents", sum($"cents").over(w).as("c30"),
              count(lit(1)).over(w).as("n30"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // BOTH day-0 rows see the identical day-0 frame (100+200) regardless
    // of their relative order; day 29's frame reaches back to day 0;
    // day 30's frame drops day 0 entirely.
    assert(got.toSeq == Seq((0L, 100L, 300L, 2L), (0L, 200L, 300L, 2L),
                            (29L, 300L, 600L, 3L), (30L, 400L, 700L, 2L)),
      s"got ${got.toSeq}")
  }

  test("r38 running-distinct emulation matches a brute-force prefix scan") {
    val rows = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_returnflag", "l_suppkey", "l_shipdate", "l_orderkey",
              "l_linenumber")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
                 r.get(2).toString, r.getLong(3), r.getInt(4)))
    val expected = rows.groupBy(_._1).map { case (flag, rs) =>
      val ordered = rs.sortBy(t => (t._3, t._4, t._5))
      val seen = scala.collection.mutable.Set.empty[Long]
      var saturation = -1L
      ordered.zipWithIndex.foreach { case (t, i) =>
        seen += t._2
        if (saturation < 0 &&
            seen.size == rs.map(_._2).distinct.length) saturation = i + 1L
      }
      flag -> ((ordered.length.toLong, seen.size.toLong, saturation))
    }
    val got = SparkEntry.queries("r38_running_distinct")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected, s"got $got expected $expected")
  }
}
