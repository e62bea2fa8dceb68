package graft

import graft.operators.IoQueries
import graft.sources.LayoutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout assertions for the IO family: the layouts must not just
  * return correct rows, they must produce the PLAN the layout exists for —
  * a bucketed join with zero shuffle exchanges, a partitioned scan that
  * prunes non-matching directories at planning time.
  */
class LayoutSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Executed plan string AFTER adaptive re-planning (PlanAudit pattern:
    * the pre-execution AQE plan is a skeleton).
    */
  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan.toString
  }

  test("io4: bucketed join + aggregate runs with zero shuffle exchange") {
    val plan = executedPlan(LayoutOps.bucketedSpendPerCustomer(spark, dir))
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
           s"bucketed join must not shuffle:\n$plan")
  }

  test("io4: bucketed result equals the plain-table join") {
    val bucketed = IoQueries.queries("io4_bucketed_join")(spark, dir).collect()
    val plain = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           Q.sumMoney(col("o_totalprice")).as("spend"))
      .orderBy("c_custkey").collect()
    assert(bucketed.toSeq == plain.toSeq)
  }

  test("io3: filter on the partition column reaches PartitionFilters") {
    val pruned = LayoutOps.lineitemByShipYear(spark, dir)
      .filter(col("ship_year") === 1996)
      .agg(count(lit(1)))
    val formatted = {
      pruned.queryExecution.toRdd.foreach(_ => ())
      pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }
    val scanSection = formatted
    assert(scanSection.contains("PartitionFilters"), s"no PartitionFilters:\n$formatted")
    assert(scanSection.contains("ship_year"), s"partition filter lost:\n$formatted")
    // The pruned scan must read strictly fewer files than the full table
    // has partitions (the fixture spans multiple ship years).
    val allYears = LayoutOps.lineitemByShipYear(spark, dir)
      .select("ship_year").distinct().count()
    assert(allYears > 1, "fixture must span multiple ship years for pruning to mean anything")
  }

  test("io7: the dim filter reaches the fact scan as a DYNAMIC pruning filter") {
    val df = IoQueries.queries("io7_dpp_join")(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // The partitioned lineitem scan must carry a runtime pruning subquery —
    // the filter is on the dim's n_orders, invisible to static pruning.
    assert(formatted.toLowerCase.contains("dynamicpruning"),
           s"no dynamic pruning in the fact scan:\n$formatted")
    // And it must actually prune: the fixture's 2001 order volume is well
    // under 80% of the busiest year at every sf, so one partition drops.
    val years = df.collect().map(_.getLong(0)).toSet
    val allYears = LayoutOps.lineitemByShipYear(spark, dir)
      .select("ship_year").distinct().count()
    assert(years.size < allYears,
           s"DPP join kept all $allYears years — the dim filter selected everything")
  }

  test("io18: the dim filter reaches the fact scan as a runtime BLOOM filter") {
    // Baseline OUTSIDE the conf scope: the plain (broadcast, no-bloom) join.
    val plain = IoQueries.bloomPrunedRevenue(spark, dir).collect()
    IoQueries.withBloomFilterConf(spark) {
      val df = IoQueries.bloomPrunedRevenue(spark, dir)
      val plan = executedPlan(df)
      // InjectRuntimeFilter must have turned the selective dim predicate
      // into a bloom-filter probe on the fact side's l_orderkey.
      assert(plan.toLowerCase.contains("might_contain"),
             s"no runtime bloom filter on the fact scan:\n$plan")
      // And the filtered plan must agree with it (bloom false positives
      // are discarded by the join itself).
      assert(df.collect().toSeq == plain.toSeq)
    }
  }

  test("io19: the footer carries a bloom filter for the configured column only") {
    // Run the gate (its write is part of the query), then open a part
    // file's footer with parquet-hadoop and check the column metadata.
    IoQueries.queries("io19_parquet_bloom")(spark, dir).collect()
    val tag = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-io/pqbloom-$tag"
    val part = new java.io.File(base).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val offsets = cols.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(offsets("o_custkey") >= 0,
             s"no bloom filter on o_custkey: $offsets")
      assert(offsets("o_orderkey") < 0,
             s"unconfigured column must not pay for a filter: $offsets")
    } finally reader.close()
  }

  test("io9: compaction collapses file count, preserves rows, and never shuffles") {
    val base = System.getProperty("java.io.tmpdir") + "/graft-layout-spec/compact"
    val src = spark.read.parquet(s"$dir/documents.parquet")
    src.repartition(10).write.mode("overwrite").parquet(s"$base/frag")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles(p: String) = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(nFiles(s"$base/frag") == 10)
    // Huge target -> everything fits one file.
    val compacted = LayoutOps.compact(spark, s"$base/frag", s"$base/out",
                                      targetBytes = 1L << 30)
    assert(nFiles(s"$base/out") == 1)
    assert(compacted.count() == src.count())
    // The rewrite itself is exchange-free: scan -> coalesce -> write.
    val rewritePlan = spark.read.parquet(s"$base/frag").coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!rewritePlan.contains("Exchange"), rewritePlan)
  }

  test("scan split sizing: task count tracks bytes/maxPartitionBytes on a multi-file table") {
    // The remaining 100 TB scan-granularity lever after io9 (file sizing)
    // and io22 (row-group skipping): `spark.sql.files.maxPartitionBytes`
    // decides how many bytes one scan TASK owns. Halving it must roughly
    // double the measured task count — the knob a cluster turns to match
    // scan parallelism to executor count without rewriting the table.
    // Both settings sit BELOW bytesPerCore (total/defaultParallelism,
    // ~2.7 MB here), because maxSplitBytes = min(maxPartitionBytes,
    // max(openCost, bytesPerCore)) — above that point the knob is
    // intentionally inert and task count is core-bound instead.
    val base = System.getProperty("java.io.tmpdir") + "/graft-layout-spec/split"
    spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .repartition(8).write.mode("overwrite").parquet(base)
    // openCost=0 isolates the byte arithmetic from the per-file seek
    // padding (which would blur the 2x ratio on 8 small files).
    def tasksAt(maxPartitionBytes: Long): Int =
      Engine.withConf(spark,
          "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString,
          "spark.sql.files.openCostInBytes" -> "0") {
        spark.read.parquet(base).rdd.getNumPartitions
      }
    val fine = tasksAt(512 * 1024)
    val coarse = tasksAt(1024 * 1024)
    assert(fine > coarse,
      s"fine(512KB)=$fine tasks must exceed coarse(1MB)=$coarse")
    val ratio = fine.toDouble / coarse
    assert(ratio > 1.5 && ratio < 2.6,
      s"halving maxPartitionBytes: $coarse tasks @1MB -> $fine tasks " +
        s"@512KB (ratio $ratio, expected ~2x)")
  }

  test("io10: dynamic overwrite replaces only the written partition's files") {
    val base = System.getProperty("java.io.tmpdir") + "/graft-layout-spec/dynover"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(status: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/o_orderstatus=$status"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.getName -> f.getModificationTime).toMap
    val oBefore = files("O")
    val fBefore = files("F")
    Engine.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      orders.filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    }
    assert(files("O") == oBefore, "untouched partition's files must not change")
    assert(files("F") != fBefore, "overwritten partition must have new files")
  }

  test("io21: the glob filter is load-bearing — the same read without it trips on the junk") {
    // The gate plants non-parquet strays beside the nested data files;
    // prove the pathGlobFilter actually excludes them by running the SAME
    // recursive read without it and watching the footer read fail.
    IoQueries.queries("io21_glob_discovery")(spark, dir).collect() // plants + passes
    val tag = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-io/glob-$tag"
    val ex = intercept[Exception] {
      spark.read
        .schema("p_partkey BIGINT, p_brand STRING, price DECIMAL(18,2)")
        .option("recursiveFileLookup", "true")
        .parquet(base)
        .agg(count(lit(1))).collect()
    }
    val msg = (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(""))
    assert(msg.toLowerCase.contains("parquet") || msg.contains("footer") ||
           msg.contains("CANNOT_READ"),
           s"expected a parquet footer failure on the junk file, got: $msg")
  }

  test("io1/io2: text roundtrips are lossless against the direct aggregate") {
    val viaCsv = IoQueries.queries("io1_csv_roundtrip")(spark, dir).collect()
    val direct = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(Q.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
           sum(Q.dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    assert(viaCsv.toSeq == direct.toSeq)

    val viaJson = IoQueries.queries("io2_jsonl_roundtrip")(spark, dir).collect()
    val directJ = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(Q.dec2(col("o_totalprice"))).cast("double").as("sum_price"),
           max(Q.micros(col("o_orderdate").cast("timestamp"))).as("last_order_us"))
      .orderBy("o_orderstatus").collect()
    assert(viaJson.toSeq == directJ.toSeq)
  }

  test("io12: z_order2 interleaves bits; the z-layout bounds BOTH dims per file") {
    import graft.functions.{ZOrder2, ZOrder2Util}
    // Known Morton values (x in even bit positions, y in odd).
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
                    (2L, 0L, 4L), (2L, 3L, 14L), (5L, 3L, 27L),
                    ((1L << 21) - 1, (1L << 21) - 1, (1L << 42) - 1))
    cases.foreach { case (a, b, z) =>
      assert(ZOrder2Util.interleave(a, b) == z, s"z($a,$b)")
    }
    // A 64x64 grid written as 8 z-range files: every file's min-max box is
    // bounded in BOTH dimensions, so a y < 8 predicate can prune most
    // files — an x-sorted layout prunes none (every file spans all of y).
    import spark.implicits._
    val grid = spark.range(64 * 64)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    grid.withColumn("zv", ZOrder2($"x", $"y"))
      .repartitionByRange(8, $"zv").sortWithinPartitions("zv")
      .write.mode("overwrite").parquet(out)
    val boxes = spark.read.parquet(out)
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
           min("y").as("y0"), max("y").as("y1"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(boxes.length == 8)
    val hitY = boxes.count(_._3 < 8)   // files whose y-range reaches below 8
    assert(hitY <= 3, s"z-layout should bound y per file: ${boxes.mkString(", ")}")
    // Both dimensions bounded: no file spans a full axis.
    boxes.foreach { case (x0, x1, y0, y1) =>
      assert(x1 - x0 < 63 || y1 - y0 < 63,
        s"file box ($x0..$x1, $y0..$y1) spans both axes fully")
    }
  }

  test("io24: hilbert2 is a bijective unit-step curve; the layout bounds BOTH dims per file") {
    import graft.functions.{Hilbert2, Hilbert2Util}
    // Pinned distances of the order-16 curve (cross-checked against an
    // independent Python implementation of the same per-bit walk).
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (1L, 1L, 2L), (0L, 1L, 3L),
                    (13L, 7L, 206L), (63L, 63L, 2730L),
                    (65535L, 65535L, 2863311530L),
                    (65535L, 0L, 4294967295L), (0L, 65535L, 1431655765L))
    cases.foreach { case (a, b, h) =>
      assert(Hilbert2Util.xy2d(a, b) == h, s"h($a,$b)")
    }
    // The [0,64)² corner of the order-16 curve is its FIRST segment:
    // bijective onto [0,4096) and every consecutive pair of distances is
    // a grid NEIGHBOR (|dx|+|dy| = 1) — the locality property Morton
    // order lacks (z-curves jump across the keyspace at quadrant seams).
    val corner = (for (x <- 0 until 64; y <- 0 until 64)
      yield Hilbert2Util.xy2d(x, y) -> (x, y)).toMap
    assert(corner.keySet == (0 until 4096).map(_.toLong).toSet,
           "corner must be bijective onto [0, 4096)")
    (0L until 4095L).foreach { i =>
      val (x0, y0) = corner(i); val (x1, y1) = corner(i + 1)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) == 1,
             s"step $i -> ${i + 1} is not a unit move")
    }
    // Unit-step locality ⇒ every hv-range file covers a CONNECTED curve
    // segment of ~512 cells, whose bounding box in (x, y) is small —
    // range predicates on either key skip most files.
    import spark.implicits._
    val grid = spark.range(64 * 64)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    val out = java.nio.file.Files.createTempDirectory("graft-hilbert").toString
    grid.withColumn("hv", Hilbert2($"x", $"y"))
      .repartitionByRange(8, $"hv").sortWithinPartitions("hv")
      .write.mode("overwrite").parquet(out)
    val boxes = spark.read.parquet(out)
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
           min("y").as("y0"), max("y").as("y1"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(boxes.length == 8)
    boxes.foreach { case (x0, x1, y0, y1) =>
      // A contiguous 512-cell Hilbert segment fits in a box no larger
      // than 32×48 on a 64-grid; assert the conservative bound that both
      // extents stay at or under half+16 of the axis — far tighter than
      // a single-column sort (which spans a full axis in every file).
      assert(x1 - x0 <= 48 && y1 - y0 <= 48,
        s"hilbert file box ($x0..$x1, $y0..$y1) is not locality-bounded")
    }
  }

  test("io25: MIN/MAX/COUNT push down to the parquet v2 scan's footer stats") {
    val confs = Seq(
      "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text",
      "spark.sql.parquet.aggregatePushdown" -> "true")
    Engine.withConf(spark, confs: _*) {
      val df = spark.read.parquet(s"$dir/orders.parquet")
        .agg(count(lit(1)).as("n"),
             min(col("o_orderkey")).as("min_key"),
             max(col("o_orderkey")).as("max_key"))
      val pushed = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation") &&
             plan.contains("COUNT(*)") && plan.contains("MIN(o_orderkey)"),
             s"aggregate must reach the scan's footer stats:\n$plan")
      // The stats-answered result must equal the data-scanned one.
      val scanned =
        Engine.withConf(spark, "spark.sql.parquet.aggregatePushdown" -> "false") {
          spark.read.parquet(s"$dir/orders.parquet")
            .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
            .collect()
        }
      assert(pushed.map(_.toSeq).toSeq == scanned.map(_.toSeq).toSeq)
    }
  }

  test("io22: sorted small-block layout yields many row groups with tight, ordered date stats") {
    val path = IoQueries.writeRowGrouped(spark, dir)
    val file = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val blocks = reader.getFooter.getBlocks
      assert(blocks.size >= 3,
        s"expected many row groups from the 8 KB block size, got ${blocks.size}")
      // Per-row-group o_orderdate stats (INT64 micros — the fixture ships
      // dates as timestamps) must exist and, on a
      // sorted single file, be NON-OVERLAPPING across groups — that is
      // exactly the property that lets the reader skip whole groups on a
      // date range predicate.
      import scala.jdk.CollectionConverters._
      val ranges = (0 until blocks.size).map { i =>
        val colMeta = blocks.get(i).getColumns.asScala
          .find(_.getPath.toDotString == "o_orderdate").get
        val st = colMeta.getStatistics
        assert(st != null && st.hasNonNullValue, s"row group $i lacks date stats")
        (st.genericGetMin.asInstanceOf[Number].longValue,
         st.genericGetMax.asInstanceOf[Number].longValue)
      }
      ranges.foreach { case (lo, hi) => assert(lo <= hi) }
      (1 until ranges.length).foreach { i =>
        assert(ranges(i - 1)._2 <= ranges(i)._1,
          s"row-group date ranges overlap: $ranges — sort order broken")
      }
    } finally reader.close()
    // The range predicate must reach the parquet scan as a pushed filter.
    val df = IoQueries.queries("io22_rowgroup_stats")(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [") &&
           plan.contains("o_orderdate"),
      "date range filter not pushed to the row-grouped scan")
  }
}
