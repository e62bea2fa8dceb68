package graft.sources

import graft.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators: bucketed tables (co-located joins) and
  * partitioned writes (partition-pruned scans).
  *
  * These are the two storage-layout levers a 100 TB deployment lives by —
  * the reference has neither (its "layout" is one JSON blob per matrix,
  * `/root/reference/orchestrator/main.py:58-64`, re-downloaded whole per
  * run). Spark-native:
  *
  *  - '''Bucketing''' pre-shuffles a table ON WRITE: both fact tables are
  *    hash-clustered into the same number of buckets on the join key, so
  *    every subsequent join/aggregate on that key runs with ZERO exchange —
  *    the shuffle is paid once at ingest, not per query. At 100 TB the
  *    bucket count scales with the data (thousands), the mechanism is
  *    identical.
  *  - '''Partitioned writes''' split a table into directories by a derived
  *    key; a filter on the partition column prunes whole directories at
  *    planning time (`PartitionFilters` in the scan) — the scan never
  *    opens a pruned file, which at 100 TB is the difference between
  *    reading 100 TB and reading one year's slice.
  *
  * Layouts live in this JVM's [[graft.Scratch]] root, keyed by the source
  * dir. The bucketed tables are written once per (session, dir) — the
  * marker lives in the session conf (like [[graft.Engine.registerViews]]);
  * a fresh session re-registers the catalog tables it needs.
  */
object LayoutOps {

  /** Small-file COMPACTION — the standing maintenance task of any large
    * lake (streaming sinks, per-partition writers, and incremental loads
    * all fragment; a 100 TB table read through millions of KB-sized files
    * pays file-open latency and footer parsing per file and starves the
    * scan of sequential IO). Sizes the output by MEASURED input bytes
    * (`ceil(total / targetBytes)` files) and rewrites through `coalesce`,
    * NOT `repartition`: compaction is IO-bound concatenation, and
    * coalesce stitches input splits without a shuffle exchange (asserted
    * by LayoutSpec). Returns the compacted table re-read from disk, so
    * callers aggregate what was actually written.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath).coalesce(n)
      .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** Bucketed `orders` + `customer`, both hash-clustered into `buckets`
    * buckets on custkey (`bucketBy` + `sortBy` so each bucket is also
    * sorted for merge joins). Registered in the session catalog — bucketing
    * metadata lives there, which is why this goes through `saveAsTable`
    * rather than a bare parquet write.
    */
  def bucketedOrdersCustomer(spark: SparkSession, dir: String,
                             buckets: Int = 8): (DataFrame, DataFrame) = {
    val marker = "graft.layout.bucketed.dir"
    if (!spark.conf.getOption(marker).contains(dir)) {
      val base = Scratch.dir("bucketed", dir)
      Tables.load(spark, dir, "orders").write
        .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").option("path", s"$base/orders")
        .saveAsTable("graft_orders_bkt")
      Tables.load(spark, dir, "customer").write
        .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").option("path", s"$base/customer")
        .saveAsTable("graft_customer_bkt")
      spark.conf.set(marker, dir)
    }
    (spark.table("graft_orders_bkt"), spark.table("graft_customer_bkt"))
  }

  /** Co-located join + aggregate over the bucketed pair: spend per customer.
    * The `merge` hint forces a sort-merge join (a broadcast would dodge the
    * point at fixture scale); with both sides bucketed on the key, the join
    * AND the per-customer aggregate run with no shuffle exchange at all —
    * asserted by LayoutSpec and visible in PlanAudit.
    */
  def bucketedSpendPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val (orders, customer) = bucketedOrdersCustomer(spark, dir)
    customer.hint("merge")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           graft.Q.sumMoney(col("o_totalprice")).as("spend"))
  }

  /** A small on-disk "year dimension" derived from `orders`: one row per
    * order year with its order count and the corpus-wide max count (stored
    * denormalized so a query-time filter is a plain scan+Filter — the
    * textbook shape dynamic partition pruning keys on). Exists for io7:
    * joining [[lineitemByShipYear]] to this dim filtered on a NON-key
    * column means the surviving partition set is only known at runtime, so
    * static pruning can't help — DPP must inject the dim's key set into the
    * fact scan's PartitionFilters. At 100 TB this is the canonical
    * fact-to-dim star-join prune (read one year, not the decade).
    */
  def orderYearDim(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("order_year_dim", dir)
    val done = new java.io.File(s"$base/_SUCCESS")
    if (!done.isFile) {
      val counts = Tables.load(spark, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"))
      counts.crossJoin(broadcast(counts.agg(max(col("n_orders")).as("max_n"))))
        .write.mode("overwrite").parquet(base)
    }
    spark.read.parquet(base)
  }

  /** `lineitem` re-written partitioned by ship year (one directory per
    * year). Written once per JVM and source dir — keyed by a `_SUCCESS`
    * probe so a later session or pass reuses the layout instead of
    * re-shuffling the fact table.
    */
  def lineitemByShipYear(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("lineitem_by_year", dir)
    val done = new java.io.File(s"$base/_SUCCESS")
    if (!done.isFile) {
      Tables.load(spark, dir, "lineitem")
        .withColumn("ship_year", year(col("l_shipdate")))
        .write.partitionBy("ship_year").mode("overwrite").parquet(base)
    }
    spark.read.parquet(base)
  }
}
