package graft.operators

import graft.{Engine, Gate, Q, Scratch, Tables}
import graft.functions.{Hilbert2, ZOrder2}
import graft.sources.LayoutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IO / physical-layout queries (SURVEY.md §2.2 IO-table): source-sink
  * roundtrips through the text formats a data-exchange boundary actually
  * uses (CSV, JSON lines) and the two storage layouts a 100 TB deployment
  * is built on (partition-pruned scans, bucketed co-located joins).
  *
  * The roundtrips write through the format and read back with an EXPLICIT
  * schema (schema inference over 100 TB of text is a full extra pass —
  * never in the scale path), then aggregate; the oracle computes the same
  * aggregate from the original parquet, so the gate proves the
  * sink→source cycle is lossless. Money columns travel as DECIMAL(18,2) —
  * exact decimal text on both sides of the boundary; doubles-as-text would
  * round-trip via shortest-repr parsing, which is exact too, but decimal
  * makes the intent auditable.
  */
object IoQueries {

  /** io22's layout write, shared with `LayoutSpec`'s footer assertions:
    * date-sorted orders, one output file, `parquet.block.size` forced
    * far below the 128 MB default (8 KB) so the file splits into many row groups
    * with tight per-group date stats. Returns the scratch path.
    */
  def writeRowGrouped(s: SparkSession, d: String): String = {
    val path = Scratch.dir("rowgroup", d)
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
              (Q.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      .repartition(1)
      .sortWithinPartitions("o_orderdate", "o_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", 8 * 1024)
      .parquet(path)
    path
  }

  /** The io18 join+aggregate, built WITHOUT conf scoping (LayoutSpec
    * asserts `might_contain` on this plan under [[withBloomFilterConf]]).
    */
  private[graft] def bloomPrunedRevenue(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.load(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"))
    Tables.load(s, d, "lineitem")
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(Q.sumDiscounted(col("l_extendedprice"), col("l_discount"))
             .as("revenue"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Runs `body` with the runtime-bloom-filter levers on and broadcast
    * off: the rule targets shuffle joins, and the application-side size
    * floor is fixture-scaled (the 10 GB default assumes a real cluster).
    */
  private[graft] def withBloomFilterConf[T](s: SparkSession)(body: => T): T =
    Engine.withConf(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  val gates: Seq[Gate] = Seq(
    // IO1 — CSV sink → CSV source (header, explicit schema) → aggregate.
    // The write is part of the measured query: this is a sink+source
    // operator, not a disguised parquet aggregate.
    Gate("io1_csv_roundtrip", { (s, d) =>
      val path = Scratch.dir("csv", d)
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
                Q.dec2(col("l_quantity")).as("qty"),
                Q.dec2(col("l_extendedprice")).as("price"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read
        .schema("l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, " +
                "qty DECIMAL(18,2), price DECIMAL(18,2)")
        .option("header", "true").csv(path)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("qty")).cast("double").as("sum_qty"),
             sum(col("price")).cast("double").as("sum_price"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO2 — JSON-lines sink → source. Timestamps travel as epoch micros
    // (a LONG) — the one JSON-format choice that is bit-exact and
    // timezone-proof across engines.
    Gate("io2_jsonl_roundtrip", { (s, d) =>
      val path = Scratch.dir("jsonl", d)
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
                Q.dec2(col("o_totalprice")).as("price"),
                // o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC, so
                // the cast to TIMESTAMP is identity and micros stay exact.
                Q.micros(col("o_orderdate").cast("timestamp")).as("od_us"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
                "price DECIMAL(18,2), od_us BIGINT")
        .json(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(col("price")).cast("double").as("sum_price"),
             max(col("od_us")).as("last_order_us"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MAX(epoch_us(o_orderdate)) AS last_order_us
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO5 — ORC sink → source: the other columnar format Spark ships a
    // vectorized reader for. Self-describing like parquet, so the read
    // needs no explicit schema — the roundtrip proves type fidelity
    // (LONG/STRING/INT/DECIMAL) through the ORC writer/reader pair.
    Gate("io5_orc_roundtrip", { (s, d) =>
      val path = Scratch.dir("orc", d)
      Tables.load(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
                Q.dec2(col("p_retailprice")).as("price"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
             sum(col("price")).cast("double").as("sum_price"),
             max(col("p_size")).cast("long").as("max_size"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(MAX(p_size) AS BIGINT) AS max_size
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO6 — zstd parquet roundtrip: at 100 TB the at-rest codec is a
    // first-order cost lever (zstd trades ~10% write CPU for ~25-40%
    // smaller files than snappy — less IO, fewer scan tasks); the gate
    // proves the non-default codec path is byte-faithful through the
    // writer/reader pair. Timestamps travel natively (micros INT64).
    Gate("io6_zstd_roundtrip", { (s, d) =>
      val path = Scratch.dir("zstd", d)
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
                Q.dec2(col("o_totalprice")).as("price"),
                col("o_orderdate").cast("timestamp").as("od"))
        .write.mode("overwrite").option("compression", "zstd").parquet(path)
      s.read.parquet(path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(col("price")).cast("double").as("sum_price"),
             Q.micros(min(col("od"))).as("first_order_us"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MIN(epoch_us(o_orderdate)) AS first_order_us
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO3 — partition-pruned scan: lineitem laid out by ship year, filter
    // on the partition column prunes whole directories at planning time
    // (PartitionFilters in the scan — asserted by LayoutSpec). Revenue per
    // month within the surviving partition.
    Gate("io3_partitioned_scan", (s, d) =>
      LayoutOps.lineitemByShipYear(s, d)
        .filter(col("ship_year") === 1996)
        .groupBy(month(col("l_shipdate")).cast("long").as("ship_month"))
        .agg(Q.sumDiscounted(col("l_extendedprice"), col("l_discount")).as("revenue"),
             count(lit(1)).as("n"))
        .orderBy("ship_month"),
      """SELECT CAST(MONTH(l_shipdate) AS BIGINT) AS ship_month,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem WHERE YEAR(l_shipdate) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO7 — DYNAMIC partition pruning: the fact is partitioned by ship
    // year (io3's layout), but the filter lives on a NON-key column of a
    // year dim (order volume ≥ 80% of the busiest year) — the surviving
    // partition set only exists at runtime, so Catalyst must inject the
    // broadcast dim's key set into the fact scan as a dynamicpruning
    // PartitionFilter (asserted by LayoutSpec). io3 proves the static
    // half; this is the star-join half a 100 TB layout actually lives on.
    Gate("io7_dpp_join", { (s, d) =>
      val dim = LayoutOps.orderYearDim(s, d)
        .filter(col("n_orders") * 5 >= col("max_n") * 4)
        .select(col("yr"))
      LayoutOps.lineitemByShipYear(s, d)
        .join(broadcast(dim), col("ship_year") === col("yr"))
        .groupBy(col("ship_year").cast("long").as("ship_year"))
        .agg(Q.sumDiscounted(col("l_extendedprice"), col("l_discount")).as("revenue"),
             count(lit(1)).as("n"))
        .orderBy("ship_year")
    },
      """WITH dim AS (
        |  SELECT YEAR(o_orderdate) AS yr, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |sel AS (
        |  SELECT yr FROM dim WHERE n * 5 >= (SELECT MAX(n) FROM dim) * 4)
        |SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN sel ON YEAR(l_shipdate) = sel.yr
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO8 — schema evolution across parquet file generations: a 100 TB
    // table accretes columns over years, so the reader must unify an old
    // slice (written before a column existed) with a new one. The write
    // is part of the query: two generations land as separate file sets,
    // the read merges their footers (`mergeSchema` — a footer-listing
    // cost paid at plan time, which is why production catalogs the merged
    // schema instead of re-deriving it per scan), legacy rows surface the
    // new column as NULL, and the aggregate counts them per group. The
    // oracle replays the generation split from the original table.
    Gate("io8_schema_evolution", { (s, d) =>
      val path = Scratch.dir("evolve", d)
      val orders = Tables.load(s, d, "orders")
      // Generation 1: written before o_orderpriority existed.
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
                Q.dec2(col("o_totalprice")).as("price"))
        .write.mode("overwrite").parquet(s"$path/g1")
      // Generation 2: the evolved schema adds the priority column.
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
                Q.dec2(col("o_totalprice")).as("price"),
                col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$path/g2")
      s.read.option("mergeSchema", "true").parquet(s"$path/g1", s"$path/g2")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(col("price")).cast("double").as("sum_price"),
             count(col("o_orderpriority")).as("n_evolved"),
             countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy("o_orderstatus")
    },
      """WITH unioned AS (
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS pri
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price,
        |  COUNT(pri) AS n_evolved,
        |  COUNT(DISTINCT pri) AS n_priorities
        |FROM unioned GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO9 — small-file compaction: the documents table fragmented into 48
    // splinter files (the streaming-sink / incremental-load pathology),
    // then compacted to measured-size-targeted files via shuffle-free
    // coalesce ([[LayoutOps.compact]]). The gate aggregates the COMPACTED
    // table — proving the rewrite lost nothing — against the original-
    // table oracle; LayoutSpec asserts the file-count collapse and the
    // exchange-free rewrite plan.
    Gate("io9_compaction", { (s, d) =>
      val path = Scratch.dir("compact", d)
      Tables.load(s, d, "documents")
        .repartition(48).write.mode("overwrite").parquet(s"$path/frag")
      LayoutOps.compact(s, s"$path/frag", s"$path/compacted",
                        targetBytes = 1L << 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    },
      // The compacted table must aggregate identically to the source table.
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO10 — DYNAMIC partition overwrite: the partitioned table gets ONE
    // partition replaced in place (status 'F', prices restated ×2) while
    // every other partition's files are untouched — the incremental-load
    // primitive of a partitioned lake (static overwrite mode would wipe
    // the whole table; dynamic replaces exactly the partitions present in
    // the incoming frame). The conf is query-scoped; the
    // gate aggregates the post-overwrite table against an oracle that
    // restates F from the source — proving both the replacement and the
    // non-replacement.
    Gate("io10_partition_overwrite", { (s, d) =>
      val path = Scratch.dir("dynover", d)
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
                Q.dec2(col("o_totalprice")).as("price"))
      orders.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(path)
      Engine.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        orders.filter(col("o_orderstatus") === "F")
          .withColumn("price", Q.dec2(col("price") * 2))
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      }
      s.read.parquet(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(col("price")).cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
      // Replays the generation split: even keys predate the priority column
      // (NULL there), odd keys carry it.
      // Post-overwrite state restated from the source: F doubled, others as
      // written.
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO13 — the `binaryFile` source: opaque per-document payload files
    // ingested as (path, length, content) rows — the entry point of every
    // multimodal pipeline (images/audio arrive as files, not rows). The
    // fixture files are materialized from the documents table (one .bin
    // per doc, UTF-8 text bytes — a 20-row driver-side write building
    // TEST INPUT, not a data-path collect), then read back through the
    // format; doc_id is recovered from the file name, and length + sha256
    // of the bytes must match the oracle's view of the same text.
    Gate("io13_binary_file", { (s, d) =>
      val path = Scratch.dir("binfiles", d)
      val dir = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(dir)
      Tables.load(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          java.nio.file.Files.write(
            dir.resolve(s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length"),
          sha2(col("content"), 256).as("sha"))
        .orderBy("doc_id")
    },
      // strlen = byte length of the UTF-8 text; sha256 hashes the same bytes.
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
        |  sha256(text) AS sha
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin),

    // IO23 — the line-oriented `text` source: the rawest ingest boundary
    // (log shipping, crawl dumps, one-record-per-line exports arrive as
    // plain text long before anyone agrees on a schema). One file per
    // language is materialized from the documents table (driver-side
    // TEST-INPUT write, io13's pattern — 40 rows), each line
    // `doc_id\ttext`; the gate reads the directory back through
    // `spark.read.text` — one row per LINE, not per file (vs io13's
    // whole-file rows) — recovers the language from the hidden
    // `_metadata` file name, splits each line at the FIRST tab
    // (limit 2 — a tab inside the payload must stay in the payload),
    // and aggregates per language. Byte lengths (octet_length, DuckDB
    // strlen) rather than char counts so the zh corpus hashes
    // identically on both engines. At 100 TB a plain-text file splits
    // on line boundaries across tasks (unlike io20's multiLine CSV,
    // which is one task per file), so the scan parallelizes freely;
    // the per-row split is the schema-on-read cost columnar formats
    // amortize away — which is why this boundary feeds a parquet
    // landing table rather than serving queries directly.
    Gate("io23_text_source", { (s, d) =>
      val path = Scratch.dir("textfiles", d)
      val dir = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(dir)
      Tables.load(s, d, "documents").filter(col("doc_id") < 40)
        .select(col("lang"), col("doc_id"), col("text")).collect()
        .groupBy(_.getString(0))
        .foreach { case (lang, rows) =>
          // Line-oriented writes CORRUPT silently if a payload ever
          // carries a line break (extra lines become NULL-doc_id rows
          // downstream, skewing the aggregate vs the parquet oracle) —
          // fail loudly at write time instead (r8 ADVICE). A production
          // line writer escapes \n/\r; the fixture contract forbids them.
          rows.foreach { r =>
            // A NULL payload is the same contract violation as an
            // embedded line break (and would NPE the scan below —
            // r9 ADVICE): fail with the doc id either way.
            require(r.getString(2) != null,
              s"io23 line writer: doc ${r.getLong(1)} text is NULL — " +
                "the line-per-record format has no null encoding")
            require(!r.getString(2).exists(c => c == '\n' || c == '\r'),
              s"io23 line writer: doc ${r.getLong(1)} text contains a " +
                "line break — would corrupt the line-per-record format")
          }
          val lines = rows.sortBy(_.getLong(1))
            .map(r => s"${r.getLong(1)}\t${r.getString(2)}")
            .mkString("", "\n", "\n")
          java.nio.file.Files.write(
            dir.resolve(s"$lang.txt"),
            lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      val parts = split(col("value"), "\t", 2)
      s.read.text(path)
        .select(
          regexp_extract(col("_metadata.file_name"), "^(.+)\\.txt$", 1)
            .as("lang"),
          element_at(parts, 1).cast("long").as("doc_id"),
          element_at(parts, 2).as("text"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(octet_length(col("text"))).cast("long").as("bytes"),
             min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    },
      // The text-source roundtrip is value-neutral: the oracle aggregates
      // the same 40 documents straight from parquet. strlen = UTF-8 byte
      // length, matching the gate's octet_length.
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS bytes,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents WHERE doc_id < 40
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO12 — Z-ORDER clustered layout: lineitem rewritten range-
    // partitioned + sorted on the Morton interleave of (l_partkey,
    // l_suppkey) ([[graft.functions.ZOrder2]]), then scanned back with a
    // single-dimension predicate. The z-sort bounds BOTH keys per file /
    // row group, so min-max stats prune scans on either key — the one
    // physical layout that serves two independent predicate columns at
    // 100 TB without duplicating the table (a plain sort clusters only
    // its leading column). The hashed contract: the rewrite is lossless
    // and the z-values match the oracle's bit-for-bit; the locality
    // property itself is asserted in LayoutSpec.
    // IO22 — row-group-sized SORTED layout, the parquet scan-skipping
    // knob underneath io12's z-order (which places related rows in the
    // same FILES; this places them in the same ROW GROUPS): orders sorted
    // by date written with a deliberately small `parquet.block.size`, so
    // each file holds many row groups whose date min/max footer stats are
    // tight and non-overlapping — a range predicate then skips whole row
    // groups at scan time (the vectorized reader evaluates pushed filters
    // against footer stats before decoding a single page). At 100 TB the
    // block size is THE lever trading scan granularity against metadata
    // volume; `LayoutSpec` opens the written footers with parquet-hadoop
    // and asserts the multi-row-group shape + tight stats + the pushed
    // scan filter. The gate's own output pins value-neutrality: the
    // monthly rollup through the layout must equal the direct aggregate.
    Gate("io22_rowgroup_stats", { (s, d) =>
      val path = writeRowGrouped(s, d)
      s.read.parquet(path)
        .filter(col("o_orderdate") >= "1996-01-01" &&
                col("o_orderdate") < "1997-01-01")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
             sum(col("cents")).as("sum_cents"))
        .orderBy("month")
    },
      // Replays the Morton interleave as a 21-term bit-spread sum.
      // The layout roundtrip is value-neutral: the oracle aggregates the
      // source table directly with the same range predicate.
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("io12_zorder_layout", { (s, d) =>
      val path = Scratch.dir("zorder", d)
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
                col("l_suppkey"), Q.dec2(col("l_quantity")).as("qty"))
        .withColumn("zv", ZOrder2(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(8, col("zv"))
        .sortWithinPartitions("zv")
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .filter(col("l_partkey") < 100)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
             sum(col("qty")).cast("double").as("sum_qty"),
             max(col("zv")).as("max_zv"))
        .orderBy("l_partkey")
    },
      """WITH z AS (
        |  SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        |    CAST(list_aggregate(list_transform(range(0, 21),
        |      i -> (((l_partkey >> i) & 1) << (2*i)) +
        |           (((l_suppkey >> i) & 1) << (2*i+1))), 'sum') AS BIGINT) AS zv
        |  FROM lineitem)
        |SELECT l_partkey, COUNT(*) AS n,
        |  CAST(SUM(qty) AS DOUBLE) AS sum_qty,
        |  MAX(zv) AS max_zv
        |FROM z WHERE l_partkey < 100
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO24 — HILBERT-curve clustered layout (round 9): io12's multi-
    // dimensional clustering with the curve production layouts
    // (Iceberg/Delta) prefer for RANGE predicates — consecutive Hilbert
    // distances are always grid neighbors (unit steps, no Morton seams
    // where the curve jumps across the keyspace), so equal-size files
    // carry tighter (partkey, suppkey) bounding boxes than the z-sort
    // and range scans on EITHER key touch fewer files (LayoutSpec
    // asserts the boxes and the curve's bijective unit-step property).
    // The hashed contract: the rewrite is lossless and the native
    // `hilbert2` distances ([[graft.functions.Hilbert2]], codegen'd
    // per-bit quadrant walk) match the oracle's 16-step recursive-CTE
    // replay bit-for-bit. Filter on the SECOND key — the axis a
    // single-column sort cannot serve.
    Gate("io24_hilbert_layout", { (s, d) =>
      val path = Scratch.dir("hilbert", d)
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
                col("l_suppkey"), Q.dec2(col("l_quantity")).as("qty"))
        .withColumn("hv", Hilbert2(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(8, col("hv"))
        .sortWithinPartitions("hv")
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .filter(col("l_suppkey") < 40)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
             sum(col("qty")).cast("double").as("sum_qty"),
             max(col("hv")).as("max_hv"))
        .orderBy("l_suppkey")
    },
      // 16-step recursive-CTE replay of Hilbert2Util.xy2d: per distinct
      // key pair, each step examines bit plane s = 2^(15-step), adds
      // s²·((3·rx) XOR ry), and reflects(65535−·)/transposes the frame
      // when ry = 0 — every intermediate a plain non-negative BIGINT, so
      // the arithmetic is identical on both engines.
      """WITH RECURSIVE pts AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) & 65535 AS px,
        |                  CAST(l_suppkey AS BIGINT) & 65535 AS py
        |  FROM lineitem WHERE l_suppkey < 40),
        |hsteps(px, py, step, x, y, d) AS (
        |  SELECT px, py, 0, px, py, CAST(0 AS BIGINT) FROM pts
        |  UNION ALL
        |  SELECT px, py, step + 1,
        |    CASE WHEN (y & (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))) > 0 THEN x
        |         WHEN (x & (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))) > 0 THEN 65535 - y
        |         ELSE y END,
        |    CASE WHEN (y & (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))) > 0 THEN y
        |         WHEN (x & (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))) > 0 THEN 65535 - x
        |         ELSE x END,
        |    d + (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))
        |      * (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))
        |      * xor(CASE WHEN (x & (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))) > 0
        |                 THEN CAST(3 AS BIGINT) ELSE 0 END,
        |            CASE WHEN (y & (CAST(1 AS BIGINT) << CAST(15 - step AS INTEGER))) > 0
        |                 THEN CAST(1 AS BIGINT) ELSE 0 END)
        |  FROM hsteps WHERE step < 16),
        |hv AS (SELECT px, py, d AS hv FROM hsteps WHERE step = 16)
        |SELECT l.l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MAX(hv.hv) AS max_hv
        |FROM lineitem l
        |JOIN hv ON (CAST(l.l_partkey AS BIGINT) & 65535) = hv.px
        |       AND (CAST(l.l_suppkey AS BIGINT) & 65535) = hv.py
        |WHERE l.l_suppkey < 40
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO25 — parquet AGGREGATE pushdown (round 9): a bare
    // MIN/MAX/COUNT(*) answers from ROW-GROUP FOOTER STATISTICS without
    // decoding a single data page — the scan-level lever that turns a
    // 100 TB "how many rows / what's the key range" audit query from a
    // full scan into a metadata read (the same footer stats io22 sizes
    // for range SKIPPING serve whole-query ANSWERING here). Needs the
    // DSv2 parquet scan (the v1 path has no aggregate pushdown), so the
    // gate scopes parquet out of `spark.sql.sources.useV1SourceList` and
    // sets `spark.sql.parquet.aggregatePushdown`; LayoutSpec asserts the
    // plan carries `PushedAggregation: [COUNT(*), MIN(...), MAX(...)]`
    // and that the pushed and unpushed plans agree row-for-row. The
    // contract's boundary is honest: a data filter or a non-key group-by
    // disables the pushdown (stats can't answer those), which is why
    // the gate is the bare-audit shape.
    Gate("io25_agg_pushdown", { (s, d) =>
      Engine.withConf(s,
          "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text",
          "spark.sql.parquet.aggregatePushdown" -> "true") {
        s.read.parquet(s"$d/orders.parquet")
          .agg(count(lit(1)).as("n"),
               min(col("o_orderkey")).as("min_key"),
               max(col("o_orderkey")).as("max_key"))
          .localCheckpoint(true)
      }
    },
      """SELECT COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |  MAX(o_orderkey) AS max_key
        |FROM orders""".stripMargin),

    // IO11 — the `_metadata` hidden file-source column: per-source-file
    // row counts across three fixture tables through one projected scan
    // each. At 100 TB this is the lineage/audit primitive — which file
    // produced which rows, without a filename UDF or an input_file_name()
    // string in every row group (the projection reads ONLY the constant
    // metadata struct, no data columns). The fixture names are stable, so
    // the oracle states them as literals.
    Gate("io11_file_metadata", { (s, d) =>
      Seq("orders", "events", "documents")
        .map(tn => Tables.parquet(s, s"$d/$tn.parquet")
          .select(col("_metadata.file_name").as("file_name")))
        .reduce(_ unionAll _)
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("file_name")
    },
      """SELECT 'orders.parquet' AS file_name, COUNT(*) AS n_rows FROM orders
        |UNION ALL
        |SELECT 'events.parquet' AS file_name, COUNT(*) AS n_rows FROM events
        |UNION ALL
        |SELECT 'documents.parquet' AS file_name, COUNT(*) AS n_rows FROM documents
        |ORDER BY file_name""".stripMargin),

    // IO14 — XML sink → source (Spark 4 native XML, rowTag element per
    // row): the enterprise data-exchange boundary format. The read uses
    // an EXPLICIT schema like every text roundtrip here (inference is an
    // extra full pass); money travels as DECIMAL(18,2) text — exact on
    // both sides of the boundary.
    Gate("io14_xml_roundtrip", { (s, d) =>
      val path = Scratch.dir("xml", d)
      Tables.load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
                Q.dec2(col("s_acctbal")).as("bal"))
        .write.mode("overwrite").option("rowTag", "supplier").format("xml")
        .save(path)
      s.read
        .schema("s_suppkey BIGINT, s_nationkey BIGINT, bal DECIMAL(18,2)")
        .option("rowTag", "supplier").format("xml").load(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
             sum(col("bal")).cast("double").as("sum_bal"),
             max(col("s_suppkey")).as("max_suppkey"))
        .orderBy("s_nationkey")
    },
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  MAX(s_suppkey) AS max_suppkey
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO15 — Avro sink → source: the row-oriented binary format of every
    // Kafka/ingest boundary — schema'd, splittable, compact — vs the
    // columnar formats (parquet/ORC) the at-rest layout uses. The jars
    // ship the format but not its DataSourceRegister alias, so the
    // roundtrip addresses the FileFormat class directly. Self-describing:
    // the read needs no explicit schema, and DECIMAL survives as the
    // Avro decimal logical type.
    Gate("io15_avro_roundtrip", { (s, d) =>
      val avro = "org.apache.spark.sql.avro.AvroFileFormat"
      val path = Scratch.dir("avro", d)
      Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
                Q.dec2(col("c_acctbal")).as("bal"))
        .write.mode("overwrite").format(avro).save(path)
      s.read.format(avro).load(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
             sum(col("bal")).cast("double").as("sum_bal"),
             max(col("c_custkey")).as("max_custkey"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  MAX(c_custkey) AS max_custkey
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO16 — PERMISSIVE corrupt-record ingest: a JSONL boundary file with
    // deterministically PLANTED malformed lines (every 97th key gets a
    // broken prefix), read back with `columnNameOfCorruptRecord` — bad
    // lines survive as quarantine rows instead of failing the job or
    // silently vanishing (what DROPMALFORMED would do). At 100 TB this IS
    // the ingest posture: the corrupt count is a data-quality metric and
    // the quarantined raw lines are replayable; the gate hashes good-row
    // aggregates AND the corrupt-row count.
    Gate("io16_corrupt_records", { (s, d) =>
      val path = Scratch.dir("corrupt", d)
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            (Q.dec2(col("o_totalprice")) * 100).cast("long").as("cents")))
            .as("j"))
        .select(when(col("o_orderkey") % 97 === 0,
                     concat(lit("{broken "), col("j")))
                  .otherwise(col("j")).as("value"))
        .write.mode("overwrite").text(path)
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT, " +
                "_bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
        .select(when(col("_bad").isNotNull, "_corrupt")
                  .otherwise(col("o_orderstatus")).as("status"),
                coalesce(col("cents"), lit(0L)).as("cents"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("status")
    },
      // Replays the planting: every 97th key is quarantined with zero cents.
      """WITH r AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN '_corrupt'
        |              ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 97 = 0 THEN 0
        |         ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                   AS BIGINT) END AS cents
        |  FROM orders)
        |SELECT status, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO17 — MERGE upsert (SCD-1): a base table rewritten with an updates
    // frame — matched keys take the update's values (every 10th order
    // re-priced ×2), unmatched updates insert (10 new orders above the
    // max key) — via the full-outer + coalesce formulation, the engine-
    // level mechanics under every lakehouse MERGE INTO. The rewrite round-
    // trips through parquet and the gate hashes the merged state, so
    // update-wins precedence, insert survival, and untouched-row fidelity
    // are all pinned. (A metadata-transactional table format adds commit
    // atomicity on top; the dataflow is exactly this.)
    Gate("io17_merge_upsert", { (s, d) =>
      val path = Scratch.dir("merge", d)
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
                (Q.dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      val maxK = base.agg(max(col("k")).as("mx"))
      val updates = base.filter(col("k") % 10 === 0)
        .select(col("k"), lit("U").as("status"), (col("cents") * 2).as("cents"))
        .unionByName(base.filter(col("k") % 100 === 7).crossJoin(maxK)
          .select((col("k") + col("mx")).as("k"), lit("N").as("status"),
                  col("cents")))
      base.write.mode("overwrite").parquet(s"$path/base")
      val b = s.read.parquet(s"$path/base")
      val u = updates.select(col("k").as("uk"), col("status").as("ustatus"),
                             col("cents").as("ucents"))
      b.join(u, col("k") === col("uk"), "full_outer")
        .select(coalesce(col("k"), col("uk")).as("k"),
                coalesce(col("ustatus"), col("status")).as("status"),
                coalesce(col("ucents"), col("cents")).as("cents"))
        .write.mode("overwrite").parquet(s"$path/merged")
      s.read.parquet(s"$path/merged")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
             max(col("k")).as("max_key"))
        .orderBy("status")
    },
      // Replays the merge: %10 keys become status 'U' with doubled cents,
      // %100=7 keys also insert as 'N' above the max key, the rest persist.
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT MAX(k) AS mx FROM base),
        |merged AS (
        |  SELECT k,
        |    CASE WHEN k % 10 = 0 THEN 'U' ELSE status END AS status,
        |    CASE WHEN k % 10 = 0 THEN cents * 2 ELSE cents END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT k + mx AS k, 'N' AS status, cents
        |  FROM base CROSS JOIN mx WHERE k % 100 = 7)
        |SELECT status, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  MAX(k) AS max_key
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO4 — bucketed co-located join: orders ⋈ customer on custkey with
    // both sides pre-bucketed on the key — zero shuffle exchange in the
    // join AND the downstream per-customer aggregate (asserted by
    // LayoutSpec). The shuffle is paid once at write time; every
    // subsequent key-aligned query rides it.
    Gate("io4_bucketed_join", (s, d) =>
      LayoutOps.bucketedSpendPerCustomer(s, d)
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // IO18 — RUNTIME BLOOM-FILTER join pruning: the row-level companion of
    // io7's partition-level DPP. Catalyst's InjectRuntimeFilter turns the
    // selective dim-side predicate into a bloom-filter aggregate at
    // runtime and injects it as a `might_contain` predicate on the fact
    // scan (asserted by LayoutSpec), so fact rows that cannot join die at
    // the scan instead of riding the shuffle — at 100 TB the shuffle IS
    // the cost, and a 1%-selective dim cuts the fact exchange ~100×.
    // Broadcast is disabled in-scope (the rule targets shuffle joins —
    // a broadcastable dim wouldn't need the lever) and the application-
    // side size threshold is fixture-scaled (the 10 GB default assumes a
    // real cluster — at scale the default heuristics decide). Bloom false
    // positives only admit rows the join itself discards, so the result
    // is exactly the plain join's — which is the oracle. The frame is
    // materialized inside the conf scope (localCheckpoint) so the session
    // settings are restored no matter when the caller executes it.
    Gate("io18_bloom_join", { (s, d) =>
      withBloomFilterConf(s)(bloomPrunedRevenue(s, d).localCheckpoint(true))
    },
      // The bloom filter is transparent to semantics: the oracle is the
      // plain selective-dim join.
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |JOIN (SELECT o_orderkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT'
        |        AND o_totalprice > 150000.0) o
        |  ON l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO19 — WRITE-SIDE parquet bloom filters: the storage-level
    // companion of io18's runtime filter. The writer embeds a per-column
    // bloom filter in each row group's metadata (`parquet.bloom.filter.
    // enabled#col`, ndv-sized), and any later point/IN-list scan on that
    // column can skip whole row groups whose filter proves the key absent
    // — the difference between touching every file of a 100 TB table and
    // touching the row groups that can match, WITHOUT re-sorting the data
    // (io12's z-order clusters; this filters post-hoc). LayoutSpec
    // asserts the footer actually carries the filter (offset ≥ 0) and
    // that unconfigured columns don't pay for one. The gate proves the
    // roundtrip is lossless under an IN-list probe.
    Gate("io19_parquet_bloom", { (s, d) =>
      val path = Scratch.dir("pqbloom", d)
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
                Q.dec2(col("o_totalprice")).as("price"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        // parquet-mr DROPS the bloom filter when a chunk stays fully
        // dictionary-encoded (the dictionary already answers membership
        // exactly) — true for every column at fixture scale. Production
        // bloom columns are high-NDV keys whose dictionaries overflow to
        // plain encoding anyway; forcing plain here makes the fixture
        // exhibit the production footer.
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(path)
      s.read.parquet(path)
        .filter(col("o_custkey").isin(7L, 107L, 1007L))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("spend"))
        .orderBy("o_custkey")
    },
      // The embedded bloom filter is metadata — the IN-list probe result
      // must equal the plain-table filter.
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders WHERE o_custkey IN (7, 107, 1007)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO20 — CSV quoting/escaping/multiline roundtrip: every value
    // carries the three delimiters that break naive CSV (the field
    // separator, the quote char, an embedded NEWLINE), written through
    // Spark's quoting writer and read back with `multiLine` — the parser
    // mode where a record may span physical lines, so the file cannot be
    // split on newlines. That is the 100 TB trade stated plainly: a
    // multiLine CSV file is ONE task (no intra-file splits) — the gate
    // proves the engine survives the format; the scale posture is
    // io1-style clean CSV or parquet. The oracle replays the computed
    // values from the source table — the CSV cycle must be lossless.
    Gate("io20_csv_multiline", { (s, d) =>
      val path = Scratch.dir("csvml", d)
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
                concat(col("o_orderpriority"), lit(",\""), lit("\n"),
                       col("o_orderstatus")).as("v"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, v STRING")
        .option("header", "true").option("multiLine", "true").csv(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(length(col("v"))).cast("long").as("sum_len"),
             countDistinct(col("v")).as("n_distinct"))
        .orderBy("o_orderstatus")
    },
      // The CSV cycle must be lossless, so the oracle rebuilds the tricky
      // value (separator + quote + newline) straight from the source table.
      """WITH t AS (
        |  SELECT o_orderstatus,
        |    o_orderpriority || ',"' || chr(10) || o_orderstatus AS v
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(v)) AS BIGINT) AS sum_len,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    // IO21 — nested-directory file discovery: `recursiveFileLookup` (the
    // layout of a years-old lake — dumps arrive under arbitrary
    // sub-folders, not hive-style k=v partitions) + `pathGlobFilter`
    // excluding the junk that accumulates beside data files (abandoned
    // temp files, stray exports). The discovery discipline of a 100 TB
    // ingest: listing is driver/metadata work proportional to file count,
    // and a single non-parquet stray in any sub-folder would otherwise
    // fail the scan at footer-read time (LayoutSpec asserts exactly that
    // without the glob). recursiveFileLookup deliberately disables
    // partition inference — nothing in the dir names is data.
    Gate("io21_glob_discovery", { (s, d) =>
      val base = Scratch.dir("glob", d)
      val part = Tables.load(s, d, "part")
        .select(col("p_partkey"), col("p_brand"),
                Q.dec2(col("p_retailprice")).as("price"))
      // Three disjoint thirds into three differently-nested sub-folders —
      // the "many deliveries, many layouts" reality the recursive lookup
      // exists for.
      Seq(("batch1/early", 0), ("batch1/late", 1), ("batch2", 2)).foreach {
        case (sub, m) => part.filter(col("p_partkey") % 3 === m)
          .write.mode("overwrite").parquet(s"$base/$sub")
      }
      // Stray non-data files a naive recursive read would trip over.
      val junk = Seq(s"$base/batch1/early/stale-export.json" -> "{\"not\":\"parquet\"}",
                     s"$base/batch2/notes.txt" -> "leftover\n")
      junk.foreach { case (p, content) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          content.getBytes("UTF-8"))
      }
      s.read
        .schema("p_partkey BIGINT, p_brand STRING, price DECIMAL(18,2)")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
             sum(col("price")).cast("double").as("sum_price"))
        .orderBy("p_brand")
    },
      // Discovery is layout-plumbing only: the three nested thirds union
      // back to the whole table, junk excluded — so the oracle is the plain
      // per-brand aggregate over the source.
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin))
}
