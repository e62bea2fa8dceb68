package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stateful-STREAMING scale probe (r10 VERDICT "Next round" 4): every heavy
  * batch operator has a ScaleProbe ladder, but the 100 TB claim for the
  * transformWithState family rested on argument (RocksDB ListState appends
  * are merge-writes; changelog checkpointing ships the batch delta, not the
  * state) — this measures it. An event-multiple ladder (1×–8× copies of the
  * events fixture, user/event ids shifted per copy so STATE WIDTH scales
  * with the corpus) drives the s27-shaped TWS sessionization
  * ([[EventStreams.twsSessionDigests]] — ListState buffer + ValueState
  * clock + event-time timers, the heaviest state shape in the engine)
  * under the RocksDB provider, with changelog checkpointing OFF vs ON
  * (the s26 contract), and records per rung:
  *
  *  - `bulk_s`: wall-clock for the 8-micro-batch bulk run (the per-commit
  *    checkpoint cost lever: full-snapshot upload per store per batch when
  *    changelog is off, change-set upload when on);
  *  - `state_rows`: max `numRowsTotal` the state operator reports — the
  *    evidence state actually widens with the ladder;
  *  - `ckpt_mb`: bytes under the checkpoint after the bulk run;
  *  - `delta_s`: wall-clock of a RESTART incarnation processing a
  *    FIXED-SIZE delta (2 000 events regardless of rung) — state-store
  *    recovery (snapshot load / changelog replay) plus one small batch.
  *    The at-scale claim is about this column's SHAPE: recovery must
  *    track the delta, not the rung multiple.
  *
  * Micro-batch structure is pinned, not incidental: the bulk lands as 8
  * ts-ordered files with `maxFilesPerTrigger=1`, so every rung pays the
  * same number of commits and arrival order mirrors production (time-
  * ordered), keeping the inline-close sessionization path on its fixture
  * contract. 8 shuffle partitions (the gates' stateful width) keep the
  * per-store constant overhead from drowning the signal.
  *
  * Run: `SPARK_DRIVER_MEM=24g tools/run.sh graft.StateProbe
  * /root/testdata/sf0.1 8` on a quiet host.
  */
object StateProbe {

  private def eventsX(base: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      base.select(
        (col("event_id") + lit(c * 1000000000L)).as("event_id"),
        (col("user_id") + lit(c * 10000000L)).as("user_id"),
        col("ts"), col("value"))
    }.reduce(_.unionByName(_))

  private def dirBytes(p: java.nio.file.Path): Long = {
    val it = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally it.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxX = if (args.length > 1) args(1).toInt else 8
    val spark = Engine.local()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // Fixed-size delta: 2 000 first-copy events re-keyed past every bulk
    // event_id, time-shifted past every bulk ts (a ≥gap jump — the restart
    // batch closes and reopens sessions for the touched users only).
    val delta = base.orderBy("event_id").limit(2000)
      .select((col("event_id") + lit(900000000000L)).as("event_id"),
              col("user_id"),
              (col("ts") + expr("INTERVAL 40 DAYS")).as("ts"), col("value"))
      .localCheckpoint(true)

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // The gates' stateful width (EventStreams.runToCompletion rationale):
    // every micro-batch opens/commits one store per shuffle partition.
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    // Untimed warm-up: the streaming engine's one-time costs (RocksDB JNI
    // load, state-store codegen, micro-batch planner classes) otherwise
    // land entirely inside the 1× rung and invert the ladder's shape —
    // the first probe run read 1× bulk_s 11.4 s vs 8× 3.7 s on identical
    // code, a pure first-touch artifact.
    Scratch.using("stateprobe-warm") { root =>
      val srcDir = java.nio.file.Files.createDirectory(root.resolve("src"))
      Scratch.writeSingleParquet(base.limit(5000), root.resolve("w"),
                                 srcDir.resolve("warm.parquet"))
      val stream = spark.readStream.schema(base.schema).parquet(srcDir.toString)
      val q = EventStreams.twsSessionDigests(
        stream.select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .as[EventStreams.IdEvent]).toDF
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    println(f"${"x"}%3s ${"chlog"}%5s ${"events"}%8s ${"bulk_s"}%8s " +
            f"${"state_rows"}%10s ${"ckpt_mb"}%8s ${"delta_s"}%8s")
    Iterator.from(0).map(1 << _).takeWhile(_ <= maxX).foreach { x =>
      val evx = eventsX(base, x).localCheckpoint(true)
      val n = evx.count()
      val Array(tsMin, tsMax) = evx
        .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
        .head().toSeq.map(_.toString.toLong).toArray
      val span = math.max(1L, tsMax - tsMin + 1)
      // Integer bucketing (floor + cast). The r11 probe used SQL `/` here,
      // which is DOUBLE division — `=== b` then only matched rows whose
      // quotient was exactly integral, silently dropping ~all events and
      // making every rung process a near-empty bulk. Guard: the 8 buckets
      // must PARTITION the rung (sum == n), so a regression fails loudly
      // instead of producing a flat artifact ladder again.
      val bucketCol = floor((unix_micros(col("ts")) - tsMin) * 8 / span).cast("int")
      val bucketCounts = evx.groupBy(bucketCol.as("b")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(bucketCounts.values.sum == n && bucketCounts.keys.forall(b => b >= 0 && b < 8),
        s"bulk buckets must partition the rung: n=$n buckets=$bucketCounts")
      Seq(false, true).foreach { changelog =>
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          changelog.toString)
        // Min of 3 COMPLETE cell repeats, each against a fresh source +
        // checkpoint (a streaming rerun over a used checkpoint would
        // no-op under AvailableNow): single-run cells caught the host's
        // multi-second stall episodes (first probe: a 24.5 s outlier at
        // 1× next to 3.1 s at 8× on identical code), and an 8-commit run
        // is short enough that one stall dominates the cell.
        val reps = (1 to 3).map(_ => Scratch.using("stateprobe") { root =>
          val srcDir = java.nio.file.Files.createDirectory(root.resolve("src"))
          val ckpt = root.resolve("ckpt").toString
          // 8 ts-ordered bulk files → 8 time-ordered micro-batches per rung.
          (0 until 8).foreach { b =>
            Scratch.writeSingleParquet(evx.filter(bucketCol === b),
              root.resolve("w"), srcDir.resolve(f"bulk_$b%02d.parquet"))
          }
          def run(): (Double, Long) = {
            val stream = spark.readStream.schema(evx.schema)
              .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
            val digests = EventStreams.twsSessionDigests(
              stream.select(col("user_id"), col("event_id"), col("ts"), col("value"))
                .as[EventStreams.IdEvent]).toDF
            val t0 = System.nanoTime()
            val q = digests.writeStream.format("noop").outputMode("append")
              .option("checkpointLocation", ckpt)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val secs = (System.nanoTime() - t0) / 1e9
            val rows = q.recentProgress
              .flatMap(_.stateOperators.map(_.numRowsTotal))
              .foldLeft(0L)(math.max)
            (secs, rows)
          }
          val (bulkS, stateRows) = run()
          val ckptMb = dirBytes(root.resolve("ckpt")) / 1e6
          Scratch.writeSingleParquet(delta, root.resolve("w"),
                                     srcDir.resolve("delta.parquet"))
          val (deltaS, _) = run()
          (bulkS, stateRows, ckptMb, deltaS)
        })
        println(f"$x%3d ${if (changelog) "on" else "off"}%5s $n%8d " +
                f"${reps.map(_._1).min}%8.2f ${reps.map(_._2).max}%10d " +
                f"${reps.map(_._3).max}%8.1f ${reps.map(_._4).min}%8.2f")
      }
    }
    spark.stop()
  }
}
