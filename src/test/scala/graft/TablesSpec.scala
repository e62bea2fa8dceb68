package graft

import graft.operators.MatchGraph

/** `Tables.parquet`'s schema memo: a warm read starts no schema job, and
  * the memo never serves a schema that a fresh inference would not return.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as the single Parquet file `file`, the fixtures' shape. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, file: java.nio.file.Path): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(part.length == 1)
    java.nio.file.Files.move(part.head.toPath, file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second Tables.load of a table starts no job through planning") {
    Scratch.using("schema-load") { dir =>
      writeFile(Seq((1L, "o"), (2L, "f")).toDF("o_orderkey", "o_orderstatus"),
        dir.resolve("orders.parquet"))
      Tables.load(spark, dir.toString, "orders").schema
      val (_, jobs) = jobsOf {
        val df = Tables.load(spark, dir.toString, "orders")
        df.schema
        df.queryExecution.executedPlan
      }
      assert(jobs == 0, s"warm load started $jobs jobs")
      assert(Tables.load(spark, dir.toString, "orders").schema ==
        spark.read.parquet(s"$dir/orders.parquet").schema)
    }
  }

  test("a file rewritten with another schema returns the new schema") {
    Scratch.using("schema-memo") { dir =>
      val file = dir.resolve("t.parquet")
      writeFile(Seq((1L, "a")).toDF("k", "v"), file)
      assert(Tables.parquet(spark, file.toString).schema.fieldNames.toSeq == Seq("k", "v"))
      writeFile(Seq((2.5, 3, "b")).toDF("x", "y", "z"), file)
      val after = Tables.parquet(spark, file.toString)
      assert(after.schema == spark.read.parquet(file.toString).schema)
      assert(after.as[(Double, Int, String)].collect().toSeq == Seq((2.5, 3, "b")))
    }
  }

  test("a change of spark.sql.legacy.parquet.nanosAsLong gets its own memo entry") {
    Scratch.using("schema-conf") { dir =>
      val path = dir.resolve("t").toString
      Seq((1L, 2L)).toDF("a", "b").write.parquet(path)
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      def load(v: String): Long =
        Engine.withConf(spark, key -> v)(jobsOf(Tables.parquet(spark, path).schema)._2)
      // A miss runs the one schema job; each conf value misses once.
      assert(Seq(load("true"), load("false"), load("true"), load("false")) == Seq(1, 1, 0, 0))
    }
  }

  test("each match-artifact reader's schema equals a fresh read's, with no schema job") {
    Scratch.using("schema-artifact") { dir =>
      writeFile(Seq((0L, "the quick brown fox jumps over the lazy dog"),
                    (1L, "the quick brown fox jumps over the lazy dog"),
                    (2L, "the quick brown fox jumps over the lazy cat"),
                    (3L, "completely different text with other content"))
                  .toDF("doc_id", "text"), dir.resolve("documents.parquet"))
      val art = MatchGraph.rebuild(spark, dir.toString)
      Seq(art.repPairs, art.pairs, art.components).foreach { p =>
        val (schema, jobs) = jobsOf(Tables.parquet(spark, p).schema)
        assert(jobs == 0, s"$p: reader started $jobs jobs")
        assert(schema == spark.read.parquet(p).schema, p)
        assert(schema.forall(_.nullable), p)
      }
      assert(Tables.parquet(spark, art.pairs).count() > 0)
    }
  }
}
