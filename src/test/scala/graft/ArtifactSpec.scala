package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, DedupQueries, MatchGraph}

/** The staged match-graph artifact (l64 family — and, since round 16,
  * every pair-derived gate: l2, l2b, l50, l57, l61) must be a PURE
  * REFACTOR of the from-scratch dataflow: each staged gate's rows equal
  * the from-scratch engine run exactly. The oracle side already enforces
  * this against DuckDB; this spec pins the ENGINE side directly against
  * the retained from-scratch operators in [[DedupOps]], so a drift that
  * happened to fool both oracles identically would still fail here.
  * Because the staged gates now read the artifact, each pin's
  * from-scratch side is built from the raw docs — never via
  * [[graft.operators.MatchGraph]] — to keep the equality non-vacuous.
  */
class ArtifactSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq

  private def gate(name: String): Seq[Seq[Any]] =
    rows(SparkEntry.queries(name)(spark, d))

  private def same(staged: String, scratch: DataFrame): Unit = {
    val a = gate(staged)
    val s = rows(scratch)
    assert(a.nonEmpty, s"$staged returned no rows — vacuous equality")
    assert(a == s, s"$staged != from-scratch twin (${a.size} vs ${s.size} rows)")
  }

  private def docs = Tables.load(spark, d, "documents")

  test("staged l2 / l64 pairs equal the from-scratch prefix-filter engine") {
    val scratch = DedupOps.clusteredJaccardPairs(docs, 0.8).orderBy("da", "db")
    same("l2_near_dup", scratch)
    same("l64_match_artifact", scratch)
  }

  test("ensure rebuilds when the corpus is rewritten under the same path") {
    // The memo key is the dir PLUS the documents' file lengths and mtimes:
    // a rewritten corpus must never be served the previous corpus' pairs.
    import spark.implicits._
    Scratch.using("artifact") { path =>
      val dir = path.toString
      def write(texts: Seq[String]): Unit =
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text").write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      def staged(): Set[(Long, Long)] =
        spark.read.parquet(MatchGraph.ensure(spark, dir).pairs)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      write(Seq("the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",
                "completely different text with other content"))
      assert(staged() == Set((0L, 1L)))
      write(Seq("spark engines shuffle partitions across executors",
                "completely different text with other content",
                "completely different text with other content!"))
      val after = staged()
      assert(after == Set((1L, 2L)), s"stale artifact served: $after")
      assert(after == rows(DedupOps.clusteredJaccardPairs(
        Tables.load(spark, dir, "documents"), 0.8)).map {
          case Seq(a: Long, b: Long, _) => (a, b)
        }.toSet)
    }
  }

  test("the memo key's file list equals listFiles' path|len|mtime") {
    // A single-file corpus and a nested, partitioned one with `_SUCCESS`.
    import spark.implicits._
    Scratch.using("artifact-key") { path =>
      Seq((1L, "a", 0), (2L, "b", 1)).toDF("doc_id", "text", "p").write
        .partitionBy("p").parquet(s"$path/documents.parquet")
      Seq(d, path.toString).foreach { dir =>
        val docs = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
        val it = docs.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listFiles(docs, true)
        val want = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").toSeq.sorted
        assert(want.nonEmpty && Tables.files(spark, s"$dir/documents.parquet") == want, dir)
      }
    }
  }

  test("a warm match-graph rebuild runs at most 20 Spark jobs") {
    // The sf0.001 build at the test session's width: the contraction, the
    // code-index collect and the dense kernel, the three artifact writes
    // and the rep graph's one collect. A job more is a regression: a
    // schema read, a corpus re-exchange or a collect the driver could do
    // without.
    MatchGraph.rebuild(spark, d)
    val (_, jobs) = jobsOf(MatchGraph.rebuild(spark, d))
    assert(jobs <= 20, s"a warm rebuild ran $jobs jobs")
  }

  test("a match-graph rebuild forks no process") {
    assertNoForks("MatchGraph.rebuild")(MatchGraph.rebuild(spark, d))
  }

  test("staging sweeps artifact trees whose JVM is gone and keeps live ones") {
    // No pid reaches 10^9 (Linux caps pid_max at 2^22), so that tree's
    // process is gone; pid 1 and this JVM are alive. Both Scratch bases
    // (disk and tmpfs) are swept by one call.
    Scratch.using("sweep-disk") { disk =>
      Scratch.using("sweep-tmpfs", tmpfs = true) { tmpfs =>
        val bases = Seq(disk.toFile, tmpfs.toFile)
        def tree(base: java.io.File, name: String): java.io.File = {
          val f = new java.io.File(base, s"$name/match-t800000-n3-00/rep_pairs")
          f.mkdirs()
          new java.io.File(base, name)
        }
        def trees(name: String) = bases.map(tree(_, name))
        val dead = trees("jvm-1000000000")
        val own = trees(s"jvm-${ProcessHandle.current().pid()}")
        val live = trees("jvm-1")
        val other = trees("not-a-jvm-tree")
        Scratch.sweep(bases)
        assert(!dead.exists(_.exists()), "a dead JVM's tree must be swept")
        assert((own ++ live ++ other).forall(_.exists()),
          "live JVMs' trees and non-JVM entries must stay")
      }
    }
  }

  test("a Scratch.using directory is gone after its body returns or throws") {
    Seq(false, true).foreach { tmpfs =>
      var seen: java.nio.file.Path = null
      val r = Scratch.using("using-spec", tmpfs) { d =>
        seen = d
        java.nio.file.Files.write(d.resolve("f"), Array[Byte](1))
        java.nio.file.Files.createDirectories(d.resolve("a/b"))
        42
      }
      assert(r == 42 && seen != null && !seen.toFile.exists(),
        s"$seen survived a normal return")
      val boom = intercept[IllegalStateException] {
        Scratch.using("using-spec", tmpfs) { d =>
          seen = d
          java.nio.file.Files.write(d.resolve("f"), Array[Byte](1))
          throw new IllegalStateException("boom")
        }
      }
      assert(boom.getMessage == "boom")
      assert(!seen.toFile.exists(), s"$seen survived a throw")
    }
  }

  test("staged l50 / l64b survivorship equals the from-scratch map") {
    val dd = docs
    val scratch =
      DedupQueries.survivorshipMap(dd, DedupQueries.scratchComponents(dd))
    same("l50_survivorship", scratch)
    same("l64b_artifact_survivorship", scratch)
  }

  test("staged l61 / l64c source overlap equals the from-scratch matrix") {
    val dd = docs
    val scratch =
      DedupQueries.sourceOverlapMatrix(dd, DedupQueries.scratchComponents(dd))
    same("l61_source_overlap", scratch)
    same("l64c_artifact_source_overlap", scratch)
  }

  test("staged l57 / l64d calibration equals the from-scratch engine") {
    val scratch = DedupOps.minhashCalibration(docs, 0.8).orderBy("da", "db")
    same("l57_minhash_calibration", scratch)
    same("l64d_artifact_calibration", scratch)
  }
}
