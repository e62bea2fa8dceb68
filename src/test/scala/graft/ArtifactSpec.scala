package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, LlmQueries, MatchGraph}

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
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    def staged(): Set[(Long, Long)] =
      spark.read.parquet(MatchGraph.ensure(spark, dir).pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
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
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("staging sweeps artifact trees whose JVM is gone and keeps live ones") {
    // No pid reaches 10^9 (Linux caps pid_max at 2^22), so that tree's
    // process is gone; pid 1 and this JVM are alive.
    val base = java.nio.file.Files.createTempDirectory("graft-sweep-").toFile
    def tree(name: String): java.io.File = {
      val f = new java.io.File(base, s"$name/match-t800000-n3-00/rep_pairs")
      f.mkdirs()
      new java.io.File(base, name)
    }
    try {
      val dead = tree("jvm-1000000000")
      val own = tree(s"jvm-${ProcessHandle.current().pid()}")
      val live = tree("jvm-1")
      val other = tree("not-a-jvm-tree")
      MatchGraph.sweepDeadScopes(base)
      assert(!dead.exists(), "a dead JVM's tree must be swept")
      assert(own.exists() && live.exists() && other.exists(),
        "live JVMs' trees and non-JVM entries must stay")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("staged l50 / l64b survivorship equals the from-scratch map") {
    val dd = docs
    val scratch =
      LlmQueries.survivorshipMap(dd, LlmQueries.scratchComponents(dd))
    same("l50_survivorship", scratch)
    same("l64b_artifact_survivorship", scratch)
  }

  test("staged l61 / l64c source overlap equals the from-scratch matrix") {
    val dd = docs
    val scratch =
      LlmQueries.sourceOverlapMatrix(dd, LlmQueries.scratchComponents(dd))
    same("l61_source_overlap", scratch)
    same("l64c_artifact_source_overlap", scratch)
  }

  test("staged l57 / l64d calibration equals the from-scratch engine") {
    val scratch = DedupOps.minhashCalibration(docs, 0.8).orderBy("da", "db")
    same("l57_minhash_calibration", scratch)
    same("l64d_artifact_calibration", scratch)
  }
}
