package graft.operators

import graft.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STAGED MATCH-GRAPH ARTIFACT (the l64 family, round 15 — the r14
  * verdict's top item): the verified near-dup pair engine (exact-dup
  * contraction → prefix-filter candidates → exact Jaccard verify,
  * [[DedupOps.clusteredJaccardPairs]]) is the single most expensive stage
  * of the curation surface, and before this module FOUR consumers (l2
  * pairs, l50 survivorship, l57 calibration, l61 source overlap) each
  * re-ran it from the corpus — ~25–30 s of the sf0.1 bench and, at 100 TB,
  * four redundant corpus passes. A production curation stack stages
  * instead: run the pair engine ONCE, persist its verified output as a
  * durable artifact, and derive every downstream product from the
  * artifact. This is the engine-native form of the reference's own staged
  * blobs — the mapper writes shuffle output to the bucket
  * (`mapper/main.py:43-46`) and the orchestrator's reduce phase re-reads
  * it (`orchestrator/main.py:118-126`) rather than recomputing the map.
  *
  * Artifact layout (all Parquet, all MATCH-sized — bounded by the
  * verified duplication in the corpus, never corpus-quadratic):
  *   - `rep_pairs`   (da, db, jaccard): verified pairs between exact-dup
  *     representatives — the pair engine's native output.
  *   - `pairs`       (da, db, jaccard): the doc-level expansion (cluster
  *     members inherit their representative's pairs; within-cluster pairs
  *     at Jaccard 1.0) — the l2 output contract.
  *   - `components`  (doc_id, component_id): connected components of the
  *     doc-level match graph, matched docs only (a doc absent from every
  *     pair is a singleton by construction and is NOT stored).
  *
  * Components are computed on the REPRESENTATIVE graph and expanded —
  * cheaper than doc-level CC and provably equal: members of one exact
  * cluster are mutually paired (within-cluster edges), so a doc's
  * component is its representative's, and a component's min doc_id equals
  * its min rep_id (each rep IS the min doc_id of its cluster). Clusters
  * with ≥ 2 members whose rep touches no rep pair still form a component
  * (their within-cluster pairs are real match-graph edges) with
  * component_id = rep_id. `ArtifactSpec` pins from-scratch ≡ from-artifact
  * for every derived gate.
  *
  * Lifecycle: one BUILD per JVM per corpus ([[ensure]] memoizes on the
  * dir plus its documents' file lengths and modification times;
  * [[rebuild]] — the l64 write gate — always recomputes and overwrites, so
  * every verify/bench process refreshes the artifact before any consumer
  * can read a stale one). Derived gates consume the PARQUET (a genuine
  * sink→source cycle, like the io-family roundtrips), not the lineage.
  * The artifact lives in this JVM's [[Scratch]] root, so no other process
  * reads or overwrites it.
  */
object MatchGraph {

  /** Filesystem roots of one built artifact. */
  case class Artifact(repPairs: String, pairs: String, components: String)

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Artifact]()

  private def root(s: SparkSession, sfDir: String, threshold: Double,
                   n: Int): String = {
    // Keyed on the dir AND the documents input's file lengths and
    // modification times: a corpus rewritten under the same path gets a
    // fresh artifact from `ensure` instead of the old one's pairs.
    val docs = new org.apache.hadoop.fs.Path(s"$sfDir/documents.parquet")
    val it = docs.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listFiles(docs, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
      .toSeq.sorted
    val t = math.round(threshold * 1e6)
    Scratch.dir("match", (s"t$t-n$n" +: sfDir +: files).mkString("\n"))
  }

  /** Read-through: build once per JVM per corpus, then hand every
    * caller the same on-disk artifact.
    */
  def ensure(s: SparkSession, sfDir: String, threshold: Double = 0.8,
             n: Int = 3): Artifact =
    built.computeIfAbsent(root(s, sfDir, threshold, n),
                          r => build(s, sfDir, r, threshold, n))

  /** Force a fresh build (the l64 write gate's entry — the write IS the
    * measured operator, like io1's CSV sink).
    */
  def rebuild(s: SparkSession, sfDir: String, threshold: Double = 0.8,
              n: Int = 3): Artifact = {
    val r = root(s, sfDir, threshold, n)
    val a = build(s, sfDir, r, threshold, n)
    built.put(r, a)
    a
  }

  private def build(s: SparkSession, sfDir: String, r: String,
                    threshold: Double, n: Int): Artifact = {
    val docs = Tables.load(s, sfDir, "documents")
    // THE contraction definition — shared with the from-scratch clustered
    // wrappers ([[DedupOps.exactContraction]]), so the staged and
    // from-scratch paths cannot drift by a one-sided edit. (doc_id,
    // rep_id, csize) is persisted: it feeds both sides of the pair
    // expansion and the component expansion.
    val (members0, reps) = DedupOps.exactContraction(docs)
    val members = members0.persist()
    try {
      // THE one pair-engine run this artifact amortizes. Its result is
      // already an eager local checkpoint on both routes, so the two
      // expansions below read that frame, not the file just written.
      val repPairs = DedupOps.prefixJaccardPairs(reps, threshold, n)
      repPairs.write.mode("overwrite").parquet(s"$r/rep_pairs")

      // Doc-level expansion — the l2 output contract, the shared
      // [[DedupOps.expandRepPairs]] definition.
      DedupOps.expandRepPairs(members, repPairs)
        .write.mode("overwrite").parquet(s"$r/pairs")

      // Components on the REP graph (match-sized iterative state), then
      // one broadcast-scale expansion back to docs — the shared
      // [[DedupOps.repComponents]] definition (round 15: l50/l61 now ride
      // the same rep-graph construction, so it lives in DedupOps).
      DedupOps.repComponents(members, repPairs)
        .write.mode("overwrite").parquet(s"$r/components")
    } finally members.unpersist(blocking = false)
    Artifact(s"$r/rep_pairs", s"$r/pairs", s"$r/components")
  }
}
