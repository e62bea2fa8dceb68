package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames — the family
  * [[DedupOps.connectedComponents]] opened (dedup clusters), extended with
  * triangle counting (the clustering-coefficient / community-density
  * primitive; no reference analogue — the extended-surface mandate) and
  * PageRank. These are the arbitrary-graph operators; the dedup-graph
  * gates run on the fingerprint-class quotient instead
  * ([[DedupOps.simhashTriangleCounts]], [[DedupOps.simhashPageRank]]),
  * and the specs pin each quotient equal to its operator here.
  *
  * Representation: undirected simple graph as distinct `(da, db)` rows with
  * `da < db` — exactly the near-dup pair contract of
  * [[DedupOps.simhashPairs]] / [[DedupOps.prefixJaccardPairs]], so the
  * dedup-graph outputs feed straight in.
  */
object GraphOps {

  /** Per-node triangle participation counts: one row `(doc_id, n_triangles)`
    * per node that closes at least one triangle.
    *
    * Algorithm: DEGREE-ORDERED edge orientation (the MapReduce-standard
    * triangle enumeration, Suri & Vassilvitskii WWW'11): every edge is
    * oriented from its lower endpoint to its higher endpoint under the
    * total order (degree, id); wedges are built only from a common SOURCE's
    * out-neighbors, and a wedge (t1, t2) closes iff the oriented edge
    * t1→t2 exists (t1 precedes t2 in the same order by construction, so
    * only one direction needs probing). Every triangle has exactly one
    * node with out-edges to the other two — counted once, no /3 fixup.
    *
    * Why not the naive id-ordered 3-way self-join: its wedge count is
    * Σ deg(v)², which a single hot node (every near-dup cluster's hub)
    * turns quadratic. Degree ordering bounds out-degrees by O(√m), so the
    * wedge join is O(m^1.5) REGARDLESS of skew — the difference between a
    * star graph costing deg² and costing deg. All joins are equi-joins
    * (shuffle on node id / id pair); no driver loop, no cartesian product.
    *
    * On dedup graphs, contract duplicate classes first: identical-
    * fingerprint docs form cliques, and clique wedge counts are quadratic
    * in clique size — [[DedupOps.simhashTriangleCounts]] computes the same
    * per-doc counts from the class graph in closed form.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // The edge frame is referenced SIX times below (degree table twice,
    // degree attach, both wedge sides, closure probe) — without cutting
    // lineage here, an expensive upstream (e.g. the simhash banding
    // pipeline) re-executes once per reference (measured: l33's 15 s was
    // ~6 re-runs of a ~2.5 s pair pipeline, constant across SFs). One
    // eager localCheckpoint = O(m) executor storage, each stage reads it.
    // Normalized defensively (r7 ADVICE): undirected orientation via
    // least/greatest, self-loops dropped, duplicates collapsed — so a
    // caller handing both orientations or repeated rows can't silently
    // over-count; the pass rides the checkpoint shuffle it already pays.
    val e = edges
      .select(least(col("da"), col("db")).as("u"),
              greatest(col("da"), col("db")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("x").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // Oriented edge (s → t) with the TARGET's degree kept: the wedge
    // filter below needs the (deg, id) order of the two out-neighbors.
    // Checkpointed for the same reason: three references below.
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"),
      when(uFirst, col("dv")).otherwise(col("du")).as("dt"))
      .localCheckpoint(true)
    val a = oriented.select(col("s"), col("t").as("t1"), col("dt").as("d1"))
    val b = oriented.select(col("s"), col("t").as("t2"), col("dt").as("d2"))
    val wedges = a.join(b, "s")
      .filter(col("d1") < col("d2") ||
              (col("d1") === col("d2") && col("t1") < col("t2")))
      .select("s", "t1", "t2")
    // Each closed wedge is one triangle, counted once at each of its
    // three nodes.
    wedges.join(
      oriented.select(col("s").as("t1"), col("t").as("t2")), Seq("t1", "t2"))
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-point PageRank over an undirected pair graph (the L59 gate) —
    * the quality-propagation primitive of web-corpus curation (host- and
    * page-rank priors are standard CommonCrawl curation features, cf. the
    * URL-level quality signals in CCNet/RefinedWeb): a doc embedded in a
    * dense near-dup neighborhood concentrates rank, a peripheral one
    * doesn't — information the per-node degree alone (l16/l33) misses.
    *
    * Made EXACTLY reproducible the l40-kmeans way: ranks live in
    * 1e-6-scaled LONGs (rank×N units, r₀ = SCALE), every division is an
    * integer floor, and the damping update is
    *
    *   r'ᵢ = (15·SCALE + 85·Σ_{j∈N(i)} (r_j div deg_j)) div 100
    *
    * so five iterations produce identical bits on any engine, partitioning,
    * or cluster size — floats would drift by summation order and could
    * never hash-gate. Restricting to nodes WITH at least one edge (the
    * match graph) removes the dangling-mass term: every node both emits
    * and receives, so no rank is silently lost to a missing group.
    *
    * Scale shape: the edge frame is the DEDUP MATCH GRAPH (banded
    * candidate output — corpus-sized pair sets mean the corpus is one
    * giant dup cluster and dedup has bigger problems), persisted once with
    * its degree column and consumed by each of the `iters` shuffle-join +
    * hash-aggregate rounds. The iteration count is FIXED (5), so the plan
    * is a bounded chain — no convergence probe, no driver loop on data.
    * LONG headroom: r_j ≤ N·SCALE, so 85·Σ stays below 2^63 for any match
    * graph under ~10¹⁰ nodes.
    */
  def pageRank(pairs: DataFrame, iters: Int = 5,
               scale: Long = 1000000L): DataFrame = {
    val e = pairs.select(col("da").as("s"), col("db").as("t"))
      .unionByName(pairs.select(col("db").as("s"), col("da").as("t")))
    val deg = e.groupBy(col("s")).agg(count(lit(1)).as("d"))
    val eD = e.join(deg, Seq("s")).persist()
    try {
      var r = eD.select(col("s").as("id")).distinct()
        .select(col("id"), lit(scale).as("r"))
      for (_ <- 1 to iters)
        r = eD.join(r, col("s") === col("id"))
          .select(col("t"), expr("r div d").as("c"))
          .groupBy(col("t"))
          .agg(expr(s"(${15L * scale} + 85 * sum(c)) div 100").as("r"))
          .select(col("t").as("id"), col("r"))
      // Eager tiny result (persist + count, NOT localCheckpoint: lineage
      // stays intact for replay/recovery) so unpersisting eD below can't
      // re-trigger the 5-round chain on a later action. The returned
      // frame stays persisted — CALLERS making repeated invocations in
      // one session (property suites, probe loops) should unpersist it
      // when done; a CacheManager entry, unlike a checkpoint's blocks,
      // is not freed when the frame is garbage collected.
      val out = r
        .join(deg.select(col("s").as("id"), col("d").as("degree")), Seq("id"))
        .select(col("id").as("doc_id"), col("degree"),
                col("r").as("pr_scaled"))
        .persist()
      out.count()
      out
    } finally eD.unpersist(blocking = false)
  }
}
