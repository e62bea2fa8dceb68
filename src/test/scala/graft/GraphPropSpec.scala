package graft

import graft.operators.{DedupOps, SimHashOps}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property check for the distributed connected-components operator: on
  * random graphs the pointer-jumping label propagation must agree with a
  * plain union-find. Raw ScalaCheck driven from ScalaTest (the bridge
  * artifact is not in the offline dependency set). Case count is small
  * (each case runs Spark rounds) but the generator covers the adversarial
  * shapes: chains (deep diameter), dense blobs, isolated nodes.
  */
class GraphPropSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  /** (n, edges): 2–24 nodes, up to 2n distinct id-ordered edges, no loops. */
  private val randomGraph = for {
    n <- Gen.choose(2, 24)
    nEdges <- Gen.choose(0, 2 * n)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0, n - 1)
      b <- Gen.choose(0, n - 1)
    } yield (math.min(a, b).toLong, math.max(a, b).toLong))
  } yield (n.toLong, edges.filter(e => e._1 != e._2).distinct)

  test("connectedComponents equals union-find on random graphs") {
    val prop = Prop.forAllNoShrink(randomGraph) { case (n, edges) =>
      val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
      val pairs = edges.toDF("da", "db")
      val got = DedupOps.connectedComponents(nodes, pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      got == unionFind(n, edges)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("connectedComponents local finish ≡ distributed pointer jumping (both routes)") {
    // Round 15: small measured graphs route to a driver union-find
    // (spark.graft.cc.localMaxRows, default 1M rows); =0 forces the
    // distributed loop. Same random graphs through BOTH routes must agree
    // with each other and the reference union-find — including the
    // inert-edge semantics (an edge endpoint absent from the node set
    // neither receives nor conducts labels on either route).
    val key = "spark.graft.cc.localMaxRows"
    val prop = Prop.forAllNoShrink(randomGraph) { case (n, edges) =>
      val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
      val pairs = edges.toDF("da", "db")
      def run(): Map[Long, Long] =
        DedupOps.connectedComponents(nodes, pairs).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
      val local = run() // default cap: these graphs always route local
      val dist = Engine.withConf(spark, key -> "0")(run())
      local == dist && local == unionFind(n, edges)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)

    // At the cap's boundary: a graph of max(nodes, 2·pairs) = cap rows
    // finishes locally (a driver-built relation), one row more takes the
    // distributed loop, with equal outputs. One graph bound by its nodes,
    // one by its pairs.
    Seq((10L, Seq((0L, 1L), (1L, 2L), (5L, 7L))),
        (6L, Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (4L, 5L), (1L, 3L))))
      .foreach { case (n, edges) =>
        val rows = math.max(n, 2L * edges.size)
        val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
        val pairs = edges.toDF("da", "db")
        val want = unionFind(n, edges)
        Seq(rows -> true, (rows - 1) -> false).foreach { case (cap, wantLocal) =>
          Engine.withConf(spark, key -> cap.toString) {
            val out = DedupOps.connectedComponents(nodes, pairs)
            val isLocal = out.queryExecution.analyzed.collectLeaves().forall(
              _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
            assert(isLocal == wantLocal, s"localMaxRows=$cap, $rows rows")
            assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == want,
              s"localMaxRows=$cap")
          }
        }
      }
  }

  test("repComponents: one-collect local route ≡ distributed route ≡ union-find") {
    // The rep graph's nodes are the endpoints of its pairs, so the local
    // route takes them from the edges it collected: one job in all. Pairs
    // span several partitions, as the dense kernel's rep pairs do (one per
    // grid cell), and the bounded collect is still one job.
    val key = "spark.graft.cc.localMaxRows"
    def pairsOf(edges: Seq[(Long, Long)]) =
      spark.sparkContext.parallelize(edges, 3).toDF("da", "db")
    def comps(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // Reps are 0..n-1; rep r's cluster has 1 + (r % 3) members, ids
    // 1000·r + i, and a doc's component is its rep's: the min rep of the
    // rep's union-find component when the rep is in a pair, else the rep
    // itself when its cluster has 2 or more members; lone docs are absent.
    def want(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val uf = unionFind(n, edges)
      val matched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      (0L until n).flatMap { r =>
        val size = 1 + (r % 3)
        if (matched(r)) (0L until size).map(i => (1000 * r + i) -> uf(r))
        else if (size >= 2) (0L until size).map(i => (1000 * r + i) -> r)
        else Nil
      }.toMap
    }
    val prop = Prop.forAllNoShrink(randomGraph) { case (n, edges) =>
      val members = (0L until n).flatMap { r =>
        val size = 1 + (r % 3)
        (0L until size).map(i => (1000 * r + i, r, size))
      }.toDF("doc_id", "rep_id", "csize")
      val repPairs = pairsOf(edges)
      val (local, jobs) = jobsOf(comps(DedupOps.connectedComponents(repPairs)))
      val dist = Engine.withConf(spark, key -> "0")(
        comps(DedupOps.connectedComponents(repPairs)))
      val docs = comps(DedupOps.repComponents(members, repPairs))
      val docsDist = Engine.withConf(spark, key -> "0")(
        comps(DedupOps.repComponents(members, repPairs)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
      import Prop.propBoolean
      (jobs == 1L) :| s"local route ran $jobs jobs" &&
        (local == dist) :| "local != distributed" &&
        (local == unionFind(n, edges).filter(kv => nodes(kv._1))) :| "local != union-find" &&
        (docs == docsDist) :| "repComponents: local != distributed" &&
        (docs == want(n, edges)) :| s"repComponents != reference: $docs"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)

    // At the cap's boundary: with nodes ≤ 2·pairs the rule reads on the
    // pairs alone, so cap = 2·pairs finishes locally and cap − 1 takes
    // the distributed loop, with equal outputs.
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 7L), (2L, 3L))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val expect = unionFind(8, edges).filter(kv => nodes(kv._1))
    Seq(2L * edges.size -> true, (2L * edges.size - 1) -> false).foreach {
      case (cap, wantLocal) =>
        Engine.withConf(spark, key -> cap.toString) {
          val out = DedupOps.connectedComponents(pairsOf(edges))
          assert(isLocal(out) == wantLocal, s"localMaxRows=$cap")
          assert(comps(out) == expect, s"localMaxRows=$cap")
        }
    }
  }

  test("an over-cap pair graph on many partitions takes the distributed route, shipping O(cap) rows") {
    // 64 partitions of 500 pairs each against a cap of 1 000 pairs: each
    // partition fits the cap alone, but the driver must receive at most
    // 2·cap + 64 rows (16 bytes each, plus each task result's framing, its
    // metric updates: ~1.3 KB), not 500 from every partition (all 32 000
    // pairs, 512 KB).
    val key = "spark.graft.cc.localMaxRows"
    val pairs = spark.sparkContext.parallelize(0L until 32000L, 64)
      .map(i => (2 * i, 2 * i + 1)).toDF("da", "db")
    val collectStages = new java.util.concurrent.atomic.AtomicReference[Set[Int]]
    val shipped = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        collectStages.compareAndSet(null, e.stageIds.toSet)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (Option(collectStages.get).exists(_(e.stageId)) && e.taskMetrics != null)
          shipped.addAndGet(e.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    val (out, _) = try jobsOf(Engine.withConf(spark, key -> "2000") {
      val df = DedupOps.connectedComponents(pairs)
      (df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
       df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    }) finally spark.sparkContext.removeSparkListener(listener)
    assert(!out._1, "32 000 pairs over a 1 000-pair cap must route distributed")
    assert(out._2 == (0L until 64000L).map(v => v -> (v & ~1L)).toMap)
    assert(shipped.get > 0 && shipped.get <= 16L * (2 * 1000 + 64) + 64 * 2048,
      s"the collect shipped ${shipped.get} bytes")
  }

  test("connectedComponents walks CYCLIC graphs (the sql8 recursion boundary)") {
    // sql8's WITH RECURSIVE is UNION ALL-only in the pinned Spark (the
    // 4.1.2 parser raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so a
    // cyclic-graph walk through SQL recursion would never terminate —
    // the DataFrame fixpoint (pointer-jumping CC) is the engine's
    // declared path for cyclic closures (PageRank-style walks, BOM
    // explosion with cycles). This pins the boundary with the canonical
    // cyclic shapes SQL recursion cannot take: a pure ring, two rings
    // bridged by one edge, and a ring with a chord (multiple cycles
    // through one node).
    val cases = Seq(
      // 6-ring: one component, every node labeled 0.
      (6L, (0L until 6L).map(i => (math.min(i, (i + 1) % 6),
                                   math.max(i, (i + 1) % 6)))),
      // Two 4-rings 0-3 and 4-7 bridged by (3,4): one component.
      (8L, ((0L until 4L).map(i => (math.min(i, (i + 1) % 4),
                                    math.max(i, (i + 1) % 4))) ++
            (0L until 4L).map(i => (math.min(4 + i, 4 + (i + 1) % 4),
                                    math.max(4 + i, 4 + (i + 1) % 4))) :+
            (3L, 4L)).distinct),
      // 5-ring with a chord (1,3) plus an isolated node 5.
      (6L, ((0L until 5L).map(i => (math.min(i, (i + 1) % 5),
                                    math.max(i, (i + 1) % 5))) :+
            (1L, 3L)).distinct))
    cases.foreach { case (n, edges) =>
      val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
      val got = DedupOps.connectedComponents(nodes, edges.toDF("da", "db"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == unionFind(n, edges), s"cyclic case n=$n edges=$edges")
    }
  }

  /** Reference triangle participation: brute-force over all node triples. */
  private def naiveTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.toSet
    def has(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if has(a, b) && has(b, c) && has(a, c)
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  test("triangleCounts (degree-ordered) equals brute-force on random graphs") {
    val genCase = for {
      n <- Gen.choose(3, 20)
      nEdges <- Gen.choose(0, 3 * n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, n - 1)
        b <- Gen.choose(0, n - 1)
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield edges.filter(e => e._1 != e._2).distinct

    val prop = Prop.forAllNoShrink(genCase) { edges =>
      val pairs = edges.toDF("da", "db")
      val got = graft.operators.GraphOps.triangleCounts(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      got == naiveTriangles(edges)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("triangleCounts on a hub star plus one closing edge (skew shape)") {
    // Star centered at 0 with leaves 1..40 — zero triangles until one
    // leaf-leaf edge closes exactly one. The degree-ordered plan must not
    // enumerate the hub's quadratic wedge set to find it: leaves have
    // degree 1-2, so every star edge orients leaf→hub and the hub sources
    // no wedges at all.
    val star = (1L to 40L).map(i => (math.min(0L, i), math.max(0L, i)))
    val edges = star :+ (1L, 2L)
    val got = graft.operators.GraphOps.triangleCounts(edges.toDF("da", "db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("simhashTriangleCounts (class contraction) equals the direct doc-graph counts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val direct = graft.operators.GraphOps.triangleCounts(
        SimHashOps.simhashPairs(docs, maxHamming = 1).select("da", "db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val contracted = SimHashOps.simhashTriangleCounts(docs, maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(contracted == direct,
      s"sizes: direct=${direct.size} contracted=${contracted.size}; " +
      s"diff=${(direct.toSet diff contracted.toSet).take(5)} " +
      s"${(contracted.toSet diff direct.toSet).take(5)}")
    assert(direct.nonEmpty, "fixture must contain at least one triangle")
  }

  test("connectedComponents on a worst-case path graph (deep diameter)") {
    val n = 65L
    val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("da", "db")
    val got = DedupOps.connectedComponents(nodes, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until n).map(i => (i, 0L)).toSet)
  }

  test("pageRank equals a naive driver fixed-point on random graphs") {
    // The integer update is exactly reproducible by construction; this
    // pins the distributed join/aggregate loop against a direct adjacency
    // map evaluation, including degree handling and node coverage (only
    // nodes WITH edges participate).
    val genCase = for {
      n <- Gen.choose(2, 20)
      nEdges <- Gen.choose(1, 2 * n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, n - 1)
        b <- Gen.choose(0, n - 1)
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield edges.filter(e => e._1 != e._2).distinct

    val prop = Prop.forAllNoShrink(genCase) { edges =>
      if (edges.isEmpty) true
      else {
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val deg = adj.map { case (k, v) => k -> v.size.toLong }
        var r = adj.keys.map(_ -> 1000000L).toMap
        for (_ <- 1 to 5)
          r = adj.map { case (i, ns) =>
            i -> ((15000000L + 85L * ns.map(j => r(j) / deg(j)).sum) / 100L)
          }
        // pageRank returns a persisted frame (its eager-materialize
        // contract) — unpersist per iteration or 8 runs accumulate
        // cached copies in the suite's session.
        val prDf = graft.operators.GraphOps.pageRank(edges.toDF("da", "db"))
        val got =
          try prDf.collect()
            .map(x => (x.getAs[Long]("doc_id"),
                       (x.getAs[Long]("degree"), x.getAs[Long]("pr_scaled"))))
            .toMap
          finally prDf.unpersist(blocking = false)
        got == adj.keys.map(i => i -> ((deg(i), r(i)))).toMap
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8),
                           prop)
    assert(res.passed, res.status.toString)
  }
}
