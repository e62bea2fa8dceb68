package graft

import graft.operators.DedupOps
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property check for the near-dup candidate-generation paths that carry
  * a HARD no-false-negative guarantee (prefix filtering and its
  * exact-duplicate-clustered wrapper): on random corpora they must equal
  * exact all-pairs Jaccard bit-for-bit. MinHash-LSH is deliberately NOT
  * property-tested this way — its guarantee is probabilistic, and a
  * ScalaCheck-generated corpus could legitimately land on a banding miss;
  * its equivalence is pinned on fixed corpora in LlmSpec instead.
  *
  * Generator shape: small vocab + repeated phrases force HIGH background
  * similarity (the regime that defeats LSH banding and stresses the
  * prefix filter's pruning bounds), duplicates stress cluster expansion.
  */
class DedupPropSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("the", "cat", "dog", "sat", "mat", "on", "a", "big")

  test("prefix-filter and clustered near-dup equal exact all-pairs on random corpora") {
    val genDoc = for {
      n <- Gen.choose(3, 10)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nDocs <- Gen.choose(4, 10)
      docs <- Gen.listOfN(nDocs, genDoc)
      // duplicate a random prefix of the corpus to exercise clustering
      nDup <- Gen.choose(0, 3)
    } yield (docs ++ docs.take(nDup)).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val genCase = for {
      corpus <- genCorpus
      t <- Gen.oneOf(0.3, 0.5, 0.8)
    } yield (corpus, t)

    val prop = Prop.forAllNoShrink(genCase) { case (rows, t) =>
      val docs = rows.toDF("doc_id", "text")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = canon(DedupOps.jaccardPairs(docs, t))
      // The random corpora's small universe routes the default to the
      // dense bitset kernel; denseUniverseMax=0 takes the sparse prefix
      // join. Both must equal the exact all-pairs reference.
      val sparse = Engine.withConf(spark,
        "spark.graft.dedup.denseUniverseMax" -> "0") {
        canon(DedupOps.prefixJaccardPairs(docs, t))
      }
      sparse == exact &&
        canon(DedupOps.prefixJaccardPairs(docs, t)) == exact &&
        canon(DedupOps.clusteredJaccardPairs(docs, t)) == exact
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("exact-dup contraction equals the group-by + join formulation on random corpora") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // The earlier formulation: one group-by on the text hash, joined back
    // once per output.
    def joined(docs: DataFrame): (DataFrame, DataFrame) = {
      val h = docs.select(col("doc_id"), col("text"), sha2(col("text"), 256).as("ch"))
      val clusters = h.groupBy(col("ch"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("csize"))
      (h.join(clusters, "ch").select(col("doc_id"), col("rep_id"), col("csize")),
       h.join(clusters.select(col("rep_id")), col("doc_id") === col("rep_id"))
         .select(col("doc_id"), col("text")))
    }
    // 1–6 distinct texts, each in an exact-dup cluster of 1–4 docs, plus
    // 0–3 null texts, under shuffled unique doc ids.
    val genCase = for {
      nTexts <- Gen.choose(1, 6)
      texts <- Gen.listOfN(nTexts, Gen.listOfN(4, Gen.oneOf(vocab)).map(_.mkString(" ")))
      sizes <- Gen.listOfN(nTexts, Gen.choose(1, 4))
      nNull <- Gen.choose(0, 3)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield {
      val ts = texts.distinct.zip(sizes).flatMap { case (t, k) => Seq.fill(k)(Option(t)) } ++
        Seq.fill(nNull)(Option.empty[String])
      val ids = new scala.util.Random(seed).shuffle((0L until ts.size.toLong).map(_ * 7 + 3))
      ids.zip(ts)
    }
    def sorted(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    def same(rows: Seq[(Long, Option[String])]): Boolean = {
      val docs = rows.toDF("doc_id", "text").repartition(3)
      val (members, reps) = DedupOps.exactContraction(docs)
      val (oldMembers, oldReps) = joined(docs)
      val nullIds = rows.collect { case (id, None) => id }.toSet
      // The one difference: the earlier `reps` joined on doc_id, so the
      // null-text group's min doc_id came back as a rep with a null text
      // (it has no shingles, so it paired with nothing). Both outputs now
      // leave out every null-text doc.
      val oldRepsText = sorted(oldReps).filter(_(1) != null)
      sorted(members) == sorted(oldMembers) &&
        sorted(reps) == oldRepsText &&
        sorted(oldReps).size - oldRepsText.size == math.min(nullIds.size, 1) &&
        sorted(members).forall(r => !nullIds(r.head.asInstanceOf[Long]))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), Prop.forAllNoShrink(genCase)(same))
    assert(res.passed, res.status.toString)
    assert(same(Seq(5L -> Some("a b"), 2L -> None, 9L -> Some("a b"), 1L -> None,
                    4L -> Some("c"), 3L -> Some("a b"), 8L -> Some("c"))))
  }

  test("span dedup masks a planted boilerplate run and keeps the first occurrence") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique1 unique2"),
      (2L, "prefix alpha beta gamma delta epsilon zeta suffix"))
      .toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs, 6).orderBy("doc_id").collect()
    // doc 1 carries the corpus-first occurrences: untouched.
    assert(out(0).getLong(2) == 0L)
    assert(out(0).getString(3) ==
      "alpha beta gamma delta epsilon zeta unique1 unique2")
    // doc 2: only its s=1 6-gram repeats doc 1's s=0 one, covering
    // positions 1..6 — "prefix" and "suffix" survive and concatenate.
    assert(out(1).getLong(1) == 8L && out(1).getLong(2) == 6L)
    assert(out(1).getString(3) == "prefix suffix")
  }

  test("span dedup equals the naive first-occurrence scan on random corpora") {
    val n = 3
    def naive(rows: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
      val toks = rows.sortBy(_._1).map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toVector }
      val seen = scala.collection.mutable.Set.empty[String]
      val dup = scala.collection.mutable.Map.empty[Long, List[Int]]
      for ((id, w) <- toks; s <- 0 to w.length - n) {
        val g = w.slice(s, s + n).mkString(" ")
        if (!seen.add(g)) dup(id) = s :: dup.getOrElse(id, Nil)
      }
      toks.map { case (id, w) =>
        val cov = dup.getOrElse(id, Nil).flatMap(s => s until s + n).toSet
        val kept = w.zipWithIndex.collect { case (t, i) if !cov(i) => t }
        id -> ((w.length.toLong, (w.length - kept.length).toLong,
                kept.mkString(" ")))
      }.toMap
    }
    val genDoc = for {
      nw <- Gen.choose(2, 12)
      ws <- Gen.listOfN(nw, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nDocs <- Gen.choose(3, 8)
      ds <- Gen.listOfN(nDocs, genDoc)
      nDup <- Gen.choose(0, 2) // whole-doc dups: every gram masks
    } yield (ds ++ ds.take(nDup)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val prop = Prop.forAllNoShrink(genCorpus) { rows =>
      val got = DedupOps.spanDedup(rows.toDF("doc_id", "text"), n).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
                                    r.getString(3)))).toMap
      got == naive(rows)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}
