package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory consistency: the SURVEY.md §2 checklist and the declared
  * gates (`SparkEntry.gates`, each a build with its oracle) must stay in
  * lock-step — a gate added to the code but absent from SURVEY is a silent
  * coverage hole no other check sees.
  */
class CoverageSpec extends AnyFunSuite {

  private lazy val survey = scala.io.Source.fromFile("SURVEY.md")("UTF-8")
    .mkString

  test("every declared query name appears in SURVEY.md") {
    // SURVEY §2.2 names the original surface by short row IDs (`| M1 |`,
    // `| R13b |`, `| SQL3 |`); later additions are named in full. Either
    // form counts as inventoried.
    def rowId(name: String): String = {
      val id = name.split("_").head           // "r13b", "mm1", "sql3"
      val alpha = id.takeWhile(_.isLetter)
      alpha.toUpperCase + id.drop(alpha.length)  // "R13b" keeps the suffix
    }
    val missing = SparkEntry.queries.keySet.filterNot { n =>
      survey.contains(n) || survey.contains(s"| ${rowId(n)} |")
    }
    assert(missing.isEmpty,
      s"queries with no SURVEY.md mention: ${missing.toSeq.sorted}")
  }

  test("a gate name declared twice fails the index, naming it") {
    val g = SparkEntry.gates.head
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(SparkEntry.gates :+ g.copy(oracle = "SELECT 1"))
    }
    assert(e.getMessage.contains(g.name), e.getMessage)
    assert(SparkEntry.index(SparkEntry.gates).size == SparkEntry.gates.size)
  }

  test("a gate filter with an unknown name fails, naming every unknown") {
    val all = SparkEntry.queries.toSeq
    val e = intercept[IllegalArgumentException] {
      SparkEntry.named(all, Set("r1_filter_project", "r1_filter_projct", "l99_nope"))
    }
    assert(e.getMessage.contains("l99_nope") && e.getMessage.contains("r1_filter_projct") &&
           !e.getMessage.contains("r1_filter_project"), e.getMessage)
    assert(SparkEntry.named(all, Set("r1_filter_project")).map(_._1) == Seq("r1_filter_project"))
    assert(SparkEntry.named(all, Set.empty).size == all.size)
  }

  /** Every Scala source under `root`, as (path, text). */
  private def scalaFiles(root: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val ws = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try ws.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally ws.close()
  }

  private lazy val mainFiles = scalaFiles("src/main")
  private lazy val mainSources: Seq[String] = mainFiles.map(_._2)

  test("entry points are exactly the declared mains") {
    // A one-off probe main must not slip back in: anything measured
    // belongs in perfbench/ or a spec, not in a hand-run object.
    val objectOrMain = """(?m)^\s*object\s+(\w+)|def\s+main\s*\(""".r
    val mains = mainSources.flatMap { src =>
      var current = ""
      objectOrMain.findAllMatchIn(src).flatMap { m =>
        if (m.group(1) != null) { current = m.group(1); None } else Some(current)
      }.toList
    }.toSet
    assert(mains == Set("Bench", "Verify", "PlanAudit", "ScaleProbe", "StateProbe"),
      s"objects defining main under src/main: ${mains.toSeq.sorted}")
  }

  test("spark.graft.* conf keys are exactly the declared knobs") {
    val declared = Set(
      "spark.graft.cc.localMaxRows",
      "spark.graft.dedup.attachBroadcastCap",
      "spark.graft.dedup.denseUniverseMax",
      "spark.graft.dedup.pairSpreadMinDocs",
      "spark.graft.kmeans.spreadMinK",
      "spark.graft.sql8.localMaxRows",
      "spark.graft.stream.stateParts")
    val keys = GraftConf.keys.map(_.name)
    assert(keys.toSet == declared && keys.size == declared.size,
      s"registry: ${keys.sorted}")
    // One registry: a key literal anywhere else under src/main is a read
    // that bypasses GraftConf's default and range check.
    val (registry, others) =
      mainFiles.partition(_._1.endsWith("/GraftConf.scala"))
    val elsewhere = others.flatMap { case (path, src) =>
      "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r.findAllMatchIn(src)
        .map(m => s"$path: ${m.group(1)}")
    }
    assert(elsewhere.isEmpty, s"key literals outside GraftConf: $elsewhere")
    // Every declared key is read somewhere.
    val vals = registry.flatMap { case (_, src) =>
      """val\s+(\w+)\s*=\s*Key\(""".r.findAllMatchIn(src).map(_.group(1))
    }
    assert(vals.size == declared.size, s"Key vals: $vals")
    val unread = vals.filterNot(v =>
      others.exists(_._2.contains(s"GraftConf.$v.get(")))
    assert(unread.isEmpty, s"declared but never read: $unread")
  }

  test("scratch directories are named only by Scratch") {
    // One owner: a temp-dir base or a createTempDirectory call anywhere
    // else under src/main is a scratch path that no exit hook or sweep
    // covers, or one that two JVMs share.
    val literals = Seq("java.io.tmpdir", "/dev/shm", "createTempDirectory")
    val elsewhere = mainFiles.filterNot(_._1.endsWith("/graft/Scratch.scala"))
      .flatMap { case (path, src) =>
        literals.filter(src.contains).map(l => s"$path: $l")
      }
    assert(elsewhere.isEmpty, s"scratch literals outside Scratch: $elsewhere")
  }

  test("every def under src/main is reachable from the engine or the bench harness") {
    // A def that nothing calls is a path no gate, bench or probe runs.
    // Name-level and lenient: a def counts as reached when its name
    // appears on any non-comment line of src/main or perfbench/src other
    // than its own definition. Overrides are reached through their
    // supertype; the test references below exist for the specs to compare
    // the engine's routes against.
    val testReferences = Set("jaccardPairs", "clusteredJaccardPairs",
      "minhashCalibration", "cosinePairs", "triangleCounts",
      "scratchComponents", "rollingFingerprintHof", "tokenHashHof",
      "writeDenseJson")
    def codeLines(sources: Seq[String]): Seq[String] =
      sources.flatMap(_.linesIterator).filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
      }
    val mainLines = codeLines(mainSources)
    val allLines = mainLines ++ codeLines(scalaFiles("perfbench/src").map(_._2))
    val defined = mainLines.flatMap { l =>
      """\bdef\s+(\w+)""".r.findAllMatchIn(l)
        .filterNot(m => l.substring(0, m.start).contains("override"))
        .map(_.group(1))
    }.toSet -- testReferences - "main"
    val unreached = defined.filterNot { name =>
      val use = s"\\b$name\\b".r
      val definition = s"\\bdef\\s+$name\\b".r
      allLines.exists(l =>
        use.findAllMatchIn(l).size > definition.findAllMatchIn(l).size)
    }
    assert(unreached.isEmpty,
      s"defs no engine or bench line mentions: ${unreached.toSeq.sorted}")
  }
}
