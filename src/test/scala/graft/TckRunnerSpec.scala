package graft

import graft.tck.{TckCorpus, TckFixtures, TckRunner}

/** Runs the reference's OWN Gherkin TCK scenarios (tests/tck/features/)
  * against its fixture graphs (graft.tck.TckFixtures) through the nGQL
  * parser. Contract: every scenario the subset can execute must match
  * its golden table; unsupported syntax is skipped and counted. Without
  * the corpus every suite CANCELS with a clue naming the missing path. */

trait TckSuiteBase extends SparkSpec {
  protected def assumeCorpus(): Unit = TckFixtures.missing.foreach(cancel(_))

  protected def runFeatures(fs: Seq[String]): Unit = {
    assumeCorpus()
    val catalogs = TckFixtures.catalogs(spark)
    var executed = 0; var passed = 0; var skipped = 0; var diverged = 0
    // SPARK_GRAFT_TCK_ONLY=substr1,substr2 → run matching features only
    // (local iteration aid; the driver runs the full list)
    val only = sys.env.get("SPARK_GRAFT_TCK_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
    val selected = only match {
      case Some(pats) => fs.filter(f => pats.exists(f.contains))
      case None => fs
    }
    selected.foreach { f =>
      val report = TckFixtures.runFeature(catalogs,
        java.nio.file.Files.readString(java.nio.file.Paths.get(f)))
      info(s"${f.split('/').last}: executed=${report.executed} " +
        s"passed=${report.passed} skipped=${report.skipped} " +
        s"errored=${report.errored}" +
        (if (report.diverged > 0) s" diverged=${report.diverged}" else ""))
      report.failures.take(5).foreach { case (q, why) =>
        info(s"FAIL: $q -> $why")
      }
      report.errors.take(5).foreach { case (q, why) =>
        info(s"ERROR: $q -> $why")
      }
      assert(report.ok, s"$f: ${report.failures.size} golden mismatches, " +
        s"${report.errored} execution errors")
      executed += report.executed; passed += report.passed
      skipped += report.skipped; diverged += report.diverged
    }
    info(s"TOTAL executed=$executed passed=$passed skipped=$skipped " +
      s"diverged=$diverged")
    if (only.isEmpty)
      assert(executed >= 30, "too few scenarios executed to be meaningful")
    // every executed step either matched its golden or matched an
    // adjudicated Divergences pin — nothing in between
    assert(passed + diverged == executed)
    assert(diverged <= graft.tck.Divergences.entries.size,
      "more divergences than adjudicated entries")
  }
}

/** Shard 0: expression / aggregate / function / path / subgraph /
  * bugfix / optimizer / openCypher — plus the corpus-parse check. */
class TckRunnerSpec extends TckSuiteBase {
  test("reference TCK features (expr/path/bugfix shard): every " +
      "executable scenario matches its golden") {
    runFeatures(TckCorpus.shard(0))
  }

  test("feature parsing finds a substantial scenario corpus") {
    assumeCorpus()
    val go = TckCorpus.features.head
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(go))
    val cases = TckRunner.parseFeature(text)
    assert(cases.size >= 50, s"only ${cases.size} cases parsed from GO.feature")
  }

  test("divergence-pin table compare is cell-exact, not join-collision") {
    import graft.tck.Divergences.tableMatches
    // the collision a string-join compare would accept as equal
    assert(!tableMatches(Seq(Seq("ab", "c")), Seq(Seq("a", "bc"))))
    // genuine equality, order-insensitive
    assert(tableMatches(Seq(Seq("a", "b"), Seq("c", "d")),
      Seq(Seq("c", "d"), Seq("a", "b"))))
    // arity mismatches never match
    assert(!tableMatches(Seq(Seq("a", "b")), Seq(Seq("a", "b", ""))))
    assert(!tableMatches(Seq(Seq("a")), Seq(Seq("a"), Seq("a"))))
  }
}

class TckMatchSuite extends TckSuiteBase {
  test("reference TCK features (match shard): every executable " +
      "scenario matches its golden") {
    runFeatures(TckCorpus.shard(1))
  }
}

class TckSentenceSuite extends TckSuiteBase {
  test("reference TCK features (go/yield/lookup/fetch shard): every " +
      "executable scenario matches its golden") {
    runFeatures(TckCorpus.shard(2))
  }
}

class TckDmlSuite extends TckSuiteBase {
  test("reference TCK features (DML/DDL shard): every executable " +
      "scenario matches its golden") {
    runFeatures(TckCorpus.shard(3))
  }
}

class TckIndexSuite extends TckSuiteBase {
  test("reference TCK features (index shard): every executable " +
      "scenario matches its golden") {
    runFeatures(TckCorpus.shard(4))
  }
}
