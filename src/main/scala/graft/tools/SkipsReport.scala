package graft.tools

import graft.tck.{Divergences, TckCorpus, TckFixtures}

/** Generates SKIPS.md: one line per residual TCK skip across the
  * ENTIRE wired corpus (graft.tck.TckCorpus — the same list the test
  * shards assert on), each with the runner's structured reason, plus
  * the adjudicated-divergence table from graft.tck.Divergences and the
  * unwired-file justifications. Because the rows come straight out of
  * TckRunner.Report.skips, the document cannot drift from the suite.
  *
  * Usage: runMain graft.tools.SkipsReport [outPath=SKIPS.md]
  */
object SkipsReport {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "SKIPS.md"
    val spark = graft.Harness.session("local[16]", 16)

    val catalogs = TckFixtures.catalogs(spark)

    val sb = new StringBuilder
    sb ++= "# SKIPS — residual TCK skip ledger\n\n"
    sb ++= "Generated by `sbt \"runMain graft.tools.SkipsReport\"` — the rows\n"
    sb ++= "are `TckRunner.Report.skips` from a live run over the full wired\n"
    sb ++= "corpus (`graft.tck.TckCorpus`), so this file cannot drift from\n"
    sb ++= "what the test shards actually do. Three sections: residual\n"
    sb ++= "skipped steps with the runner's reason; adjudicated divergences\n"
    sb ++= "(upstream-@skip goldens proven wrong, our result pinned); and the\n"
    sb ++= "feature files not wired at all, with why.\n\n"

    var tot = 0; var totDiv = 0; var totExec = 0; var totPass = 0
    val rows = scala.collection.mutable.ListBuffer.empty[(String, String, String)]
    TckCorpus.features.foreach { f =>
      val report = TckFixtures.runFeature(catalogs,
        java.nio.file.Files.readString(java.nio.file.Paths.get(f)))
      val short = f.split('/').takeRight(2).mkString("/")
      report.skips.foreach { case (q, why) => rows += ((short, q, why)) }
      tot += report.skipped; totDiv += report.diverged
      totExec += report.executed; totPass += report.passed
      System.err.println(s"[skips-report] $short skip=${report.skipped} div=${report.diverged}")
    }

    sb ++= s"**Corpus totals this run:** ${TckCorpus.features.size} files, " +
      s"$totExec steps executed, $totPass passed, $totDiv adjudicated " +
      s"divergences, $tot residual skips.\n\n"

    sb ++= "## 1. Residual skipped steps\n\n"
    sb ++= "| file | reason | step |\n|---|---|---|\n"
    rows.foreach { case (f, q, why) =>
      def esc(s: String) = s.replace("|", "\\|").replace("\n", " ")
      sb ++= s"| $f | ${esc(why.take(160))} | `${esc(q.replaceAll("\\s+", " ").take(120))}` |\n"
    }

    sb ++= "\n## 2. Adjudicated divergences (upstream-@skip goldens proven wrong)\n\n"
    sb ++= "Each step below EXECUTES and is pinned to our adjudicated result\n"
    sb ++= "(counted as `diverged`, never as `passed`). Full derivations in\n"
    sb ++= "`src/main/scala/graft/tck/Divergences.scala`.\n\n"
    sb ++= "| step | pinned to | why the golden is wrong |\n|---|---|---|\n"
    Divergences.entries.foreach { e =>
      def esc(s: String) = s.replace("|", "\\|").replace("\n", " ")
      val pin = e.expect match {
        case Divergences.Table(rs) => s"rows ${rs.map(_.mkString(",")).mkString("; ")}"
        case Divergences.NonEmpty => "non-empty result"
        case Divergences.RowCount(n) => s"exactly $n rows"
        case Divergences.Rejected => "rejected (validator parity)"
        case Divergences.Accepted => "accepted (reference's current behavior; demanded error is a reference TODO)"
      }
      sb ++= s"| `${esc(e.key.take(110))}` | ${esc(pin)} | ${esc(e.why)} |\n"
    }

    sb ++= "\n## 3. Feature files not wired\n\n"
    sb ++= unwired
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out: ${rows.size} skip rows, ${Divergences.entries.size} divergence entries")
    spark.stop()
  }

  /** The files under tests/tck/features + openCypher/features that the
    * corpus does NOT wire, with the justification (mirrors the analysis
    * comments that used to live only in TckRunnerSpec). */
  private val unwired: String =
    """|| file(s) | why not wired |
      ||---|---|
      || tck/features/admin/Authentication, admin/Sessions, admin/Hosts, user/User, verify_client_version/VerifyClientVersion, parser/nebula | every scenario needs connection/cluster machinery (login, sessions, hosts, client handshake) — no engine counterpart in a library |
      || tck/features/go/GroupbyLimit.feature + .IntVid twin | LIMIT after ORDER BY on all-NULL/tied keys: the golden records the reference's internal stable-sort order — storage-defined, unreproducible from the query semantics |
      || tck/features/optimizer/PushLimitDownExpandAllRule, PushLimitDownScanEdgesRule, PushLimitDownScanVerticesRule | un-ordered LIMIT goldens: which N rows survive is storage-iteration order (our plan-level guarantees are asserted in PlanSpec instead) |
      || tck/features/optimizer/PushSampleDownRule | SAMPLE row choice is storage-order + the reference storaged's RNG |
      || openCypher/features/expressions/map/Map1 | heterogeneous lists ([{num:0},1]) — Spark arrays are homogeneous; the surface cannot exist |
      || openCypher/features/expressions/map/Map2 | every scenario is a parse-error golden whose syntax is rejected at feature-parse time — zero runnable steps |
      || openCypher/features/expressions/path/Path1 | nodes(null) / OPTIONAL MATCH seeded from a null var — zero runnable steps |
      || tests/tck/ldbc/* (interactive_workload, business_intelligence_workload — 11 query files) | the reference ships no LDBC fixture data (tests/data/ldbc_v0_3_3/config.yaml lists empty `files:`) so the goldens cannot be replayed; the same query SHAPES run oracle-checked in `graft.queries.LdbcQueries` (11 IC/IS/BI queries with DuckDB oracles) |
      |""".stripMargin
}
