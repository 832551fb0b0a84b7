package graft.tools

import graft.tck.{TckFixtures, TckRunner}

/** Triage: run the TckRunner over feature files or whole directories
  * WITHOUT asserting, printing a per-file report line plus failures and
  * errors, against the same fixture catalogs as TckRunnerSpec
  * (graft.tck.TckFixtures). Usage:
  *   runMain graft.tools.TckTriage <file-or-dir>...
  * Env: SPARK_GRAFT_TCK_DEBUG=1 for [tck-skip]/[tck-dead] reasons.
  */
object TckTriage {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session("local[16]", 16)

    val catalogs = TckFixtures.catalogs(spark)
    val files = args.toSeq.flatMap { a =>
      val f = new java.io.File(a)
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".feature")).map(_.getPath).sorted
      else Seq(a)
    }
    var te = 0; var tp = 0; var ts = 0; var terr = 0; var tf = 0
    files.foreach { f =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
      val report = try TckFixtures.runFeature(catalogs, text) catch {
        case e: Exception =>
          println(s"${f.split('/').takeRight(2).mkString("/")}: RUNNER-CRASH ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          TckRunner.Report(0, 0, 0, Nil)
      }
      println(f"${f.split('/').takeRight(2).mkString("/")}%-44s exec=${report.executed}%-4d pass=${report.passed}%-4d skip=${report.skipped}%-4d err=${report.errored} fail=${report.failures.size}")
      report.failures.take(3).foreach { case (q, why) =>
        println(s"  FAIL ${q.take(150)}\n    -> ${why.take(300)}")
      }
      report.errors.take(3).foreach { case (q, why) =>
        println(s"  ERROR ${q.take(150)}\n    -> ${why.take(250)}")
      }
      te += report.executed; tp += report.passed; ts += report.skipped
      terr += report.errored; tf += report.failures.size
    }
    println(s"TOTAL exec=$te pass=$tp skip=$ts err=$terr fail=$tf files=${files.size}")
    spark.stop()
  }
}
