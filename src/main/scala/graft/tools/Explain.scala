package graft.tools

import graft.SparkEntry

/** Plan auditor: `.explain("formatted")` for selected queries (or a
  * default audit set) — the loop for checking that filters reach the
  * parquet scan (PushedFilters), small sides broadcast, and operators
  * stay inside WholeStageCodegen. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_lookup", "q_filter", "q_inner_join", "q_aggregate",
        "q_go_1", "q_cosine_topk", "q_dedup_exact")
    // session shape mirrors Bench: same master/core count, same
    // Tune-derived shuffle partitions, same Harness posture — plans
    // captured here must be the plans the bench actually runs (at
    // local[4]/4-partitions the hop joins broadcast where the bench's
    // local[32]/sf0.1 plans sort-merge, hiding exactly the plan
    // features under audit)
    // tolerate a malformed SPARK_GRAFT_CPUS (audit tool: default beats
    // a NumberFormatException before any plan prints)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(4)
    val spark = graft.Harness.session(s"local[$cpus]",
      graft.Tune.shufflePartitions(sfDir, cpus))
    // plans must reflect the bench/verify posture: store-backed unless
    // SPARK_GRAFT_STORE=off
    graft.Harness.attachStore(spark)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
