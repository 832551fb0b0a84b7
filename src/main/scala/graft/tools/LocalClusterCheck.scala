package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-executor proof of the iterative loops (round-9 verdict #1).
  *
  * `local[k]` hides two cluster failure modes: (1) localCheckpoint
  * blocks live in executor JVMs and vanish with them, and (2)
  * `Ckpt.free` unpersists RDDs that — locally — can
  * never be recomputed. This main runs the ITERATIVE query subset
  * (traversals, shortest paths, subgraph, the whole-graph algorithms,
  * dedup clustering, LDBC expansions) on `local-cluster[2,2,2048]` —
  * a real standalone master + 2 worker processes with separate
  * executor JVMs — under `spark.graft.checkpointDir` (the reliable
  * mode, graft.Ckpt, set up by graft.Harness), then re-runs them on
  * plain local[4] WITHOUT the flag and asserts identical row counts.
  *
  * It also proves the free-after-checkpoint contract directly: a
  * reliably-checkpointed frame is freed (unpersisted) and then
  * re-counted — the count must still answer, recomputed from the
  * checkpoint files, which is exactly what an executor loss requires.
  *
  * Usage (the env var lets Spark's launcher resolve the executor
  * classpath when the driver runs from sbt classes, not a dist):
  *   SPARK_SCALA_VERSION=2.13 \
  *     sbt "runMain graft.tools.LocalClusterCheck /root/testdata/sf0.001"
  * Prints one line per query and a final JSON summary; exits 1 on any
  * mismatch.
  */
object LocalClusterCheck {
  // the iterative subset: everything that rides Ckpt.mat loops
  private val IterativeQueries = Seq(
    "q_go_1to2", "q_paths_1to2", "q_subgraph_edges",
    "q_shortest_dist", "q_shortest_pair", "q_shortest_single",
    "q_all_paths", "q_algo_wcc", "q_algo_pagerank", "q_algo_louvain",
    "q_algo_lpa", "q_algo_walks", "q_algo_sssp", "q_algo_kcore",
    "q_dedup_clusters", "q_ldbc_ic1", "q_nql_match_var",
    // round-10 additions: the Brandes backward pass has the subtlest
    // free-checkpoint pattern (level frames consumed in reverse), the
    // stream ingests exercise foreachBatch + staged/log merges on real
    // executors, and q_bucketed_go writes+reads bucketed tables
    "q_algo_betweenness", "q_algo_closeness", "q_stream_ingest",
    "q_stream_ingest_log", "q_bucketed_go",
    "q_algo_scc", "q_algo_hanp", "q_algo_node2vec")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    // ---- pass 1: multi-executor, reliable checkpoints (Harness sets
    // up the checkpoint dir and executor classpath for local-cluster) ----
    val cluster = graft.Harness.session("local-cluster[2,2,2048]", 8)
    require(graft.Ckpt.reliable(cluster), "reliable mode not active")

    // free-after-checkpoint contract: a freed RELIABLE checkpoint is
    // recomputable from its files (this recount would be
    // unrecoverable for a freed localCheckpoint)
    val probe = graft.Ckpt.mat(cluster.range(1000).toDF("id"))
    val before = probe.count()
    graft.Ckpt.free(probe)
    val after = probe.count()
    require(before == after && after == 1000L,
      s"freed reliable checkpoint not recomputable: $before vs $after")
    println(s"[lcc] free-after-reliable-checkpoint recount OK ($after rows)")

    var clusterCounts = Map.empty[String, Long]
    var failures = Vector.empty[(String, String)]
    IterativeQueries.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val n = graft.SparkEntry.queries(name)(cluster, sfDir).count()
        clusterCounts += name -> n
        println(f"[lcc] cluster $name%-20s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        case e: Throwable =>
          failures :+= name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          println(s"[lcc] cluster $name FAILED: ${e.getMessage}")
      }
    }
    cluster.stop()
    // new session below must not reuse the stopped context's state
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // ---- pass 2: plain local mode, default localCheckpoint path ----
    val local = graft.Harness.session("local[4]", 8)
    require(!graft.Ckpt.reliable(local), "local baseline unexpectedly reliable")
    IterativeQueries.foreach { name =>
      if (clusterCounts.contains(name)) {
        val n = graft.SparkEntry.queries(name)(local, sfDir).count()
        if (n != clusterCounts(name))
          failures :+= name -> s"count mismatch: cluster=${clusterCounts(name)} local=$n"
        println(f"[lcc] local   $name%-20s rows=$n%-8d ${if (n == clusterCounts(name)) "MATCH" else "MISMATCH"}")
      }
    }
    local.stop()

    val ok = clusterCounts.size - failures.count(f => clusterCounts.contains(f._1))
    println(s"""{"metric":"local_cluster_check","queries":${IterativeQueries.size},"cluster_ok":${clusterCounts.size},"matched":$ok,"failures":${failures.size},"sf":"$sfDir"}""")
    if (failures.nonEmpty) {
      failures.foreach { case (q, m) => println(s"[lcc] FAIL $q: $m") }
      sys.exit(1)
    }
  }
}
