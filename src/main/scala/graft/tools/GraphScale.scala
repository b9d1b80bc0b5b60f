package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{FaceRunner, GraftSession}
import graft.operators.GraphOps

/** Scale probe for the ITERATIVE graph kernels on an explicit edge axis.
  *
  * The iterative family's cost driver is the EDGE COUNT its supersteps
  * shuffle, not the base-table row count — and growing edges through the
  * fixture (orders×lineitem → co-purchase pair join) pays an hours-long
  * one-time build that measures the q30 edge-construction story, not the
  * loops. This probe reads a pre-synthesized (u, v) edge parquet
  * (tools/synth_graph.py: DuckDB replays the q30 derivation on sf0.1 and
  * replicates it K× with vertex offsets — K disjoint relabeled copies,
  * exactly what the table-replication fixtures produce, minus the pair
  * join) and runs each kernel through the same `...Of` entry points the
  * faces delegate to: pageRankOf / pprOf / communitiesLpaOf / ssspOf.
  * PageRank, PPR and LPA keep their default `driverEdgeLimit` (5M edges),
  * so a decade at or below it times their driver tiers; SSSP is forced
  * onto its distributed tier.
  *
  * Run: sbt "runMain graft.tools.GraphScale <edgesParquet> [reps] [k1,k2]"
  * Output: TimeOne's `[time] <kernel> repN <sec> s (<rows> rows)` lines,
  * kernels in name order. Scale runs request the zstd shuffle codec through
  * SPARK_GRAFT_EXTRA_CONF (tools/run_scale.sh).
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val kernels = FaceRunner.select(Seq[(String, DataFrame => Long)](
      "q88_pagerank_kernel" -> (GraphOps.pageRankOf(_, 10, 0.85).count()),
      "qa7_ppr_kernel" -> (GraphOps.pprOf(_, 10, 0.85).count()),
      "q8j_lpa_kernel" -> (GraphOps.communitiesLpaOf(_, 10).count()),
      // force the distributed BFS tier: the probe axis is past any driver
      // tier by construction
      "q8z_sssp_kernel" -> (GraphOps.ssspOf(_, 50, driverEdgeLimit = 0L).count())),
      FaceRunner.prefixes(args.lift(2)))
    val spark = GraftSession.local()
    val edges = graft.Tables.parquet(spark, path).select(col("u"), col("v")).cache()
    val m = edges.count()
    println(s"[graphscale] $path: $m edges")
    FaceRunner.timeReps(kernels, reps)(_(edges))
    edges.unpersist()
    spark.stop()
  }
}
