package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
  *
  * Run: sbt "runMain graft.tools.GraphScale <edgesParquet> [reps] [k1,k2]"
  * Output: TimeOne-style `[time] <kernel> repN <sec> s (<rows> rows)`.
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val only: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(","); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", false)
      // same codec policy as TimeOne: scale runs set zstd via
      // tools/run_scale.sh (see the note there), dev runs default lz4
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val edges = spark.read.parquet(path).select(col("u"), col("v")).cache()
    val m = edges.count()
    println(s"[graphscale] $path: $m edges")
    import graft.operators.GraphOps
    val kernels: Seq[(String, () => Long)] = Seq(
      "q88_pagerank_kernel" ->
        (() => GraphOps.pageRankOf(edges, 10, 0.85).count()),
      "qa7_ppr_kernel" ->
        (() => GraphOps.pprOf(edges, 10, 0.85).count()),
      "q8j_lpa_kernel" ->
        (() => GraphOps.communitiesLpaOf(edges, 10).count()),
      // force the distributed BFS tier: the probe axis is past any driver
      // tier by construction
      "q8z_sssp_kernel" ->
        (() => GraphOps.ssspOf(edges, 50, driverEdgeLimit = 0L).count()))
    for (r <- 1 to reps; (name, fn) <- kernels if only(name)) {
      val t0 = System.nanoTime()
      val n =
        try fn()
        catch { case e: Throwable =>
          println(s"[time] $name rep$r FAILED: ${e.getMessage}"); -1L
        }
      if (n >= 0)
        println(f"[time] $name rep$r ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    edges.unpersist()
    spark.stop()
  }
}
