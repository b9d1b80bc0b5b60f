package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

class SharedViewsSpec extends AnyFunSuite with SparkSuite {

  private def noCachedEntries: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Names of the RDDs still persisted — the failure message's census. */
  private def persisted: String =
    spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString("\n")

  test("leak census: clearAll leaves no cached relation behind") {
    spark.catalog.clearCache()
    SharedViews.clearAll()
    // one face per cache owner: graph views and kernels, every Dedup view
    // and transient, the Similarity views and per-call persists, media
    // features, SON baskets
    val faces = Seq("q30_cograph_edges", "q33_betweenness", "q34_communities",
      "q32_conncomp", "q8z_sssp", "q9e_kcore", "q42_minhash_pairs",
      "q4b_dedup_incremental", "q56_dedup_groups", "q8n_dedup_survivors",
      "qbb_dedup_stream_lsh", "q44_simhash_pairs", "q45_ngram_jaccard",
      "q4c_minhash_oph", "qad_prefix_join", "qb2_containment",
      "q48_cosine_neardup", "q47_ann_lsh", "q4a_ann_ivf", "q59_ann_pq",
      "q8h_kmeans_profile", "qbj_semantic_dedup", "q70_media_features",
      "q71_media_nearest", "q22_son")
    faces.foreach(f => SparkEntry.queries(f)(spark, sfDir).collect())
    GraphOps.superstepPlans(spark, sfDir).foreach(_._2.collect())
    assert(!noCachedEntries, "the census ran no cached relation")
    SharedViews.clearAll()
    assert(noCachedEntries, s"cached relations left behind:\n$persisted")
  }

  test("nested builds succeed and repeated calls return the same instance") {
    // 64 outer views each build an inner view from inside their builder;
    // on one ConcurrentHashMap with nested computeIfAbsent, keys sharing a
    // bin throw `Recursive update`
    var builds = 0
    def outer(i: Int) = SharedViews.view("spec.outer", spark, "nest", i) {
      builds += 1
      SharedViews.view("spec.inner", spark, "nest", i) {
        builds += 1
        spark.range(i).toDF()
      }.selectExpr("id * 2 AS id")
    }
    val first = (0 until 64).map(outer)
    assert(builds == 128)
    assert((0 until 64).map(outer).zip(first).forall { case (a, b) => a eq b })
    assert(builds == 128)
    // the engine's own nesting: betweenness → edges → incidence
    SharedViews.clearAll()
    val btw = GraphOps.betweenness(spark, sfDir)
    assert(GraphOps.betweenness(spark, sfDir) eq btw)
    assert(GraphOps.coPurchaseEdges(spark, sfDir) eq GraphOps.coPurchaseEdges(spark, sfDir))
    SharedViews.clearAll()
  }

  test("the view name is part of the key") {
    val a = SharedViews.view("spec.a", spark, "named", 3)(spark.range(1).toDF())
    val b = SharedViews.view("spec.b", spark, "named", 3)(spark.range(2).toDF())
    assert(!(a eq b))
    assert(a.count() == 1 && b.count() == 2)
    // edges and betweenness share (spark, dir, minShared = 3)
    val edges = GraphOps.coPurchaseEdges(spark, sfDir, 3)
    val btw = GraphOps.betweenness(spark, sfDir, 3)
    assert(edges.columns.toSeq == Seq("u", "v", "shared"))
    assert(btw.columns.toSeq == Seq("u", "v", "btw"))
    SharedViews.clearAll()
  }
}
