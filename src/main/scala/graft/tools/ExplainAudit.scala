package graft.tools

/** Prints formatted physical plans for the flagship queries so the
  * pushdown/broadcast/codegen properties are auditable. Run:
  *   sbt "runMain graft.tools.ExplainAudit /root/testdata/sf0.01"
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    Seq("q01_groupavg_brand_flag", "q03_filter_eq", "q21_freq_pairs",
      "q46_ann_brute", "q49_ann_native", "q60_events_hourly",
      // round-2 operators: custom physical plan, asof/range joins, LSH;
      // q61 is PLAIN row_number window syntax — TopKRewrite plans it as
      // TopKPerGroupExec (no WindowExec, no sort)
      "q61_events_ranked", "q66_topk_per_group_native", "q67_asof_join",
      "q68_range_join", "q47_ann_lsh", "q59_ann_pq", "q75_session_window",
      "q1a_pivot", "q1c_column_stats",
      // round-5: codegen'd variant-gen fuzzy join (edit1_dist verify),
      // hash-keyed repeated-ngram two-level agg, broadcast LM scoring,
      // one-pass shingle_hashes under the LSH pair join, CDC chunking
      "q8a_fuzzy_join", "q8e_repeated_ngrams", "q8g_unigram_logprob",
      "q42_minhash_pairs", "q8i_cdc_chunks",
      // round-5 late additions: funnel's shrinking same-key joins, the
      // two-phase skyline (mapPartitions, no shuffle until the frontier
      // union), JSD's single token-keyed aggregate, mode planning as
      // TopKPerGroupExec via the rn = 1 rewrite
      "q8o_funnel", "q8v_skyline", "q8w_jsd_drift", "q9a_mode",
      // q9d: CF co-occurrence + native top-k; q9i: the scan IS the
      // aggregate (pushedAggs in the BatchScan, 3-column readSchema)
      "q9d_item_recs", "q9i_dsv2_agg",
      // round-5 third batch: SCD2's single user-partitioned window
      // cascade; the z-order round-trip's PushedFilters on BOTH box
      // columns; the Gramian's single ObjectHashAggregate (partial+final
      // pair, no row explosion); the incremental merge reading stored
      // partials beside the delta's partial aggregate
      "q9p_scd2", "q9r_zorder_box", "q9s_gramian", "q9x_incr_agg",
      // qa2: SQL text → float_array_dot (FloatDotRewrite) + TopKPerGroupExec
      // (TopKRewrite) — the injected surfaces visible in the plan
      "qa2_ann_sql",
      // session-3: the PPJoin prefix filter (rarity-sliced Generate feeding
      // the candidate join + sorted_intersect_count verify), BM25's
      // broadcast query postings, the bitmap-distinct two-level merge, and
      // the shard-partitioned (never global) epoch-shuffle window
      "qad_prefix_join", "qao_bm25", "qa9_bitmap_distinct",
      "qak_epoch_shuffle",
      // round-7: the hot-item cap's aggregate→semi-join ahead of the pair
      // join (qb8), the distinct-content collapse under the containment
      // join (qb2: groupBy(sh) → rarity prefix over representatives →
      // membership re-expansion), and q33's 6dp face over the cached
      // betweenness relation
      "qb8_copurchase_capped", "qb2_containment", "q33_betweenness",
      // round-8: name-level entity resolution (CC over distinct-name graph,
      // no record-pair materialization) and its capped twin (occupancy
      // aggregate → left_anti ahead of the variant self-join)
      "q9q_entities", "qba_entities_capped",
      // round-9: the manifest packed-corpus DSv2 scan (slice planning is
      // an aggregation, payload pruned on doc_id-only probes), the
      // boilerplate/dup-span pair (distinct-content collapse, portable
      // gram-hash shuffle keys, AQE exchange reuse between the gram count
      // and the share join), and the hashed-feature classifier's single
      // partial-agged pass
      "qbg_manifest_source", "qbi_boilerplate_grams", "qbk_dup_span_ratio",
      "qbl_quality_score",
      // round-9 remainder (the PLANS_r9 gap named in the round-9 verdict):
      // pinned-quantizer rerank twins (broadcast centroid/codebook cross
      // joins, bucket-pruned candidate gen ahead of the exact rerank),
      // semantic dedup's within-cell NN over distinct vectors, the span
      // scrub re-assembly, the CMS/HLL register tables (map-side-collapsed
      // ≤1024/256-cell aggregates), and qbp planning as TopKPerGroupExec
      // with NO WindowExec (the native operator vs the window formulation
      // its oracle replays)
      // round-11 continuation: the fused nearest_cells assignment — the
      // IVF faces and k-means profiles now assign cells in one codegen
      // pass over the scan (no nCells-wide explode, no WindowExec)
      "q4a_ann_ivf", "q8h_kmeans_profile",
      "qbe_ann_ivf_rerank", "qbf_ann_pq_rerank", "qbh_kmeans_pinned",
      "qbj_semantic_dedup", "qbm_span_scrub", "qbn_cms_pinned",
      "qbo_hll_registers", "qbp_source_quota",
      // round-10: the manifest WRITER's relation (manifest parquet scan +
      // pack extraction — the oracle replays its offsets as prefix sums)
      "qbq_manifest_writer")
      .foreach { name =>
      println(s"\n===== $name =====")
      println(graft.SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    // round-11: the iterative graph family's PER-SUPERSTEP plans (the
    // faces' own explained plans end at a localCheckpoint scan — lineage
    // truncation is the point of the checkpoint cadence — so the loop
    // bodies are exposed via the same step functions the loops execute).
    // What to read in them: the static side (edge weights / neighbor /
    // incidence relation) joins the rank vector with NO extra exchange on
    // the static side, and each superstep's only exchanges are the
    // aggregate's partial→final shuffle (PageRank/PPR/LPA/SSSP) or the
    // two transposes (HITS groupBy p after a c-join and vice versa).
    graft.operators.GraphOps.superstepPlans(spark, dir).foreach {
      case (name, df) =>
        println(s"\n===== $name =====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    // scale technique: bucketed co-located join plans without any shuffle
    println("\n===== bucketed_join (ScaleOps) =====")
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS audit_l"); spark.sql("DROP TABLE IF EXISTS audit_p")
    // DROP TABLE on a fresh catalog doesn't clear a leftover warehouse
    // dir from a previous JVM — remove the locations or the write fails
    // with LOCATION_ALREADY_EXISTS
    val wh = java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("audit_l", "audit_p").foreach { t =>
      val p = wh.resolve(t)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        finally s.close()
      }
    }
    graft.operators.ScaleOps.writeBucketed(
      graft.Tables(spark, dir, "lineitem").select("l_partkey", "l_quantity"),
      "audit_l", 8, Seq("l_partkey"))
    graft.operators.ScaleOps.writeBucketed(
      graft.Tables(spark, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand")),
      "audit_p", 8, Seq("l_partkey"))
    println(graft.operators.ScaleOps.bucketedJoin(spark, "audit_l", "audit_p", Seq("l_partkey"))
      .queryExecution.executedPlan.toString().take(2500))
    spark.stop()
  }
}
