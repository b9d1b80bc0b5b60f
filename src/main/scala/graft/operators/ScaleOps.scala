package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scale techniques the 100 TB deployment leans on, exposed as library
  * operations with plan-shape tests (ScaleOpsSpec):
  *
  *  - Bucketing: co-located joins. Both fact tables written bucketed+sorted
  *    by the join key ⇒ the join plans WITHOUT a shuffle Exchange on either
  *    side. At cluster scale this is the difference between a join that
  *    moves 100 TB and one that moves nothing.
  *  - Salting: skew spreading. A hot key that would pin one reducer is
  *    split across `saltFactor` sub-keys; the small side is replicated per
  *    salt. AQE's skew-join handles moderate skew automatically — salting
  *    is for the pathological keys AQE can't split (single-key hotspots).
  */
object ScaleOps {

  /** Write `df` bucketed (and sorted) by `keys` into the session catalog as
    * `table`. Readers joining bucketed tables on the bucket keys get
    * shuffle-free joins. */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      keys: Seq[String], path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Join two same-bucketed catalog tables on their bucket keys. Broadcast
    * is suppressed for the call so the plan demonstrates the bucket
    * property itself (bucketed SortMergeJoin with NO shuffle on either
    * side) — with broadcast allowed, Catalyst would happily broadcast a
    * small side and skip bucketed reading entirely, which hides the
    * behavior this operator exists to provide at 100 TB (where neither
    * side broadcasts). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      keys: Seq[String]): DataFrame =
    // The `merge` hint pins sort-merge per-PLAN (no session-conf toggling,
    // no race with concurrent queries, survives AQE re-optimization) —
    // bucketed SMJ then reads both sides shuffle-free.
    spark.table(left).hint("merge").join(spark.table(right), keys)

  /** q8d: the bucketed co-located join proven end-to-end as a QUERY — both
    * sides land bucketed+sorted by the join key (external tables, staged
    * storage), and the brand rollup joins them with ZERO shuffle exchanges
    * on either side (ScaleOpsSpec asserts the plan; the DuckDB oracle the
    * result). At 100 TB bucketing is the storage-level contract that turns
    * the engine's biggest fact-fact joins into local merges — this query
    * is the library recipe for it. */
  def bucketedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val suffix = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir)).replace("-", "m")
    val lt = s"graft_bl_$suffix"
    val pt = s"graft_bp_$suffix"
    if (!spark.catalog.tableExists(lt) || !spark.catalog.tableExists(pt)) {
      writeBucketed(graft.Tables(spark, dir, "lineitem")
          .select(col("l_partkey").as("pk"), col("l_quantity")),
        lt, 16, Seq("pk"), Some(graft.sources.Staging.fresh("q8d-lineitem")))
      writeBucketed(graft.Tables(spark, dir, "part")
          .select(col("p_partkey").as("pk"), col("p_brand")),
        pt, 16, Seq("pk"), Some(graft.sources.Staging.fresh("q8d-part")))
    }
    bucketedJoin(spark, lt, pt, Seq("pk"))
      .groupBy("p_brand")
      .agg(round(sum("l_quantity"), 6).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy("p_brand")
  }

  /** Hive-style partitioned parquet layout (`.../col=value/...`) — the
    * data-lake output shape. Readers filtering on the partition column
    * prune whole directories at PLANNING time (PartitionFilters in the
    * scan, zero I/O for pruned values) — at 100 TB, partitioning by e.g.
    * language or date is the difference between scanning a shard and
    * scanning the lake. ScaleOpsSpec asserts the pruning from the plan's
    * selected-partition count. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a directory to ≈`targetFileBytes`
    * files, preserving rows. Streaming ingest and fine-grained partitions
    * accrete kilobyte files whose per-file open/footer cost eventually
    * dwarfs the data scan (the classic small-files problem); periodic
    * compaction is standard table maintenance. Repartition count is sized
    * from the actual input bytes, floor 1. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val bytes = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    graft.Tables.parquet(spark, inPath)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Skew-safe equi-join: the big side's key is salted with a uniform
    * random-free deterministic salt (hash of a row-unique column), the
    * small side is exploded once per salt value. Results identical to the
    * plain join; the hot key's rows land on `saltFactor` reducers. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      uniqueCol: String, saltFactor: Int = 8): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(xxhash64(col(uniqueCol)), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    // shuffle_hash hint: salting only spreads a hot key if the join
    // actually shuffles on (key, salt) — a broadcast of the replicated
    // side would put every salt replica back into one hash table. The
    // per-plan hint pins the shuffled path without toggling the session's
    // autoBroadcastJoinThreshold (racy under concurrency, and AQE could
    // re-plan to broadcast after the conf was restored).
    salted.hint("shuffle_hash").join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** q7d: q14's brand aggregation through [[saltedJoin]] instead of the
    * plain equi-join — shares q14's oracle, proving result-equivalence of
    * the skew-spreading rewrite on real data (the property a salted plan
    * must guarantee before it is ever worth its replication cost). The
    * shuffle_hash hint inside [[saltedJoin]] pins the shuffled path the
    * operator exists for (ScaleOpsSpec asserts no BroadcastHashJoin in the
    * executed plan). */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val l = graft.Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_orderkey"),
        col("l_extendedprice"))
    val p = graft.Tables(spark, dir, "part")
      .select(col("p_partkey").as("pk"), col("p_brand"))
    saltedJoin(l, p, "pk", "l_orderkey")
      .groupBy("p_brand")
      .agg(round(avg("l_extendedprice"), 6).as("avg_price"),
        count(lit(1)).as("cnt"))
      .orderBy("p_brand")
  }

  /** q83: [[writePartitioned]] proven end-to-end — events land in a
    * Hive-partitioned layout by event_type, the read filters to ONE
    * partition value and aggregates hourly. The filter is satisfied at
    * PLANNING time from directory names (PartitionFilters in the scan;
    * ScaleOpsSpec asserts selectedPartitions == 1): at 100 TB the other
    * partitions are never opened. Shares q60's aggregation; the oracle is
    * the same SQL filtered to the partition value. */
  def prunedScanQuery(spark: SparkSession, dir: String,
      eventType: String = "click"): DataFrame = {
    val stage = graft.sources.Staging.once("q83-part", dir)(
      writePartitioned(graft.Tables(spark, dir, "events"), _, Seq("event_type")))
    graft.Tables.parquet(spark, stage)
      .where(col("event_type") === eventType)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      .orderBy("hour_s")
  }

  /** q85: bloom-filter semi-join — the runtime-filter pattern as a library
    * operation. The dim side's join keys are folded into ONE bloom filter
    * by a distributed aggregate (`bloom_agg`, Spark's own sketch), the
    * single binary travels to the fact scan as a literal, and
    * `bloom_contains` drops ~all non-matching fact rows BEFORE the join
    * shuffle; the exact semi-join afterwards removes the false positives,
    * so the result is identical to the plain semi-join (the oracle). At
    * 100 TB this is the difference between shuffling the whole fact table
    * into the join and shuffling the ~matching fraction — the same
    * mechanism Spark's InjectRuntimeFilter plants, but available
    * explicitly, e.g. across queries or against a precomputed dim. */
  def bloomSemiJoin(spark: SparkSession, dir: String,
      brand: String = "Brand#23"): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val parts = graft.Tables(spark, dir, "part")
      .where(col("p_brand") === brand).select(col("p_partkey"))
    val bf = parts.agg(
      call_function("bloom_agg", col("p_partkey"), lit(1000000L)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val fact = graft.Tables(spark, dir, "lineitem")
    // zero dim rows ⇒ bloom_agg yields NULL; a NullType literal inside
    // bloom_contains fails analysis, and the semi-join result is empty
    // anyway — skip the pre-filter and let the exact semi-join produce it
    val pre = if (bf == null) fact
      else fact.where(call_function("bloom_contains", lit(bf), col("l_partkey")))
    pre.join(parts, pre("l_partkey") === parts("p_partkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 6).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** qa5: schema-evolution read — the lakehouse reality that batches
    * written months apart carry different schemas: epoch-1 files lack
    * the later `quality` column, epoch-2 files carry it. `mergeSchema`
    * reconciles the footers at planning time (the union schema, legacy
    * rows null-filled) — no rewrite of the old files, which at 100 TB is
    * the only affordable answer to a schema change. The aggregate then
    * treats null-vs-present as first-class (legacy counts, null-skipping
    * avg), which is exactly what the oracle replays from the residue
    * that decided each row's epoch. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
    val stage = graft.sources.Staging.once("qa5-evo", dir) { out =>
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.parquet(out + "/batch=1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"),
          (length(col("text")) % 100).as("quality"))
        .write.parquet(out + "/batch=2")
    }
    graft.Tables.parquet(spark, stage, mergeSchema = true)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_legacy"),
        round(avg("quality"), 6).as("avg_quality"))
      .orderBy("lang")
  }

  /** Morton (z-order) key: interleave the low 32 bits of two non-negative
    * keys — bit-spreading by shift/mask magic constants, pure codegen'd
    * integer ops (no UDF, no loop). Rows close in BOTH dimensions land
    * close on the z-curve, which is what makes multi-column min/max
    * skipping work after range-partitioning by z. */
  private def spreadBits(c: Column): Column = {
    var x = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  def zorderKey(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** q9r: z-order clustered layout, proven end-to-end — the multi-
    * dimensional generalization of q83's single-column partition pruning.
    * Hive-partitioning skips on ONE column; a 2-d box predicate
    * (partkey × suppkey) over a layout clustered on either single column
    * still reads ~everything on the other. Writing the fact table range-
    * partitioned AND sorted by the interleaved [[zorderKey]] makes every
    * file/row-group cover a small rectangle of (partkey, suppkey) space,
    * so parquet min/max stats prune the box on BOTH columns at once — at
    * 100 TB the dominant cost term is files opened, and this layout is
    * the difference between reading the box and reading the table. The
    * query itself filters the round-tripped layout (PushedFilters reach
    * the scan; the z column is dropped before the write — it's a layout
    * device, not data) and must equal the plain filter+aggregate over the
    * original table, which is the oracle. */
  def zorderedBoxQuery(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.sources.Staging.once("q9r-zorder", dir) { out =>
      graft.Tables(spark, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
        .withColumn("z", zorderKey(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(out)
    }
    graft.Tables.parquet(spark, stage)
      .where(col("l_partkey").between(1, 50) &&
        col("l_suppkey").between(1, 5))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 6).as("sum_qty"),
        round(sum("l_extendedprice"), 6).as("sum_price"))
      .orderBy("l_suppkey")
  }

  /** qax: histogram-product join-cardinality estimate — the number a
    * cost-based optimizer computes before picking a join strategy:
    * |A ⋈ B| = Σ_k n_A(k)·n_B(k) over the key histograms. For an
    * equi-join the formula is EXACT, so the query also executes the
    * join and proves predicted == actual — a self-validating invariant
    * (and the per-key max term is the skew share qan acts on). The
    * histograms are two map-side-combined counts; the product sum is a
    * key-keyed join of two aggregate relations, never of the fact
    * tables. */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_o"))
    val c = graft.Tables(spark, dir, "customer")
      .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("n_c"))
    val predicted = o.join(c, "k")
      .agg(sum(col("n_o") * col("n_c")).as("predicted"),
        max(col("n_o") * col("n_c")).as("max_key_pairs"))
    val actual = graft.Tables(spark, dir, "orders")
      .join(graft.Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("actual"))
    predicted.crossJoin(broadcast(actual))
      .select(col("predicted"), col("actual"),
        (col("predicted") === col("actual")).as("estimate_exact"),
        col("max_key_pairs"))
  }

  /** qan: join-key skew diagnostics — the numbers that decide whether a
    * key needs salting (q7d) or AQE skew handling before a 100 TB join:
    * per-key counts summarized as a Gini coefficient (rank-weighted
    * integer formula — exact, no sampling), the heaviest key's share and
    * the top-10 share. The global rank runs over the AGGREGATED key
    * relation (|keys| rows, not |rows|), which is the only sort in the
    * plan; everything before it is one map-side-combined count. All
    * sums are integer until the two final divisions. */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.Tables(spark, dir, "lineitem")
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("i",
      row_number().over(Window.orderBy("cnt", "l_partkey")).cast("long"))
    val top10 = counts.orderBy(col("cnt").desc, col("l_partkey")).limit(10)
      .agg(sum("cnt").as("top10"))
    ranked
      .agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"),
        max("cnt").as("max_cnt"), sum(col("i") * col("cnt")).as("iw"))
      .crossJoin(broadcast(top10))
      .select(col("n_keys"), col("total"), col("max_cnt"),
        round((lit(2.0) * col("iw") - (col("n_keys") + 1) * col("total"))
          / (col("n_keys") * col("total")), 6).as("gini"),
        round(col("max_cnt").cast("double") / col("total"), 6)
          .as("max_share"),
        round(col("top10").cast("double") / col("total"), 6)
          .as("top10_share"))
  }
}
