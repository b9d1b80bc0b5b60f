package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SharedViews, Tables}

/** Market-basket analytics (SURVEY.md §2.9 G1): frequent-itemset mining.
  * Baskets are the distinct part sets per order (the reference's baskets are
  * movie sets per user, `2-Market Basket Analysis/Solutions/SON.scala:60`).
  *
  * Two tiers, as in the reference:
  *  - SQL tier: frequent singletons / pairs via distinct+groupBy+HAVING and
  *    a self-equi-join — fully Catalyst-planned and DuckDB-oracle-able.
  *  - Algorithmic tier: SON (`SON.scala:62-64,218-263`) — phase 1 runs a
  *    levelwise A-priori inside `mapPartitions` with a scaled-down local
  *    threshold, phase 2 recounts the union of local candidates globally and
  *    filters by true support.
  *
  * Spark-first deviations from the reference (same results, better plans):
  *  - Local A-priori counts candidate k-sets by enumerating each basket's
  *    k-subsets over frequent items (baskets are short) instead of
  *    materializing the cross-product candidate set (`SON.scala:77-108`
  *    builds all pairs of frequent singletons — O(|L1|²) memory, which dies
  *    at 20k+ frequent items). Identical output by A-priori monotonicity.
  *  - Phase-2 candidates ship as a real `broadcast` value, not a closure
  *    capture of a driver-side `collect` (`SON.scala:74,178`).
  */
object Baskets {

  /** Distinct (order, part) pairs — the normalized basket relation. */
  private def orderParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem").select("l_orderkey", "l_partkey").distinct()

  /** Frequent single items at `support` (SQL tier). */
  def freqItems(spark: SparkSession, dir: String, support: Int = 40): DataFrame =
    orderParts(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("support"))
      .where(col("support") >= support)
      .orderBy("l_partkey")

  /** Frequent pairs at `support` via self-equi-join on the basket id —
    * replaces the reference's per-partition pair materialization with a
    * shuffle-partitioned join + HAVING; map-side combine does the partial
    * counting (SQL tier). */
  def freqPairs(spark: SparkSession, dir: String, support: Int = 3): DataFrame = {
    val b = orderParts(spark, dir)
    val a = b.as("a"); val c = b.as("c")
    a.join(c, col("a.l_orderkey") === col("c.l_orderkey") &&
        col("a.l_partkey") < col("c.l_partkey"))
      .groupBy(col("a.l_partkey").as("item1"), col("c.l_partkey").as("item2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= support)
      .orderBy("item1", "item2")
  }

  /** Frequent pairs via the custom `combinations` Catalyst Generator
    * (graft.functions.Combinations — lateral-view subset enumeration, the
    * relational form of the reference's `basket.combinations(2)`,
    * `SON.scala:87`). Same result as [[freqPairs]]; shares its oracle. */
  def freqPairsViaGenerator(spark: SparkSession, dir: String,
      support: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    orderParts(spark, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_partkey"))).as("items"))
      .select(expr("combinations(items, 2)").as("combo"))
      .groupBy(col("combo").getItem(0).as("item1"),
        col("combo").getItem(1).as("item2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= support)
      .orderBy("item1", "item2")
  }

  /** Levelwise A-priori over an in-memory chunk of baskets. Counts k-subsets
    * of each basket restricted to frequent items, pruning candidates whose
    * (k-1)-subsets are not all frequent (monotonicity, `SON.scala:77-108`).
    * Baskets are short (≤ ~15 items) so subset enumeration is cheap and
    * memory stays O(observed frequent subsets), independent of |items|².
    */
  private[operators] def localApriori(
      baskets: Array[Seq[Long]], minSup: Int): Iterator[Seq[Long]] = {
    val c1 = mutable.HashMap.empty[Long, Int]
    baskets.foreach(_.foreach(i => c1.update(i, c1.getOrElse(i, 0) + 1)))
    var level: Set[Seq[Long]] =
      c1.iterator.collect { case (i, n) if n >= minSup => Seq(i) }.toSet
    val out = mutable.ArrayBuffer.empty[Seq[Long]] ++= level
    var k = 2
    while (level.nonEmpty) {
      val freqItems = level.iterator.flatten.toSet
      val counts = mutable.HashMap.empty[Seq[Long], Int]
      baskets.foreach { b =>
        val fb = b.filter(freqItems) // stays sorted
        if (fb.lengthCompare(k) >= 0)
          fb.combinations(k).foreach { c =>
            if (k == 2 || c.combinations(k - 1).forall(level.contains))
              counts.update(c, counts.getOrElse(c, 0) + 1)
          }
      }
      level = counts.iterator.collect { case (s, n) if n >= minSup => s }.toSet
      out ++= level
      k += 1
    }
    out.iterator
  }

  /** SON frequent-itemset mining. Output: (itemset csv, size, support),
    * exact w.r.t. the resolved support regardless of partitioning (phase 2
    * recounts globally — only the candidate set is partition-dependent, and
    * it is a superset of the true frequent sets by SON's guarantee).
    *
    * Support defaults to max(3, 0.02% of baskets) so it scales with sf.
    * Phase-1 chunk count adapts to the support (`support/2`, capped at 32)
    * so the per-chunk threshold `support/nChunks` stays ≥ 2 whenever
    * parallelism is used — a local threshold of 1 degenerates into
    * enumerating every subset of every basket (candidate blow-up), which is
    * the scaled analog of the reference's fixed `support/numPartitions`
    * (`SON.scala:62-64`) with its 1200/4 = 300 regime.
    *
    * Scale: phase 1 is embarrassingly parallel over basket chunks; phase 2
    * is a broadcast of the candidate set + one map-side-combined count
    * shuffle. Driver memory grows only with the candidate count (support-
    * bounded), never with basket count.
    */
  def son(spark: SparkSession, dir: String, supportOpt: Option[Int] = None,
      maxCandidates: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val baskets = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct()
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_partkey"))).as("items"))
      .select("items").as[Seq[Long]]
    sonOnBaskets(spark, baskets, supportOpt, maxCandidates)
  }

  /** SON over an arbitrary basket relation — the reusable core behind
    * [[son]] (lineitem baskets) and the reference-lifecycle app face
    * ([[graft.apps.SonApp]]: ml-1m-shaped `::` text, the reference's
    * case-1/case-2 baskets). Resolves a relative default support exactly
    * like [[son]]. */
  def sonOnBaskets(spark: SparkSession, basketsIn:
      org.apache.spark.sql.Dataset[Seq[Long]], supportOpt: Option[Int],
      maxCandidates: Long = 1000000L): DataFrame = {
    import spark.implicits._
    // phase 2 re-reads the baskets when the caller finally executes the
    // returned lazy frame, so the cache is a transient, not released here
    val baskets = SharedViews.transient(basketsIn
      .repartition(32)
      .cache())

    val nBaskets = baskets.count()
    val support = supportOpt.getOrElse(math.max(3, math.round(nBaskets * 0.0002).toInt))
    val nChunks = math.max(1, math.min(32, support / 2))
    val localSup = math.max(1, support / nChunks) // reference: SON.scala:62-64
    // Phase 1: per-chunk A-priori → candidate itemsets.
    val candDs = baskets
      .coalesce(nChunks) // no shuffle; chunk count tied to support, see above
      .mapPartitions(it => localApriori(it.toArray, localSup))
      .distinct()
      .cache() // counted then collected — don't run phase 1 twice
    // Guard the driver-side collect (same fail-fast discipline as
    // betweennessAuto / communities): with the RELATIVE default support the
    // candidate count is bounded by construction, but an explicit absolute
    // support that is tiny relative to the corpus (say 3 at sf100) makes
    // phase 1 emit an unbounded candidate set — count it BEFORE pulling it
    // into the driver heap, and name the fix in the error.
    val nCand = candDs.count()
    require(nCand <= maxCandidates,
      s"SON phase 1 produced $nCand candidate itemsets (> $maxCandidates): " +
        s"support $support is too low for this corpus ($nBaskets baskets). " +
        s"Use the relative default (0.02% of baskets, supportOpt = None) or " +
        s"raise maxCandidates if the driver heap really can hold them.")
    val candidates = candDs.collect()
    candDs.unpersist()
    val bc = spark.sparkContext.broadcast {
      val bySize = candidates.groupBy(_.size)
      bySize.map { case (k, sets) => (k, sets.toSet) }
    }
    // Phase 2: exact global recount of candidates.
    val counted = baskets.flatMap { b =>
      bc.value.iterator.flatMap { case (k, sets) =>
        if (b.lengthCompare(k) >= 0)
          b.combinations(k).filter(sets.contains)
        else Iterator.empty
      }
    }.groupByKey(identity).count()
      .map { case (s, n) => (s.mkString(","), s.size, n) }
      .toDF("itemset", "size", "support")
      .where(col("support") >= support)
    counted.orderBy("size", "itemset")
  }
}
