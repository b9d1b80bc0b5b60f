package graft.operators

import scala.collection.mutable
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.{SharedViews, Tables}

/** Graph analytics (SURVEY.md §2.9 G2–G6): similarity-graph construction,
  * degrees, connected components, Brandes edge betweenness, modularity and
  * Girvan–Newman community detection.
  *
  * The graph: customers are vertices; an undirected edge (u, v) exists iff u
  * and v purchased ≥ `minShared` distinct parts in common (the reference's
  * co-rating graph: users sharing ≥ 3 movies,
  * `3-Graph Community Detection/Betweenness.scala:24-32`).
  *
  * Spark-first deviations (same semantics, scalable plans):
  *  - Edge construction is an equi-join on partkey + groupBy-count ≥ k, NOT
  *    the reference's O(n²) constant-key self-join (`Betweenness.scala:27-29`);
  *    at or below the driver limit, the same count runs on the driver as a
  *    row-wise sparse product over the incidence ([[coPurchaseEdgesOf]]).
  *  - Connected components is an iterative DataFrame min-label propagation
  *    (large-graph path), not a driver adjacency walk.
  *  - Betweenness distributes one Brandes BFS per source over executors with
  *    the adjacency list as a real broadcast (the reference collects the
  *    adjacency to the driver and re-ships it in a closure,
  *    `Betweenness.scala:53,89,133`). O(V·E) total; for graphs whose
  *    adjacency exceeds broadcast budget the scale path is Pregel-style
  *    `aggregateMessages` (flagged, not needed at fixture scale).
  *  - Modularity uses the closed form per community
  *    Σ_c [E_c − (D_c² − S_c)/(4m)] / (2m)   (D_c = Σ degree, S_c = Σ degree²)
  *    which equals the reference's pairwise sum over unordered within-
  *    community pairs (`Community.scala:16-48`, including its ½-of-textbook-Q
  *    quirk) without enumerating V² pairs.
  */
object GraphOps {

  /** The default edge count at or below which a tiered kernel runs on the
    * driver ([[byTier]]). */
  private[graft] val DriverEdgeLimit = 5000000L

  /** Distinct customer–part incidence (c, p) — the shared base relation of
    * the co-purchase graph AND item-item CF ([[Recommend]]); a keyed
    * [[graft.SharedViews]] view per (session, dir) so the lineitem⋈orders
    * distinct is paid once across both families. */
  private[operators] def incidence(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("graph.incidence", spark, dir) {
      val l = Tables(spark, dir, "lineitem")
      val o = Tables(spark, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct().cache()
    }

  /** Undirected co-purchase edges (u < v, with shared-part count). The
    * whole graph family (degrees, components, betweenness, communities,
    * modularity) consumes this one relation, so it is a keyed
    * [[graft.SharedViews]] view per (session, dir, minShared) instead of a
    * join+aggregate per query: the first consumer pays the build and the
    * rest read the stored copy. The relation is tiny relative to its
    * inputs (edges ≪ lineitem), so pinning it is safe even at large
    * scale — it's the classic materialized-view shape.
    *
    * Stored in (u, v) order, range-partitioned on it, in one of two tiers
    * ([[coPurchaseEdgesOf]]): at most [[DriverEdgeLimit]] incidence rows
    * are counted on the driver and stored as a relation whose order the
    * plan carries ([[Bridge.presorted]], no Spark sort); above it, the
    * pair join is cached after one range sort. Either way a reader's own
    * `orderBy("u", "v")` ([[edgesQuery]]) plans with no exchange and no
    * sort (on the join tier, once its cache is materialized): one scan
    * job. The tiered kernels' driver tiers therefore also receive the
    * edges in one fixed order, whatever the partitioning. */
  def coPurchaseEdges(spark: SparkSession, dir: String, minShared: Int = 3): DataFrame =
    SharedViews.view("graph.edges", spark, dir, minShared) {
      coPurchaseEdgesOf(incidence(spark, dir), minShared)
    }

  /** The co-purchase edges of a (c, p) incidence, in (u, v) order. The
    * incidence enters [[fetchEdges]] as (u = c, v = p). At most
    * `driverEdgeLimit` rows are counted on the driver
    * ([[countCoPurchases]]), unless a hot part makes the candidate pairs
    * exceed [[PairsPerEdge]] × `driverEdgeLimit`; otherwise, and above the
    * limit, the pair join ([[coPurchaseJoin]]) is sorted and cached. Both
    * tiers give the join's rows and column types. */
  private[operators] def coPurchaseEdgesOf(inc: DataFrame, minShared: Int,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    def joined = coPurchaseJoin(inc, minShared).orderBy("u", "v").cache()
    fetchEdges(inc.select(col("c").as("u"), col("p").as("v")), driverEdgeLimit) match {
      case Right(cols) =>
        countCoPurchases(cols, minShared, PairsPerEdge * driverEdgeLimit).fold(joined) { rows =>
          val spark = inc.sparkSession
          val c = inc.schema("c")
          val schema = StructType(Seq(StructField("u", LongType, c.nullable),
            StructField("v", LongType, c.nullable),
            StructField("shared", LongType, nullable = false)))
          Bridge.presorted(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .select(col("u").cast(c.dataType), col("v").cast(c.dataType), col("shared")),
            col("u"), col("v"))
        }
      case Left(_) => joined
    }
  }

  /** The candidate pairs a driver co-purchase count may visit, per
    * incidence row the driver tier admits: 10^8 pairs at
    * [[DriverEdgeLimit]]. [[countCoPurchases]] visits about 2·10^7
    * pairs/s on one core (sf0.1's 8,978,844 pairs in 0.48–0.63 s on a
    * 4-core host), so the bound caps the driver count near 5 s; the pair
    * join it replaces moved about 7·10^5 pairs/s on all four cores of
    * that host (sf0.1: 13.5–15.0 s). */
  private val PairsPerEdge = 20L

  /** Undirected co-purchase pairs u < v with at least `minShared` shared
    * parts — the reference's co-rating edge rule as an equi-join on the
    * part plus a group count. */
  private def coPurchaseJoin(cp: DataFrame, minShared: Int): DataFrame = {
    val a = cp.as("a"); val b = cp.as("b")
    a.join(b, col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .groupBy(col("a.c").as("u"), col("b.c").as("v"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** [[coPurchaseJoin]] on the driver over the (u = c, v = p) incidence
    * columns, as (u, v, shared) rows in (u, v) order; None when the
    * candidate pairs Σ_p C(H_p, 2) (H_p = buyers of part p) exceed
    * `maxPairs`. A row-wise sparse product (Gustavson, ACM TOMS 1978):
    * for each customer u in ascending order, every co-buyer v > u of each
    * of u's parts bumps a dense counter, and the touched v are emitted in
    * ascending order and reset. O(Σ_p H_p²) time, O(customers) scratch,
    * and no pair is stored. A duplicate incidence row counts as the join
    * counts it. */
  private[operators] def countCoPurchases(inc: EdgeCols, minShared: Int,
      maxPairs: Long): Option[Array[Row]] = {
    val (buyers, parts) = incidenceArcs(inc)
    val candidates = (0 until buyers.dstIds.length).iterator.map { p =>
      val h = (buyers.offsets(p + 1) - buyers.offsets(p)).toLong
      h * (h - 1) / 2
    }.sum
    if (candidates > maxPairs) return None
    val ids = parts.dstIds
    val shared = new Array[Int](ids.length)
    val touched = new Array[Int](ids.length)
    val rows = Array.newBuilder[Row]
    var u = 0
    while (u < ids.length) {
      var t = 0
      var k = parts.offsets(u)
      while (k < parts.offsets(u + 1)) {
        val p = parts.src(k)
        var j = buyers.offsets(p + 1) - 1 // buyers ascending: walk down to u
        while (j >= buyers.offsets(p) && buyers.src(j) > u) {
          val v = buyers.src(j)
          if (shared(v) == 0) { touched(t) = v; t += 1 }
          shared(v) += 1
          j -= 1
        }
        k += 1
      }
      java.util.Arrays.sort(touched, 0, t)
      var i = 0
      while (i < t) {
        val v = touched(i)
        if (shared(v) >= minShared) rows += Row(ids(u), ids(v), shared(v).toLong)
        shared(v) = 0
        i += 1
      }
      u += 1
    }
    Some(rows.result())
  }

  /** Sorted edge list query (oracle-able); one scan of the (u, v)-ordered
    * [[coPurchaseEdges]] view. */
  def edgesQuery(spark: SparkSession, dir: String): DataFrame =
    coPurchaseEdges(spark, dir).orderBy("u", "v")

  /** Hot-item-capped co-purchase edges: parts bought by more than
    * `hotItemCap` distinct customers are excluded BEFORE the pair join.
    * This is SCALE.md's named quadratic risk made into a knob — a part
    * with H buyers contributes H(H−1)/2 pairs, so at 100 TB one viral
    * item dominates the entire shuffle (the reference's graph build has
    * no guard and goes quadratic on hot keys, `Betweenness.scala:27-29`).
    * Frequency-ceiling is the standard similarity-join mitigation: hot
    * items carry almost no pairwise signal (everyone bought them) but all
    * of the cost. The cap relation is an aggregate of the (cached)
    * incidence, applied as a semi-join so the scan stays single-pass. */
  def coPurchaseEdgesCapped(spark: SparkSession, dir: String,
      minShared: Int = 3, hotItemCap: Int = 40): DataFrame = {
    val cp = incidence(spark, dir)
    val keep = cp.groupBy("p").agg(count(lit(1)).as("n_buyers"))
      .where(col("n_buyers") <= hotItemCap).select("p")
    coPurchaseJoin(cp.join(keep, Seq("p"), "left_semi"), minShared).orderBy("u", "v")
  }

  /** Vertex degrees over the co-purchase graph (oracle-able). One pass:
    * each edge explodes to its two endpoints — unlike a unionAll of two
    * selects, the (expensive, possibly uncached) edge relation is scanned
    * once, not once per union branch. */
  def degrees(spark: SparkSession, dir: String): DataFrame =
    coPurchaseEdges(spark, dir)
      .select(explode(array(col("u"), col("v"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
      .orderBy("vertex")

  /** Connected components via iterative min-label propagation on DataFrames
    * (the scalable stand-in for GraphX `connectedComponents()`,
    * `Community.scala:22`). Each iteration: label(v) ← min(label(v),
    * min over neighbors' labels); converges in O(diameter) joins. AQE
    * coalesces the shrinking shuffles. Output: (vertex, component) where
    * component = min vertex id in the component (deterministic).
    */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame =
    componentsAuto(spark, coPurchaseEdges(spark, dir).select("u", "v"))

  /** Path selection: below `driverEdgeLimit` edges the exact union–find on
    * the driver wins outright (a 15k-edge CC is milliseconds there, while
    * every distributed round costs shuffles); above it, the O(log diameter)
    * pointer-jumping propagation. Same contract either way: (vertex,
    * component=min member id), ordered by vertex. The driver tier's rows
    * are a local relation built in vertex order, so collecting them runs
    * no job ([[rankRows]]). */
  def componentsAuto(spark: SparkSession, edgeDf: DataFrame,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame =
    byTier(edgeDf, driverEdgeLimit) { cols =>
      import spark.implicits._
      val edges = cols.pairs
      val vertices = edges.iterator.flatMap(x => Iterator(x._1, x._2)).toArray.distinct
      spark.createDataset(unionFind(vertices, edges).toSeq.sortBy(_._1))
        .toDF("vertex", "component")
    }(componentsOf)

  /** Min-label propagation with pointer jumping over an arbitrary (u, v)
    * edge DataFrame. Plain neighbor-min propagation needs O(diameter)
    * rounds — fatal on near-critical sparse graphs (avg degree ~2 ⇒ long
    * chains). Each round here additionally shortcuts label(v) ←
    * label(label(v)) (every label is itself a vertex id), giving O(log
    * diameter) rounds. `localCheckpoint` truncates the per-round lineage so
    * round N+1 doesn't re-execute rounds 1..N. */
  def componentsOfEdges(edgeDf: DataFrame): DataFrame =
    withCache(edgeDf.select("u", "v"))(componentsOf)

  /** [[componentsOfEdges]] over the cached (u, v) relation `e` of `m` edges. */
  private def componentsOf(e: DataFrame, m: Long): DataFrame = {
    // the propagation joins nbrs(v) = labels(vertex) every round
    // (see keyedStatic)
    val nbrs = keyedStatic(bothWays(e), 2 * m, "v")
    var labels = nbrs.select(col("u").as("vertex")).distinct()
      .withColumn("component", col("vertex"))
      .localCheckpoint()
    // Labels only ever decrease under min-propagation, so Σ labels strictly
    // decreases until the fixpoint — convergence is one cheap aggregate per
    // round instead of a change-detection join.
    def labelSum(df: DataFrame): java.math.BigDecimal = // decimal: no overflow on huge ids
      df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum: java.math.BigDecimal = null
    var curSum = labelSum(labels)
    while (curSum != prevSum) {
      // label(v) ← min(label(v), min over neighbors w of label(w))
      val nmin = nbrs.join(labels, nbrs("v") === labels("vertex"))
        .groupBy(nbrs("u").as("vertex")).agg(min("component").as("nl"))
      val l1 = labels.as("l").join(nmin.as("n"), Seq("vertex"), "left_outer")
        .select(col("vertex"),
          least(col("component"), coalesce(col("nl"), col("component"))).as("component"))
      // pointer jump: label(v) ← label(label(v))
      val l2 = l1.as("a").join(l1.as("b"), col("a.component") === col("b.vertex"))
        .select(col("a.vertex").as("vertex"), col("b.component").as("component"))
        .localCheckpoint()
      prevSum = curSum
      curSum = labelSum(l2)
      labels = l2
    }
    nbrs.unpersist() // labels is a checkpoint
    labels.orderBy("vertex")
  }

  /** The tier gate of the tiered graph kernels ([[componentsAuto]],
    * [[betweennessAuto]], [[betweennessSampled]], [[ssspOf]],
    * [[kCoreOf]], and the fixed-count [[pageRankOf]], [[pprOf]],
    * [[communitiesLpaOf]] and [[hitsOf]], whose driver tiers iterate on
    * [[InArcs]]). The (u, v) relation is evaluated once: each partition
    * is packed on the executors into two long columns ([[packColumns]])
    * and persisted, and the edge count `m` is the sum of their lengths
    * (job 1). At most `driverEdgeLimit` edges run `driver` on the
    * concatenated columns ([[EdgeCols]], 16 B per edge; job 2 reads the
    * persisted blocks, and no row object reaches the driver). Above the
    * limit the packed blocks are dropped and `distributed` runs on the
    * relation cached and filled for it ([[withCache]]; both tiers consume
    * it eagerly), with `m` so it need not count again: the edges never
    * leave the executors.
    * The columns are read as `as[(Long, Long)]` reads them: integral
    * columns are up-cast to long, any other type fails analysis, and a
    * null endpoint fails the job. */
  private def byTier(edgeDf: DataFrame, driverEdgeLimit: Long)(
      driver: EdgeCols => DataFrame)(
      distributed: (DataFrame, Long) => DataFrame): DataFrame =
    fetchEdges(edgeDf, driverEdgeLimit) match {
      case Right(cols) => driver(cols)
      case Left(m) => withCache(edgeDf.select("u", "v"))((cached, _) => distributed(cached, m))
    }

  /** [[byTier]]'s gate: the (u, v) columns of `edgeDf` when it has at
    * most `driverEdgeLimit` rows, else its row count (jobs 1 and 2). */
  private def fetchEdges(edgeDf: DataFrame, driverEdgeLimit: Long): Either[Long, EdgeCols] = {
    val e = edgeDf.select("u", "v")
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)] // binds the encoder: the analysis check of the typed read
    val packed = e.select(col("u").cast("long"), col("v").cast("long"))
      .queryExecution.toRdd.mapPartitions(packColumns)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = packed.map(_._1.length.toLong).fold(0L)(_ + _)
      if (m <= driverEdgeLimit) Right(EdgeCols.concat(packed.collect())) else Left(m)
    } finally packed.unpersist()
  }

  /** One partition of [[byTier]]'s (u, v) rows as two long columns. A
    * null endpoint fails here: `getLong` would read it as vertex 0. */
  private def packColumns(rows: Iterator[InternalRow]): Iterator[(Array[Long], Array[Long])] = {
    val (u, v) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException("graph edge column '" +
          (if (r.isNullAt(0)) "u" else "v") + "' holds a null endpoint")
      u += r.getLong(0); v += r.getLong(1)
    }
    Iterator.single((u.result(), v.result()))
  }

  /** A driver tier's edge list as two primitive columns: edge k is
    * (u(k), v(k)), in the order the relation's partitions held them. */
  private[operators] final class EdgeCols(val u: Array[Long], val v: Array[Long]) {
    require(u.length == v.length, s"edge columns of ${u.length} and ${v.length} rows")
    def length: Int = u.length

    /** The edges as (u, v) pairs, for the drivers built on [[Csr]]. */
    def pairs: Array[(Long, Long)] = Array.tabulate(length)(k => (u(k), v(k)))

    /** The edges that are not self-loops, in order. */
    def withoutLoops: EdgeCols = {
      val (ku, kv) = (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
      var k = 0
      while (k < length) { if (u(k) != v(k)) { ku += u(k); kv += v(k) }; k += 1 }
      new EdgeCols(ku.result(), kv.result())
    }
  }

  private[operators] object EdgeCols {
    def of(edges: Array[(Long, Long)]): EdgeCols =
      new EdgeCols(edges.map(_._1), edges.map(_._2))

    /** The packed partitions of [[byTier]], concatenated in order. */
    def concat(parts: Array[(Array[Long], Array[Long])]): EdgeCols =
      new EdgeCols(Array.concat(parts.map(_._1): _*), Array.concat(parts.map(_._2): _*))
  }

  /** `body` over `df` cached and its row count, where this call owns only
    * the cache entry it made: when the caller already cached `df`'s plan,
    * `df.cache()` IS the caller's entry, and unpersisting it would drop the
    * caller's cache. The count is one scan job that fills every partition
    * of the cache before `body` runs; a cache left for `body`'s stages to
    * fill is filled inside them, where two concurrent stages can compute
    * the same partition. */
  private def withCache(df: DataFrame)(body: (DataFrame, Long) => DataFrame): DataFrame = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.cache()
    try body(df, df.rdd.count()) finally if (owned) df.unpersist()
  }

  // ---------------------------------------------------------------- Brandes

  /** Immutable CSR adjacency with parallel canonical-edge-id arrays;
    * vertices remapped to dense ints so the BFS runs on primitive arrays. */
  private[operators] final case class Csr(verts: Array[Long], offsets: Array[Int],
      nbr: Array[Int], eid: Array[Int], edges: Array[(Long, Long)])

  private[operators] def buildCsr(rawEdges: Array[(Long, Long)]): Csr = {
    // canonicalize + dedupe defensively: a reversed or duplicated input
    // edge would otherwise double-count every credit through it
    val edges = rawEdges.iterator
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2)
      .toArray.distinct
    val verts = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct.sorted
    val idx = verts.zipWithIndex.toMap
    val n = verts.length
    val deg = new Array[Int](n)
    edges.foreach { case (u, v) => deg(idx(u)) += 1; deg(idx(v)) += 1 }
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) { offsets(i + 1) = offsets(i) + deg(i); i += 1 }
    val nbr = new Array[Int](2 * edges.length)
    val eid = new Array[Int](2 * edges.length)
    val cursor = offsets.clone()
    var e = 0
    while (e < edges.length) {
      val u = idx(edges(e)._1); val v = idx(edges(e)._2)
      nbr(cursor(u)) = v; eid(cursor(u)) = e; cursor(u) += 1
      nbr(cursor(v)) = u; eid(cursor(v)) = e; cursor(v) += 1
      e += 1
    }
    Csr(verts, offsets, nbr, eid, edges)
  }

  /** Where a BFS deposits per-edge credit. Two tiers: a dense `double[E]`
    * per task (fastest; one array-reduce shuffle) and a sparse hash map
    * (when `double[E]` outgrows a task — the SCALE.md promise). Only two
    * implementations exist, so the call stays bimorphic/inlineable. */
  private[operators] trait CreditSink { def add(eid: Int, c: Double): Unit }
  private[operators] final class DenseCredits(val acc: Array[Double]) extends CreditSink {
    override def add(eid: Int, c: Double): Unit = acc(eid) += c
  }
  private[operators] final class SparseCredits extends CreditSink {
    val acc = new mutable.LongMap[Double]()
    override def add(eid: Int, c: Double): Unit =
      acc.update(eid.toLong, acc.getOrElse(eid.toLong, 0.0) + c)
  }

  /** One Brandes BFS from source index `s`, accumulating edge credit into
    * `acc` (the Girvan–Newman credit rule on unweighted graphs,
    * `Betweenness.scala:56-116`). Scratch arrays are caller-provided and
    * reused across sources; only vertices touched by this BFS are reset. */
  private[operators] def brandesOneSource(g: Csr, s: Int, acc: CreditSink,
      dist: Array[Int], sigma: Array[Double], delta: Array[Double],
      order: Array[Int]): Unit = {
    var head = 0; var tail = 0
    dist(s) = 0; sigma(s) = 1.0
    order(tail) = s; tail += 1
    while (head < tail) {
      val v = order(head); head += 1
      val dv = dist(v)
      var j = g.offsets(v)
      while (j < g.offsets(v + 1)) {
        val w = g.nbr(j)
        if (dist(w) < 0) { dist(w) = dv + 1; order(tail) = w; tail += 1 }
        if (dist(w) == dv + 1) sigma(w) += sigma(v)
        j += 1
      }
    }
    var k = tail - 1
    while (k >= 0) {
      val w = order(k)
      val dw = dist(w)
      var j = g.offsets(w)
      while (j < g.offsets(w + 1)) {
        val v = g.nbr(j)
        if (dist(v) == dw - 1) {
          val c = sigma(v) / sigma(w) * (1.0 + delta(w))
          delta(v) += c
          acc.add(g.eid(j), c)
        }
        j += 1
      }
      k -= 1
    }
    // reset only what this BFS touched
    k = 0
    while (k < tail) {
      val v = order(k)
      dist(v) = -1; sigma(v) = 0.0; delta(v) = 0.0
      k += 1
    }
  }

  /** Edge betweenness: one BFS per source distributed over executors, summed
    * per canonical edge, halved (both directions counted,
    * `Betweenness.scala:133-138`).
    *
    * Shuffle shape: each partition accumulates credits into ONE dense
    * double[E] and emits that single array — a 32-array reduce instead of
    * shuffling V·E credit tuples (≈220M at sf0.1). Scale path for graphs
    * where double[E] outgrows a task (E ≳ 10⁸): emit per-partition sparse
    * (edgeId, credit) chunks and shuffle-sum, or move to Pregel
    * `aggregateMessages`. */
  /** Exact betweenness is consumed by THREE queries (q33 raw, q34
    * communities, q35 modularity curve — the reference's own pipeline
    * computes it once and reuses it, `Community.scala:56`); a keyed
    * [[graft.SharedViews]] view like [[coPurchaseEdges]], so the O(V·E)
    * Brandes pass runs once per (session, dir, minShared), not once per
    * consumer.
    *
    * Stored in q33's and q35's order, [[btwRank]] then (u, v), so their
    * own `orderBy` of that key reads the view with one scan job, as for
    * [[coPurchaseEdges]]. Tiered like [[betweennessAuto]]: at most
    * [[DriverEdgeLimit]] edges run the exact Brandes pass, whose rows are
    * sorted on the driver and stored as a relation whose order the plan
    * carries ([[Bridge.presorted]], no Spark sort); above it, the sampled
    * distributed tier is sorted and cached. q34 ([[communities]]) ranks
    * by the raw `btw` and sorts explicitly. */
  def betweenness(spark: SparkSession, dir: String, minShared: Int = 3): DataFrame =
    SharedViews.view("graph.betweenness", spark, dir, minShared) {
      val rank = Seq(btwRank, col("u"), col("v"))
      byTier(coPurchaseEdges(spark, dir, minShared), DriverEdgeLimit) { e =>
        import spark.implicits._
        val rows = btwRows(spark, e.pairs).sortWith { (a, b) =>
          val byRank = SQLOrderingUtil.compareDoubles(math.rint(b._3 * 1e9), math.rint(a._3 * 1e9))
          if (byRank != 0) byRank < 0 else if (a._1 != b._1) a._1 < b._1 else a._2 < b._2
        }
        Bridge.presorted(spark.createDataset(rows).toDF("u", "v", "btw"), rank: _*)
      } { (e, _) =>
        betweennessDistributed(spark, e, SampledFraction).orderBy(rank: _*).cache()
      }
    }

  /** The removal rank of q33 and q35: betweenness quantized to 1e-9,
    * descending, so edges whose true values differ by less than that tie
    * and fall to the (u, v) tiebreak (see [[modularityCurve]]). */
  private def btwRank: Column = expr("rint(btw * 1e9)").desc

  /** q33's oracle-able face: values rounded to 6 dp (the engine-wide float
    * discipline — an independent recomputation's per-edge sums differ at
    * ~1e-12, which 6 dp absorbs everywhere off the measure-zero rounding
    * boundaries). The cached raw relation stays untouched for q34/q35. */
  def betweennessQuery(spark: SparkSession, dir: String): DataFrame =
    betweenness(spark, dir)
      .orderBy(btwRank, col("u"), col("v"))
      .select(col("u"), col("v"), round(col("btw"), 6).as("btw"))

  /** Guarded betweenness entry, mirroring [[componentsAuto]]: count the
    * edge RELATION first — only below `driverEdgeLimit` is the
    * collect + broadcast-CSR Brandes affordable (the collect itself is the
    * driver-OOM at 100× edge counts, not just the O(V·E) work). Above the
    * limit the edge list never leaves the executors:
    * [[betweennessDistributed]] runs a source-sampled Brandes as pure
    * DataFrame joins. `fraction` applies only to the over-limit tier
    * (exact under the limit). */
  def betweennessAuto(spark: SparkSession, edgeDf: DataFrame,
      driverEdgeLimit: Long = DriverEdgeLimit, fraction: Double = SampledFraction): DataFrame =
    byTier(edgeDf, driverEdgeLimit)(e => betweennessOfEdges(spark, e.pairs))(
      (e, _) => betweennessDistributed(spark, e, fraction))

  /** The source fraction of the sampled betweenness tier above the limit. */
  private val SampledFraction = 0.05

  /** Brandes with NO driver-side edge materialization: BFS state lives in
    * (src, v)-keyed relations, partitioned across executors by key — the
    * tier for graphs whose edge list outgrows both the driver heap and the
    * broadcast budget. Forward phase: one equi-join + partial-agg per BFS
    * level accumulates path counts (σ); backward phase: one join per level
    * walks the DAG in reverse, splitting credit σ_p/σ_w·(1+δ_w) across
    * parent edges. 2·diameter shuffle rounds total, each
    * `localCheckpoint`ed so lineage stays flat. Source-sampled
    * (Brandes–Pich, deterministic hash) and rescaled 1/fraction;
    * fraction=1.0 reproduces the exact tier bit-for-bit on integer-σ
    * graphs (GraphSpec pins this). */
  def betweennessDistributed(spark: SparkSession, edgeDf: DataFrame,
      fraction: Double = 1.0, maxLevels: Int = 256): DataFrame = {
    // localCheckpoint (eager), not cache: materialized once, lineage cut,
    // and the blocks are released by the ContextCleaner when the returned
    // relation is garbage-collected — no static pin to leak across calls
    val canon = edgeDf
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    val sym = canon.select(col("u").as("a"), col("v").as("b"))
      .unionAll(canon.select(col("v").as("a"), col("u").as("b"))).cache()
    sym.count() // materialize once; reused 2·diameter times
    val sources = sym.select(col("a").as("s")).distinct()
      .where(portableSourceKey(col("s")) < lit((fraction * 1000000).toLong))

    // ---- forward: levels(d) = (src, v, sigma) at BFS distance d
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    levels += sources
      .select(col("s").as("src"), col("s").as("v"), lit(1.0).as("sigma"))
      .localCheckpoint()
    var visited = levels(0).select("src", "v")
    var d = 0
    while (d < maxLevels && !levels(d).isEmpty) {
      val next = levels(d).alias("f")
        .join(sym.alias("e"), col("f.v") === col("e.a"))
        .groupBy(col("f.src").as("src"), col("e.b").as("v"))
        .agg(sum("f.sigma").as("sigma"))
        .join(visited, Seq("src", "v"), "left_anti")
        .localCheckpoint()
      visited = visited.unionAll(next.select("src", "v")).localCheckpoint()
      levels += next
      d += 1
    }
    // the loop may exit on the level budget with a NON-empty frontier —
    // maxDist below assumes the last level is empty, so a truncated BFS
    // must fail loudly instead of silently dropping the longest paths
    require(levels.last.isEmpty,
      s"BFS not converged within $maxLevels levels (graph diameter exceeds " +
        s"the budget) — raise maxLevels")
    val maxDist = levels.length - 1 // last level is empty

    // ---- backward: per level, edge credit σ_p/σ_w·(1+δ_w); δ flows to parents
    var delta: DataFrame = null // (src, v, delta) at the current level
    val credits = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var lvl = maxDist - 1
    while (lvl >= 1) {
      val wl0 = levels(lvl).alias("w")
      val wl = (if (delta == null) wl0.withColumn("delta", lit(0.0))
                else wl0.join(delta.withColumnRenamed("delta", "d2"),
                    Seq("src", "v"), "left")
                  .withColumn("delta", coalesce(col("d2"), lit(0.0))).drop("d2"))
        .select(col("src"), col("v").as("w"), col("sigma"), col("delta"))
      val pl = levels(lvl - 1)
        .select(col("src").as("psrc"), col("v").as("p"), col("sigma").as("psigma"))
      val edgeCred = wl.join(sym.alias("e2"), col("w") === col("e2.a"))
        .join(pl, col("psrc") === col("src") && col("p") === col("e2.b"))
        .select(col("src"), col("p"), col("w"),
          (col("psigma") / col("sigma") * (lit(1.0) + col("delta"))).as("c"))
        .localCheckpoint()
      credits += edgeCred.select(least(col("p"), col("w")).as("u"),
        greatest(col("p"), col("w")).as("v"), col("c"))
      delta = edgeCred.groupBy(col("src"), col("p").as("v")).agg(sum("c").as("delta"))
      lvl -= 1
    }

    val summed =
      if (credits.isEmpty) canon.limit(0).withColumn("c", lit(0.0))
      else credits.reduce(_ unionAll _)
        .groupBy("u", "v").agg(sum("c").as("c"))
    // both passes are done (every level/credit is localCheckpoint'ed) —
    // the returned relation reads only canon + credits, so release sym now
    // rather than pinning 2|E| rows until SharedViews.clearAll
    sym.unpersist()
    // zero-credit edges surface too, so the output edge set matches the
    // exact tier's (and the ranking is total over the graph)
    canon.join(summed, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (coalesce(col("c"), lit(0.0)) / 2.0 / fraction).as("btw"))
      .orderBy(col("btw").desc, col("u"), col("v"))
  }

  /** Query face for the distributed tier (qb9): exact (fraction = 1.0)
    * join-based Brandes over the tighter minShared co-purchase subgraph,
    * 6 dp values like [[betweennessQuery]]. This face exists so the
    * 100 TB tier — the one [[betweennessAuto]] routes to when the edge
    * list outgrows the driver — is itself oracle-checked end-to-end, not
    * just spec-equal to the collect tier on hand graphs. Ordered by
    * q33's [[btwRank]]: the raw sums of equal true values differ in the
    * last bits with the partition layout, so a raw-btw order would put
    * such ties in an order that moves with the physical configuration. */
  def betweennessDistributedQuery(spark: SparkSession, dir: String,
      minShared: Int = 5): DataFrame =
    betweennessDistributed(spark,
        coPurchaseEdges(spark, dir, minShared).select("u", "v"), fraction = 1.0)
      .orderBy(btwRank, col("u"), col("v"))
      .select(col("u"), col("v"), round(col("btw"), 6).as("btw"))

  /** Source-sampling key in [0, 1e6): pmod of the PORTABLE md5-quadword
    * hash of the vertex id's decimal string ([[Dedup.portableHash64]]).
    * Portability is the point — DuckDB recomputes the identical key via
    * `md5_number_lower(CAST(id AS VARCHAR))` read as two's-complement,
    * which is what lets the SAMPLED tier (q36) carry a full SQL-Brandes
    * equality oracle restricted to the same source set, not just a spec.
    * Both engines reduce with sign-of-dividend `%`, so the double-mod
    * pmod form matches exactly. */
  private def portableSourceKey(c: Column): Column =
    pmod(Dedup.portableHash64(c.cast("string")), lit(1000000L))

  /** q36's oracle-able face: 6-dp values, 1e-9-quantized rank order (the
    * q33 discipline) over [[betweennessSampled]]'s estimates. */
  def betweennessSampledQuery(spark: SparkSession, dir: String,
      fraction: Double): DataFrame =
    betweennessSampled(spark, dir, fraction)
      .orderBy(expr("rint(btw_est * 1e9)").desc, col("u"), col("v"))
      .select(col("u"), col("v"), round(col("btw_est"), 6).as("btw_est"))

  /** Approximate betweenness by source sampling (Brandes–Pich): run the
    * BFS from a deterministic `fraction` of sources and rescale credits by
    * 1/fraction. THE scale path once exact O(V·E) is unaffordable —
    * unbiased per edge, variance shrinks with the sample. Sources are
    * chosen by hash so the estimate is reproducible. Guarded like
    * [[betweennessAuto]]: above `driverEdgeLimit` the edge list is never
    * collected — the distributed tier runs at the same fraction. */
  def betweennessSampled(spark: SparkSession, dir: String,
      fraction: Double, minShared: Int = 3,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val edgeDf = coPurchaseEdges(spark, dir, minShared).select("u", "v")
    byTier(edgeDf, driverEdgeLimit) { edges =>
      import spark.implicits._
      val g = buildCsr(edges.pairs)
      // Source selection is keyed by vertex ID through the SAME expression
      // as the distributed tier ([[portableSourceKey]] < f·1e6) — a fraction
      // must pick the identical source set on both sides of the
      // driverEdgeLimit boundary, or the estimate jumps discontinuously
      // across tiers. Evaluated as a one-job Spark expression so the two
      // tiers share the hash implementation by construction.
      val keepByIdx: Array[Boolean] = {
        val keepIds = spark.createDataset(g.verts.toSeq).toDF("s")
          .where(portableSourceKey(col("s")) < lit((fraction * 1000000).toLong))
          .as[Long].collect().toSet
        g.verts.map(keepIds.contains)
      }
      val bcKeep = spark.sparkContext.broadcast(keepByIdx)
      val credits = denseCredits(spark, g, s => bcKeep.value(s))
      spark.createDataset(
          g.edges.indices.map(e =>
            (g.edges(e)._1, g.edges(e)._2, credits(e) / 2.0 / fraction)))
        .toDF("u", "v", "btw_est")
        .orderBy(col("btw_est").desc, col("u"), col("v"))
    } { (e, _) =>
      betweennessDistributed(spark, e, fraction).withColumnRenamed("btw", "btw_est")
    }
  }

  /** Distributed Brandes over an explicit undirected edge list. Tiered:
    * below `sparseEdgeThreshold` each task accumulates into one dense
    * `double[E]` and the 32 arrays are summed in a fixed order
    * ([[denseCredits]]; fastest; E ≲ 2·10⁷ ⇒ ≤ 160 MB per task); above it,
    * the dense array would blow the task heap, so
    * [[betweennessOfEdgesSparse]] shuffle-sums (edgeId, credit) instead.
    * Rows are sorted by raw btw desc, (u, v) ([[betweenness]] re-sorts
    * them by its rank). */
  def betweennessOfEdges(spark: SparkSession, edges: Array[(Long, Long)],
      sparseEdgeThreshold: Int = 20000000): DataFrame = {
    import spark.implicits._
    if (edges.length > sparseEdgeThreshold)
      return betweennessOfEdgesSparse(spark, edges)
    spark.createDataset(btwRows(spark, edges))
      .toDF("u", "v", "btw")
      .orderBy(col("btw").desc, col("u"), col("v"))
  }

  /** The exact (u, v, btw) of every canonical edge of `edges`
    * ([[denseCredits]] over all sources, halved), in [[buildCsr]]'s edge
    * order. */
  private def btwRows(spark: SparkSession, edges: Array[(Long, Long)]): Array[(Long, Long, Double)] = {
    val g = buildCsr(edges)
    val credits = denseCredits(spark, g, _ => true)
    Array.tabulate(g.edges.length)(e => (g.edges(e)._1, g.edges(e)._2, credits(e) / 2.0))
  }

  /** Σ of the Brandes credit of the sources `keep` selects, per edge id of
    * `g`: the sources are spread over 32 partitions, each task folds its
    * sources into one dense `double[E]`, and the 32 arrays are summed in
    * partition order, so the doubles do not depend on which task finishes
    * first. The arrays are persisted to disk (job 1 runs the BFS tasks),
    * then one task reads them back in order and sums them (job 2): the
    * driver receives one array. */
  private def denseCredits(spark: SparkSession, g: Csr,
      keep: Int => Boolean): Array[Double] = {
    val bc = spark.sparkContext.broadcast(g)
    val partials = spark.sparkContext.parallelize(0 until g.verts.length, 32)
      .mapPartitions { sources =>
        val csr = bc.value
        val nn = csr.verts.length
        val acc = new Array[Double](csr.edges.length)
        val dist = Array.fill(nn)(-1)
        val sigma = new Array[Double](nn)
        val delta = new Array[Double](nn)
        val order = new Array[Int](nn)
        val sink = new DenseCredits(acc)
        sources.filter(keep)
          .foreach(s => brandesOneSource(csr, s, sink, dist, sigma, delta, order))
        Iterator.single(acc)
      }
      .persist(StorageLevel.DISK_ONLY)
    try {
      partials.count()
      val m = g.edges.length // not `g`: the closure would ship the CSR
      partials.coalesce(1, shuffle = false, Some(InPartitionOrder))
        .mapPartitions { accs =>
          val sum = new Array[Double](m)
          accs.foreach { a =>
            var i = 0
            while (i < a.length) { sum(i) += a(i); i += 1 }
          }
          Iterator.single(sum)
        }
        .collect().head
    } finally partials.unpersist()
  }

  /** One partition of all of a parent's partitions, in index order. */
  private object InPartitionOrder extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val all = new PartitionGroup()
      all.partitions ++= parent.partitions
      Array(all)
    }
  }

  /** Sparse betweenness tier: each task accumulates only the edges its
    * sources' BFS trees actually touch (a hash map, size ≤ edges-reached,
    * not `double[E]`), emits (edgeId, credit) entries, and a reduceByKey
    * shuffle-sums them — per-task memory is bounded by the partition's
    * reach instead of the global edge count. The per-vertex scratch stays
    * dense (that is Brandes' floor — every BFS needs O(V) state); when V
    * itself breaks the budget the answer is [[betweennessSampled]].
    * Credits join back to (u, v) through the broadcast CSR, and edges no
    * shortest path touched surface with credit 0 so the output edge set is
    * identical to the dense tier's. */
  def betweennessOfEdgesSparse(spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val g = buildCsr(edges)
    val bc = spark.sparkContext.broadcast(g)
    val n = g.verts.length
    val summed = spark.sparkContext.parallelize(0 until n, 32)
      .mapPartitions { sources =>
        val csr = bc.value
        val nn = csr.verts.length
        val dist = Array.fill(nn)(-1)
        val sigma = new Array[Double](nn)
        val delta = new Array[Double](nn)
        val order = new Array[Int](nn)
        val sink = new SparseCredits
        sources.foreach(s => brandesOneSource(csr, s, sink, dist, sigma, delta, order))
        sink.acc.iterator.map { case (eid, c) => (eid.toInt, c) }
      }
      .reduceByKey(_ + _)
    val rows = summed.map { case (eid, c) =>
      val e = bc.value.edges(eid)
      (e._1, e._2, c / 2.0)
    }
    val present = spark.createDataset(rows).toDF("u", "v", "btw")
    val zeros = spark.createDataset(g.edges.toIndexedSeq).toDF("u", "v")
      .join(present.select("u", "v"), Seq("u", "v"), "left_anti")
      .withColumn("btw", lit(0.0))
    present.unionByName(zeros)
      .orderBy(col("btw").desc, col("u"), col("v"))
  }

  // ------------------------------------------------- modularity + GN search

  /** Driver-side union–find (path compression): components of the residual
    * graph inside the GN loop. The loop is inherently driver-coordinated
    * (the reference collects everything too, `Community.scala:67-148`); at
    * fixture scale the edge list is tiny. 100 TB path: re-run the
    * distributed `connectedComponents` per step instead. */
  private[operators] def unionFind(vertices: Array[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    vertices.foreach(v => parent(v) = v)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    vertices.iterator.map(v => (v, find(v))).toMap
  }

  /** Reference modularity (`Community.scala:16-48`), ½-of-textbook quirk
    * preserved: EVERYTHING — A_ij, degrees, m — comes from the RESIDUAL
    * graph passed to `graphModularity` (the reference passes the
    * post-removal subgraph), and pairs are counted unordered once.
    * Closed form per community: Q = Σ_c [E_c − (D_c² − S_c)/(4m)] / (2m)
    * with D_c = Σ degree, S_c = Σ degree² — identical to the reference's
    * pairwise sum without enumerating V² pairs. NaN on an edgeless graph
    * (the reference would divide by zero; NaN stops the `>=` search the
    * same way). */
  private[operators] def modularityOf(comp: Map[Long, Long],
      residEdges: Iterable[(Long, Long)]): Double = {
    val deg = mutable.HashMap.empty[Long, Double]
    val ec = mutable.HashMap.empty[Long, Double]
    var m = 0L
    residEdges.foreach { case (u, v) =>
      m += 1
      deg.update(u, deg.getOrElse(u, 0.0) + 1.0)
      deg.update(v, deg.getOrElse(v, 0.0) + 1.0)
      if (comp(u) == comp(v)) ec.update(comp(u), ec.getOrElse(comp(u), 0.0) + 1.0)
    }
    if (m == 0L) return Double.NaN
    val m2 = 2.0 * m
    val dSum = mutable.HashMap.empty[Long, Double]
    val dSq = mutable.HashMap.empty[Long, Double]
    comp.foreach { case (v, c) =>
      val d = deg.getOrElse(v, 0.0)
      dSum.update(c, dSum.getOrElse(c, 0.0) + d)
      dSq.update(c, dSq.getOrElse(c, 0.0) + d * d)
    }
    val total = dSum.keys.iterator.map { c =>
      ec.getOrElse(c, 0.0) - (dSum(c) * dSum(c) - dSq(c)) / (2.0 * m2)
    }.sum
    total / m2
  }

  /** Girvan–Newman with the reference's two quirks preserved as spec
    * (`3-Graph Community Detection/README:9`, `Community.scala:56-148`):
    * betweenness is computed ONCE on the original graph and never
    * recomputed, and the modularity peak is located coarse-to-fine
    * (coarse step ≈ E/14 — the reference's 2500 on its ~35k-edge graph —
    * then zoom ÷5, stopping when the community-count jump ≤ 1).
    * Output: one row per community at the modularity peak:
    * (community = min member id, size, members csv sorted).
    * The removal order is raw betweenness descending, then (u, v) (a
    * total order: (u, v) is unique), sorted here explicitly: the
    * [[betweenness]] view is stored in q33's quantized rank order.
    */
  def communities(spark: SparkSession, dir: String, minShared: Int = 3,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    import spark.implicits._
    val rankedDf = betweenness(spark, dir, minShared)
      .orderBy(col("btw").desc, col("u"), col("v")).select("u", "v")
    // GN's search is driver-coordinated BY REFERENCE SEMANTICS (union-find
    // over the residual edge list per candidate k, `Community.scala:67-148`)
    // — above the limit that collect is a driver OOM, so fail fast and name
    // the distributed alternative instead of dying mid-collect. Exact GN on
    // a >5M-edge graph is not a thing any engine does; community detection
    // at that scale is [[lpaCommunities]] (O(iters) edge shuffles, zero
    // driver state).
    require(viewRows(betweenness(spark, dir, minShared)) <= driverEdgeLimit,
      s"Girvan-Newman is driver-coordinated (reference semantics); above " +
        s"$driverEdgeLimit edges use GraphOps.communitiesLpa (distributed LPA) instead")
    val ranked = rankedDf.as[(Long, Long)].collect()
    val prober = new GnProber(ranked)
    def qAfterRemoving(k: Int): Double = prober.modularityAt(k)
    // Coarse pass: step until modularity drops (Community.scala:67-109).
    val step = math.max(1, ranked.length / 14)
    var k = 0
    var best = qAfterRemoving(0)
    var bestK = 0
    var continue = true
    while (continue && k + step <= ranked.length) {
      val cand = qAfterRemoving(k + step)
      if (cand >= best) { best = cand; bestK = k + step; k += step }
      else continue = false
    }
    // Refine: zoom the search window ÷5 around the running peak until the
    // stride reaches 1 (the reference stops once the community-count jump
    // between strides is ≤ 1, Community.scala:111-148 — stride 1 is that
    // condition's fixed point, so the peak found is identical).
    var span = step
    while (span > 1) {
      val stride = math.max(1, span / 5)
      var kk = math.max(0, bestK - span)
      val hiK = math.min(ranked.length, bestK + span)
      while (kk <= hiK) {
        val cand = qAfterRemoving(kk)
        if (cand > best) { best = cand; bestK = kk }
        kk += stride
      }
      span = stride
    }
    val rows = prober.componentsAt(bestK).groupBy(_._2).map { case (c, members) =>
      val ms = members.keys.toArray.sorted
      (c, ms.length, ms.mkString(","))
    }.toSeq.sortBy(_._1)
    spark.createDataset(rows).toDF("community", "size", "members")
  }

  /** Indexed GN probe engine: one probe = union–find over the residual
    * edge suffix + closed-form reference modularity, all on primitive int
    * arrays (vertices dense-remapped once). The boxed-HashMap formulation
    * ([[unionFind]] + [[modularityOf]], kept as the spec reference) costs
    * ~0.3 s per probe at 150k edges / 100k vertices and the GN search runs
    * ~100 probes — this is the same arithmetic at array speed
    * (GraphSpec pins tier equality). Vertices are SORTED before indexing,
    * so union-by-min-index IS union-by-min-id and labels stay min-member. */
  private[operators] final class GnProber(ranked: Array[(Long, Long)]) {
    private val verts: Array[Long] =
      ranked.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct.sorted
    private val idx: Map[Long, Int] = verts.zipWithIndex.toMap
    private val n = verts.length
    private val eu = ranked.map(e => idx(e._1))
    private val ev = ranked.map(e => idx(e._2))
    private val parent = new Array[Int](n)
    private val deg = new Array[Int](n)
    private val dsum = new Array[Double](n)
    private val ssum = new Array[Double](n)
    private val ec = new Array[Double](n)

    private def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    /** Root (= min member index) per vertex after removing the top k. */
    private def unite(k: Int): Unit = {
      var i = 0
      while (i < n) { parent(i) = i; i += 1 }
      i = k
      while (i < ranked.length) {
        val ru = find(eu(i)); val rv = find(ev(i))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        i += 1
      }
    }

    /** Reference modularity of the k-removed residual (½-quirk closed form
      * — same formula as [[modularityOf]]); NaN on an edgeless residual. */
    def modularityAt(k: Int): Double = {
      val m = ranked.length - k
      if (m <= 0) return Double.NaN
      unite(k)
      java.util.Arrays.fill(deg, 0)
      java.util.Arrays.fill(dsum, 0.0)
      java.util.Arrays.fill(ssum, 0.0)
      java.util.Arrays.fill(ec, 0.0)
      var i = k
      while (i < ranked.length) {
        deg(eu(i)) += 1; deg(ev(i)) += 1
        val ru = find(eu(i))
        if (ru == find(ev(i))) ec(ru) += 1.0
        i += 1
      }
      val m2 = 2.0 * m
      i = 0
      while (i < n) {
        val r = find(i); val d = deg(i).toDouble
        dsum(r) += d; ssum(r) += d * d
        i += 1
      }
      var total = 0.0
      i = 0
      while (i < n) {
        if (find(i) == i) total += ec(i) - (dsum(i) * dsum(i) - ssum(i)) / (2.0 * m2)
        i += 1
      }
      total / m2
    }

    /** (vertex, component = min member id) map at k — output conversion
      * only; probes never materialize it. */
    def componentsAt(k: Int): Map[Long, Long] = {
      unite(k)
      verts.indices.map(i => (verts(i), verts(find(i)))).toMap
    }

    def nCommunitiesAt(k: Int): Int = {
      unite(k)
      var c = 0; var i = 0
      while (i < n) { if (find(i) == i) c += 1; i += 1 }
      c
    }
  }

  /** Girvan–Newman with the reference's EXACT search procedure
    * (`Community.scala:67-148`), for golden-parity against the committed
    * `communities.txt`: `maximumSearch` removes edges `step` at a time from
    * the once-computed betweenness ranking until modularity first DECREASES
    * (ties continue), returning the overshoot point; the outer loop accepts
    * when the community-count jump across the final step is ≤ 1 and outputs
    * the communities at `count - step` (the last point before the drop),
    * else restarts from there with step ÷ 5. */
  /** The reference's EXACT per-source credit rule
    * (`Betweenness.scala:60-116`), preserved verbatim to regenerate its
    * missing `betweenness.txt` golden: `route(v)` counts BFS-DAG in-edges
    * (the reference increments once per discovered predecessor — it never
    * sums parent path counts), and a popped vertex's weight
    * 1 + Σ child credits is split EQUALLY across its predecessors (not
    * σ-proportionally as in true Brandes). The two rules agree on trees
    * and wherever all predecessors carry equal path counts, and diverge
    * elsewhere — this twin exists for golden parity only; the engine's
    * production tiers ([[betweennessOfEdges]] and friends) compute true
    * Brandes credit. Deterministic: sources run in ascending vertex order
    * and credits accumulate in that order, so the emitted doubles are
    * byte-stable across runs (the reference's own reduceByKey order was
    * not — its file is the one we are filling in).
    * Output rows: (u, v, credit/2) sorted by (u, v), matching the
    * reference's `sortByKey` + halve (`Betweenness.scala:138-147`). */
  def referenceBetweennessGn(edges: Array[(Long, Long)]): Seq[(Long, Long, Double)] = {
    val g = buildCsr(edges)
    val n = g.verts.length
    val acc = new Array[Double](g.edges.length)
    val dist = Array.fill(n)(-1)
    val route = new Array[Int](n)
    val weight = new Array[Double](n)
    val order = new Array[Int](n)
    var s = 0
    while (s < n) {
      var head = 0; var tail = 0
      dist(s) = 0
      order(tail) = s; tail += 1
      while (head < tail) {
        val v = order(head); head += 1
        val dv = dist(v)
        var j = g.offsets(v)
        while (j < g.offsets(v + 1)) {
          val w = g.nbr(j)
          if (dist(w) < 0) { dist(w) = dv + 1; order(tail) = w; tail += 1 }
          if (dist(w) == dv + 1) route(w) += 1
          j += 1
        }
      }
      var k = tail - 1
      while (k >= 0) {
        val w = order(k)
        weight(w) += 1.0
        val dw = dist(w)
        var j = g.offsets(w)
        while (j < g.offsets(w + 1)) {
          val v = g.nbr(j)
          if (dist(v) == dw - 1) {
            val c = weight(w) / route(w)
            acc(g.eid(j)) += c
            weight(v) += c
          }
          j += 1
        }
        k -= 1
      }
      // reset only what this BFS touched
      k = 0
      while (k < tail) {
        val v = order(k)
        dist(v) = -1; route(v) = 0; weight(v) = 0.0
        k += 1
      }
      s += 1
    }
    g.edges.indices.map(e => (g.edges(e)._1, g.edges(e)._2, acc(e) / 2.0))
      .sortBy(t => (t._1, t._2))
  }

  def referenceCommunities(spark: SparkSession, edges: Array[(Long, Long)],
      step0: Int = 2500, zoom: Int = 5): Seq[Array[Long]] = {
    import spark.implicits._
    val ranked = betweennessOfEdges(spark, edges)
      .select("u", "v").as[(Long, Long)].collect()
    val vertices = ranked.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    // one union-find + modularity per distinct k — the search revisits
    // points (modAt, then nCommsAt at k and k-step, then compAt again)
    val memo = mutable.HashMap.empty[Int, (Map[Long, Long], Double)]
    def at(k: Int): (Map[Long, Long], Double) = memo.getOrElseUpdate(k, {
      val resid = ranked.drop(math.min(k, ranked.length))
      val comp = unionFind(vertices, resid)
      (comp, modularityOf(comp, resid))
    })
    def compAt(k: Int): Map[Long, Long] = at(k)._1
    def modAt(k: Int): Double = at(k)._2
    def nCommsAt(k: Int): Int = compAt(k).values.toSet.size

    def maximumSearch(start: Int, step: Int): Int = {
      var count = start
      var mod = modAt(count)
      var out = -1
      while (out < 0) {
        count += step
        val nm = modAt(count)
        if (nm >= mod) mod = nm else out = count
        if (count >= ranked.length && out < 0) out = count // exhausted
      }
      out
    }

    var step = step0
    var count = maximumSearch(0, step)
    var result: Seq[Array[Long]] = null
    while (result == null) {
      val lower = nCommsAt(count - step)
      val higher = nCommsAt(count)
      if (higher - lower <= 1 || step <= 1) {
        result = compAt(count - step).groupBy(_._2).values
          .map(_.keys.toArray.sorted).toSeq.sortBy(_.head)
      } else {
        val start = count - step
        step = math.max(1, step / zoom)
        count = maximumSearch(start, step)
      }
    }
    result
  }

  /** PageRank over the undirected co-purchase graph (each edge walked both
    * directions), fixed `iters` power iterations with damping `d`:
    * pr'(v) = (1-d)/N + d · Σ_{u∈N(v)} pr(u)/deg(u). Fully declarative
    * DataFrame iteration — per round ONE equi-join of the weighted edge
    * list against the current rank vector and one partial+final sum
    * aggregate, i.e. the classic Pregel superstep expressed relationally.
    * Every vertex of this graph has degree ≥ 1 (edges define the vertex
    * set), so there is no dangling-mass term. Scale design: the
    * edge-with-weight relation (src, dst, 1/deg(src)) is computed once and
    * cached; each iteration's rank vector is `localCheckpoint`ed, which
    * both materializes it AND truncates the logical plan — a cache alone
    * keeps results but Catalyst still re-analyzes the whole nested lineage
    * every superstep, so planning cost compounds per iteration (measured:
    * 800 s for 10 supersteps cached vs seconds checkpointed). That is the
    * tier above `driverEdgeLimit` (5M edges); at or below it the same
    * iteration runs on the driver ([[pageRankOf]]), as it does for PPR,
    * LPA and HITS. Oracle:
    * the same 10 iterations unrolled as DuckDB CTEs — a full cross-engine
    * hash match of an iterative algorithm, not a spot check. */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 10,
      damping: Double = 0.85, minShared: Int = 3): DataFrame =
    pageRankOf(coPurchaseEdges(spark, dir, minShared).select("u", "v"),
      iters, damping)

  /** Scale-adaptive partition count for an iterative kernel's STATIC side.
    * Two regimes, both derived from the data (never a local constant — a
    * bare `repartition(col)` pins spark.sql.shuffle.partitions slices
    * exempt from AQE coalescing, which at fixture scale is pure task-
    * scheduling overhead; measured: a keyed 32-partition cache cost q88
    * +1.3 s at sf0.1):
    *  - size regime: ~2M directed rows (≈32–48 MB) per partition;
    *  - parallelism regime (small graphs): up to defaultParallelism
    *    partitions but never fewer than ~50k rows each, so a superstep
    *    neither serializes on one core nor schedules 32 near-empty tasks.
    * Cap 20k keeps the count sane past the third decade. */
  private def staticParts(directedRows: Long, spark: SparkSession): Int = {
    val bySize = directedRows / 2000000L
    val byCpu = math.min(spark.sparkContext.defaultParallelism.toLong,
      directedRows / 50000L)
    math.max(1L, math.min(20000L, math.max(bySize, byCpu))).toInt
  }

  /** The STATIC side of an iterative kernel — the relation every
    * superstep joins on `key` — shuffled once, ever (the iterate-vs-static
    * discipline, the q9n lesson of r13): cached pre-partitioned on the
    * join key, so each round's join reads the in-memory layout instead of
    * re-exchanging the edge list per superstep (plan evidence:
    * plans/r13/q88_pagerank superstep_{before,after}.txt), over
    * [[staticParts]]`(rows)` partitions. Sorted within partitions too:
    * once the iterated vector outgrows broadcast the per-superstep join
    * is a SortMergeJoin, and a cached key-sorted layout satisfies its
    * ordering requirement — the big-side SORT, like the exchange, is paid
    * once at build instead of every round. The caller unpersists it. */
  private def keyedStatic(df: DataFrame, rows: Long, key: String): DataFrame =
    df.repartition(staticParts(rows, df.sparkSession), col(key))
      .sortWithinPartitions(key).cache()

  /** Both directions of an undirected (u, v) edge list. */
  private def bothWays(e: DataFrame): DataFrame =
    e.unionAll(e.select(col("v").as("u"), col("u").as("v")))

  /** The random-walk static side of [[pageRankOf]] and [[pprOf]]: every
    * undirected edge of `e0` walked both ways as (src, dst, w = 1/deg(src)),
    * keyed on src ([[keyedStatic]]); `eCnt` = rows of `e0`. */
  private def rankWeights(e0: DataFrame, eCnt: Long): DataFrame = {
    val e = bothWays(e0).select(col("u").as("src"), col("v").as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    keyedStatic(e.join(deg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("d")).as("w")), 2 * eCnt, "src")
  }

  /** The fixed-count superstep loop of the iterative kernels:
    * `step(i, vector)` for i = 1..iters. The vector is `localCheckpoint`ed
    * (eager: materializes AND truncates the plan) every SECOND superstep
    * and on the last one: plan depth stays ≤ 2 supersteps — still O(1)
    * analysis per round; a cache alone would let Catalyst re-analyze the
    * whole nested lineage every superstep — while the job barriers halve,
    * since each checkpoint job executes two supersteps. Blocks of
    * superseded checkpoints are GC-reclaimed. The returned vector is
    * materialized, so the caller may release its static side. */
  private def supersteps(init: DataFrame, iters: Int)(
      step: (Int, DataFrame) => DataFrame): DataFrame =
    (1 to iters).foldLeft(init) { (vec, i) =>
      val next = step(i, vec)
      if (i % 2 == 0 || i == iters) next.localCheckpoint() else next
    }

  /** [[pageRank]] over an explicit undirected (u, v) edge list — the
    * kernel surface ([[communitiesLpaOf]]/[[ssspOf]] discipline): any
    * edge relation, not just the co-purchase graph, and the probe surface
    * the scale axis measures (edge COUNT is the iterative family's cost
    * driver, not base-table rows). Tiered ([[byTier]]): a superstep costs
    * a few jobs and stages however small the graph, so at most
    * `driverEdgeLimit` edges run the whole iteration on the driver
    * ([[driverPageRank]]); above it, the superstep join loop. */
  private[graft] def pageRankOf(e0: DataFrame, iters: Int, damping: Double,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    byTier(e0, driverEdgeLimit) { edges =>
      rankRows(e0.sparkSession, driverPageRank(edges, iters, damping))
    } { (e, m) =>
      val w = rankWeights(e, m)
      // the vertex set, once: n is its count and pr0 its projection. The
      // count reads the checkpoint's partitions in one job; a Dataset
      // count would plan an aggregate and exchange, two jobs under AQE
      val verts = w.select(col("src").as("v")).distinct().localCheckpoint()
      val n = verts.rdd.count()
      val pr0 = verts.select(col("v"), lit(1.0 / n).as("r"))
      val pr = supersteps(pr0, iters)((_, pr) => pageRankStep(w, pr, n, damping))
      w.unpersist() // pr is materialized past the last superstep; w is done
      pr.select(col("v"), round(col("r"), 8).as("rank")).orderBy("v")
    }
  }

  /** [[pageRankOf]]'s driver tier: (vertex ids ascending, their ranks
    * unrounded), restart (1-d)/n everywhere ([[driverWalk]]). */
  private[operators] def driverPageRank(edges: EdgeCols, iters: Int,
      damping: Double): (Array[Long], Array[Double]) = {
    val g = undirectedArcs(edges)
    val n = g.dstIds.length
    (g.dstIds, driverWalk(g, Array.fill(n)(1.0 / n), iters, damping)(_ => (1.0 - damping) / n))
  }

  private[operators] def driverPageRank(edges: Array[(Long, Long)], iters: Int,
      damping: Double): (Array[Long], Array[Double]) =
    driverPageRank(EdgeCols.of(edges), iters, damping)

  /** The driver tiers' random walk, [[rankWeights]]' superstep on
    * [[InArcs]]: `iters` rounds of restart(v) + d·Σ r(u)·(1/deg(u)), the
    * distributed tiers' expression, each sum in ascending source-id order. */
  private def driverWalk(g: InArcs, pr0: Array[Double], iters: Int,
      damping: Double)(restart: Int => Double): Array[Double] = {
    val w = g.outDegrees.map(1.0 / _)
    (1 to iters).foldLeft(pr0) { (pr, _) =>
      val x = Array.tabulate(pr.length)(u => pr(u) * w(u))
      Array.tabulate(pr.length)(v => restart(v) + damping * g.inSum(v, x))
    }
  }

  /** A driver tier's (vertex ids ascending, ranks) as the distributed
    * tiers' rows: (v, rank), rounded by Spark's `round` to 8 dp, ordered
    * by v. The rows are stored in that order, with no `orderBy`: the
    * projection over the local relation is folded into it by the
    * optimizer (`ConvertToLocalRelation`, evaluating Spark's own `round`),
    * so collecting the result runs no job. A reader that needs the order
    * after a further transformation sorts explicitly. The other driver
    * tiers build their rows the same way. */
  private def rankRows(spark: SparkSession,
      ranks: (Array[Long], Array[Double])): DataFrame = {
    import spark.implicits._
    spark.createDataset(ranks._1.toSeq.zip(ranks._2)).toDF("v", "r")
      .select(col("v"), round(col("r"), 8).as("rank"))
  }

  /** One PageRank superstep — the loop body of [[pageRank]], factored out
    * so [[superstepPlans]] can expose the EXACT physical plan one
    * iteration compiles to (the per-superstep audit surface; a copy would
    * drift). */
  private def pageRankStep(w: DataFrame, pr: DataFrame, n: Long,
      damping: Double): DataFrame =
    w.join(pr, w("src") === pr("v"))
      .groupBy(col("dst").as("nv"))
      .agg(sum(col("r") * col("w")).as("mass"))
      .select(col("nv").as("v"),
        (lit((1.0 - damping) / n) + lit(damping) * col("mass")).as("r"))

  /** qa7: personalized PageRank — [[pageRank]]'s restart mass
    * concentrated on ONE seed (the minimum vertex id — deterministic at
    * any scale), which turns the global centrality into a
    * PROXIMITY-to-the-seed score: the similar-customers primitive
    * recommendation and expansion passes consume. Every superstep keeps
    * the FULL vertex relation (vertices left-join the propagated mass,
    * absent mass coalesces to 0) because unreached vertices still carry
    * rank 0 and the seed's restart must exist even before mass returns
    * to it — the subtle difference from the global walk, and the reason
    * the oracle unrolls the same left-join shape round for round. Same
    * every-2nd-superstep checkpoint cadence as q88, and the same tiers:
    * at most `driverEdgeLimit` edges iterate on the driver ([[pprOf]]). */
  def personalizedPageRank(spark: SparkSession, dir: String, iters: Int = 10,
      damping: Double = 0.85, minShared: Int = 3): DataFrame =
    pprOf(coPurchaseEdges(spark, dir, minShared).select("u", "v"),
      iters, damping)

  /** [[personalizedPageRank]] over an explicit undirected (u, v) edge
    * list (seed = minimum vertex id present). Self-loops are dropped: a
    * loop on the seed would otherwise give superstep 1 a second seed row
    * next to the injected restart row. Tiered like [[pageRankOf]]: at
    * most `driverEdgeLimit` edges (loops included) run [[driverPpr]]. */
  private[graft] def pprOf(e0: DataFrame, iters: Int, damping: Double,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    byTier(e0, driverEdgeLimit) { edges =>
      rankRows(e0.sparkSession, driverPpr(edges, iters, damping))
    }(distributedPpr(_, _, iters, damping))
  }

  /** [[pprOf]]'s driver tier: (vertex ids ascending, their ranks
    * unrounded) over the loop-free edges, seed = the smallest id. Dense
    * where the distributed tier is sparse: an unranked vertex holds 0.0,
    * and adding its 0.0 term leaves a sum unchanged, so both evaluate
    * (1-d)·[v = seed] + d·Σ r(u)·(1/deg(u)) to the same value
    * ([[driverWalk]]). */
  private[operators] def driverPpr(edges: EdgeCols, iters: Int,
      damping: Double): (Array[Long], Array[Double]) = {
    val g = undirectedArcs(edges.withoutLoops)
    def seed(v: Int) = if (v == 0) 1.0 else 0.0
    val pr0 = Array.tabulate(g.dstIds.length)(seed)
    (g.dstIds, driverWalk(g, pr0, iters, damping)(v => (1.0 - damping) * seed(v)))
  }

  private[operators] def driverPpr(edges: Array[(Long, Long)], iters: Int,
      damping: Double): (Array[Long], Array[Double]) =
    driverPpr(EdgeCols.of(edges), iters, damping)

  /** [[pprOf]]'s distributed tier over the cached (u, v) relation `e0` of
    * `m` edges. */
  private def distributedPpr(e0: DataFrame, m: Long, iters: Int,
      damping: Double): DataFrame = {
    val w = pprWeights(e0, m)
    val seed = w.agg(min("src")).head.getLong(0)
    // SPARSE rank vector (r14): pr carries only vertices with NONZERO
    // rank; zeros are restored by ONE final left-outer against the vertex
    // set instead of the per-superstep verts-left-outer that re-streamed
    // the full vertex relation every round (one join fewer per superstep
    // at every scale). Each emitted vertex evaluates the SAME expression
    // dense did (lit(1-d)*restart + lit(d)*mass), and the rows sparse
    // drops contributed only exact-0.0 terms. That alone does not make the
    // two forms bit-equal: dropping rows also changes how the
    // non-associative double sum(r*w) is split into partial aggregates and
    // in which order they merge. Bit-equality is therefore not guaranteed
    // by construction; it rests on the qa7 oracle matching, per fixture.
    val verts = w.select(col("src").as("v")).distinct().localCheckpoint()
    val pr0 = e0.sparkSession.range(1)
      .select(lit(seed).as("v"), lit(1.0).as("r")).localCheckpoint()
    val pr = supersteps(pr0, iters) { (i, pr) =>
      val stepped = pprStep(w, pr, seed, damping)
      // only superstep 1 can miss the seed (self-loops are filtered out
      // of `w`, so mass(seed) needs a ranked in-neighbor, which every i ≥ 2
      // guarantees: the seed's neighbors hold mass > 0 from round 1 on);
      // its restart row is injected with the step's own arithmetic shape
      if (i == 1) stepped.unionAll(e0.sparkSession.range(1).select(
        lit(seed).as("v"),
        (lit(1.0 - damping) * lit(1.0) + lit(damping) * lit(0.0)).as("r")))
      else stepped
    }
    w.unpersist()
    verts.join(pr.withColumnRenamed("r", "pr_r"), Seq("v"), "left_outer")
      .select(col("v"),
        round(coalesce(col("pr_r"), lit(0.0)), 8).as("rank"))
      .orderBy("v")
  }

  /** [[pprOf]]'s static side: [[rankWeights]] over the loop-free edges
    * (the filter sits in the cached relation, so it runs once). */
  private def pprWeights(e0: DataFrame, eCnt: Long): DataFrame =
    rankWeights(e0.where(col("u") =!= col("v")), eCnt)

  /** One SPARSE personalized-PageRank superstep — mass flows only from
    * ranked vertices and only vertices RECEIVING mass emit a row (the
    * seed's round-1 restart row is the caller's job; from round 2 on the
    * seed always receives mass from its own round-1-ranked neighbors).
    * [[personalizedPageRank]]'s loop body, factored for
    * [[superstepPlans]]. */
  private def pprStep(w: DataFrame, pr: DataFrame, seed: Long,
      damping: Double): DataFrame =
    w.join(pr, w("src") === pr("v"))
      .groupBy(col("dst").as("nv")).agg(sum(col("r") * col("w")).as("m"))
      .select(col("nv").as("v"),
        (lit(1.0 - damping) * when(col("nv") === seed, 1.0).otherwise(0.0) +
          lit(damping) * col("m")).as("r"))

  /** Community detection via synchronous label propagation (LPA) — the
    * DISTRIBUTED community tier next to [[communities]]' exact
    * driver-coordinated Girvan–Newman: GN is the reference's semantics for
    * curated graphs; LPA is what actually runs on a graph too large to
    * betweenness-sweep — O(iters) shuffles of the edge list and nothing
    * driver-side at all above `driverEdgeLimit`. Deterministic throughout:
    * labels start as vertex ids, each round every vertex adopts the
    * SMALLEST label among its neighbors' most-frequent labels (classic
    * tie-break; no randomized update order), updates are synchronous,
    * and the rank vector is
    * `localCheckpoint`ed per round exactly as [[pageRank]] — plan depth
    * stays one superstep. Labels can only move within a connected
    * component, so the result PARTITION refines connected components
    * (GraphSpec invariant); a two-clique bridge graph resolves to the two
    * cliques. Fixed iteration cap (LPA can oscillate on bipartite
    * structure; the cap is the standard remedy and keeps reruns
    * bit-stable). At or below the limit the same rounds run on the
    * driver ([[communitiesLpaOf]]). */
  def communitiesLpa(spark: SparkSession, dir: String, iters: Int = 10,
      minShared: Int = 3): DataFrame = {
    val e0 = coPurchaseEdges(spark, dir, minShared).select("u", "v")
    communitiesLpaOf(e0, iters)
  }

  /** [[communitiesLpa]] over an explicit undirected edge list. Tiered like
    * [[pageRankOf]]: at most `driverEdgeLimit` edges run [[driverLpa]]. */
  private[graft] def communitiesLpaOf(e0: DataFrame, iters: Int,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    byTier(e0, driverEdgeLimit) { edges =>
      val (ids, labels) = driverLpa(edges, iters) // ids ascending (rankRows)
      spark.createDataset(ids.toSeq.zip(labels)).toDF("vertex", "community")
    } { (e, m) =>
      // lpaStep joins nbrs(v) = labels(vertex) every round (see keyedStatic)
      val nbrs = keyedStatic(bothWays(e), 2 * m, "v")
      val labels0 = nbrs.select(col("u").as("vertex")).distinct()
        .withColumn("label", col("vertex"))
        .localCheckpoint()
      val labels = supersteps(labels0, iters)((_, l) => lpaStep(nbrs, l))
      nbrs.unpersist()
      labels.select(col("vertex"), col("label").as("community"))
        .orderBy("vertex")
    }
  }

  /** [[communitiesLpaOf]]'s driver tier: (vertex ids ascending, their
    * labels). Each round a vertex takes its neighbors' most frequent label,
    * ties to the smallest — [[lpaStep]]'s rule; an arc counts once per
    * copy, so a self-loop votes twice for the vertex's own label. */
  private[operators] def driverLpa(edges: EdgeCols,
      iters: Int): (Array[Long], Array[Long]) = {
    val g = undirectedArcs(edges)
    val n = g.dstIds.length
    val votes = new Array[Long](g.src.length)
    val labels = (1 to iters).foldLeft(g.dstIds) { (label, _) =>
      Array.tabulate(n) { v =>
        val (from, until) = (g.offsets(v), g.offsets(v + 1))
        var k = from
        while (k < until) { votes(k) = label(g.src(k)); k += 1 }
        java.util.Arrays.sort(votes, from, until)
        // the first of the longest runs in ascending label order
        var best = votes(from); var bestRun = 0
        k = from
        while (k < until) {
          var end = k + 1
          while (end < until && votes(end) == votes(k)) end += 1
          if (end - k > bestRun) { best = votes(k); bestRun = end - k }
          k = end
        }
        best
      }
    }
    (g.dstIds, labels)
  }

  private[operators] def driverLpa(edges: Array[(Long, Long)],
      iters: Int): (Array[Long], Array[Long]) =
    driverLpa(EdgeCols.of(edges), iters)

  /** One synchronous-LPA superstep — [[communitiesLpaOf]]'s loop body,
    * factored for [[superstepPlans]]. */
  private def lpaStep(nbrs: DataFrame, labels: DataFrame): DataFrame =
    nbrs.join(labels, nbrs("v") === labels("vertex"))
      .groupBy(col("u"), col("label")).agg(count(lit(1)).as("cnt"))
      // most-frequent neighbor label, ties to the smallest label:
      // min over the (-cnt, label) ordering
      .groupBy(col("u")).agg(
        min_by(col("label"), struct((-col("cnt")).as("nc"), col("label")))
          .as("label"))
      .select(col("u").as("vertex"), col("label"))

  /** Per-vertex triangle counts via the "forward" (degree-ordered)
    * algorithm: edges are oriented from the lower-(degree, id) endpoint to
    * the higher, wedges are enumerated per source over its ORIENTED
    * out-neighbors, and a wedge closes iff the oriented edge between its
    * two out-neighbors (in the same total order) exists. Orientation
    * bounds out-degree by O(√E) on any graph, so the wedge join is
    * O(E^1.5) worst-case instead of Σ deg² — the difference between a
    * plan that survives a power-law graph at 100× and one that explodes
    * on its hub vertices. Three equi-joins + one explode + one aggregate;
    * each triangle is found exactly once. */
  def triangleCounts(spark: SparkSession, dir: String, minShared: Int = 3): DataFrame = {
    val e0 = coPurchaseEdges(spark, dir, minShared).select("u", "v") // u < v
    val deg = e0.select(explode(array(col("u"), col("v"))).as("vx"))
      .groupBy("vx").agg(count(lit(1)).as("dg"))
    // orient each edge from the (degree, id)-smaller endpoint to the larger;
    // carry the dst's (degree, id) key so wedge pairs order without a re-join
    // both when/otherwise branches must yield the SAME struct type, so the
    // (degree, id) key fields are aliased to common names on each side
    val keyU = struct(col("du").as("d"), col("u").as("x"))
    val keyV = struct(col("dv").as("d"), col("v").as("x"))
    val or = e0
      .join(deg.withColumnRenamed("vx", "u").withColumnRenamed("dg", "du"), "u")
      .join(deg.withColumnRenamed("vx", "v").withColumnRenamed("dg", "dv"), "v")
      .select(
        when(keyU < keyV, col("u")).otherwise(col("v")).as("src"),
        when(keyU < keyV, col("v")).otherwise(col("u")).as("dst"),
        when(keyU < keyV, keyV).otherwise(keyU).as("dk"))
      .cache()
    val tri = or.as("w1")
      .join(or.as("w2"),
        col("w1.src") === col("w2.src") && col("w1.dk") < col("w2.dk"))
      .join(or.as("cl"),
        col("cl.src") === col("w1.dst") && col("cl.dst") === col("w2.dst"))
      .select(col("w1.src").as("a"), col("w1.dst").as("b"), col("w2.dst").as("c"))
    val counts = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("triangles"))
      .localCheckpoint() // materialize (tiny: one row per vertex) …
    or.unpersist()       // … so the oriented-edge cache can be released now
    counts.orderBy("vertex")
  }

  /** qas: clustering coefficients — the transitivity summary of the
    * co-purchase graph (how much of it is triangles vs open wedges):
    * global CC = Σ per-vertex triangles / Σ d(d−1)/2, plus the average
    * LOCAL coefficient over vertices with degree ≥ 2. Composes the
    * degree-ordered triangle count (O(E^1.5) wedge join, q89) with the
    * one-pass degree aggregate (q31) — both already the scale-safe
    * shapes — and reduces to a single row, so the only added work is a
    * vertex-keyed left join. Integer triangle/wedge sums divide once. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val e = coPurchaseEdges(spark, dir, 3).select("u", "v")
    val deg = e.select(explode(array(col("u"), col("v"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("d"))
    val tv = triangleCounts(spark, dir)
    val j = deg.join(tv, Seq("vertex"), "left")
      .select(col("d"), coalesce(col("triangles"), lit(0L)).as("t"))
    j.agg(count(lit(1)).as("n_vertices"),
        (sum("t") / 3).cast("long").as("n_triangles"),
        round(sum("t").cast("double")
          / (sum(col("d") * (col("d") - 1)) / 2.0), 6).as("global_cc"),
        round(avg(when(col("d") >= 2,
          col("t").cast("double") / (col("d") * (col("d") - 1) / 2.0))), 6)
          .as("avg_local_cc"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select("n_vertices", "n_edges", "n_triangles", "global_cc",
        "avg_local_cc")
  }

  /** qaz: degree distribution + complementary CDF — the graph-health
    * fingerprint (hub-heaviness decides salting, sampling and the
    * betweenness tier choice; SCALE.md reasons from exactly this
    * shape). One explode + two aggregates: degrees per vertex, then
    * vertices per degree; the CCDF window runs over the degree-domain
    * relation (≤ max-degree rows). */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val deg = coPurchaseEdges(spark, dir, 3)
      .select(explode(array(col("u"), col("v"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_vertices"))
    val total = hist.agg(sum("n_vertices").as("t"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("degree").desc)
      .rowsBetween(Long.MinValue, 0L)
    hist.crossJoin(broadcast(total))
      .select(col("degree"), col("n_vertices"),
        round(sum("n_vertices").over(w).cast("double") / col("t"), 6)
          .as("ccdf"))
      .orderBy("degree")
  }

  /** qb4: Adamic–Adar link prediction — top-k non-adjacent vertex pairs
    * scored by Σ_z 1/ln(deg z) over their common neighbors z (the classic
    * "weighted common neighbors" predictor: a shared low-degree neighbor
    * is far stronger evidence than a shared hub). Shape: adjacency
    * self-joined on the CENTER vertex enumerates each wedge once
    * (a < b), the score is one partial+final sum over the pair key, and
    * known edges leave via a left-anti join against the canonical u < v
    * edge list. Work is Σ deg(z)² wedges — the same budget as the q89
    * wedge join — and every stage shuffles on a key (center, then pair),
    * nothing driver-side. Vertices with deg 1 center no wedge, so
    * 1/ln(deg) never divides by ln(1)=0. Each wedge weight is quantized
    * to a nano-scaled long BEFORE the sum (round(1e9/ln deg)), so the
    * aggregate is an exact integer sum — order-independent and identical
    * across engines — and the top-k cut can never shift with summation
    * order; the displayed score divides back to 6 dp at the end. */
  def adamicAdar(spark: SparkSession, dir: String, k: Int = 50,
      minShared: Int = 3): DataFrame = {
    val e = coPurchaseEdges(spark, dir, minShared).select("u", "v") // u < v
    val adj = e.select(col("u").as("z"), col("v").as("x"))
      .unionAll(e.select(col("v").as("z"), col("u").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("dz"))
    val az = adj.join(deg, "z")
    val wedges = az.as("l").join(az.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .select(col("l.x").as("a"), col("r.x").as("b"),
        round(lit(1e9) / log(col("l.dz"))).cast("long").as("w"))
    val scored = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("common_nbrs"), sum("w").as("s"))
    scored.join(e, scored("a") === e("u") && scored("b") === e("v"),
        "left_anti")
      .select(col("a").as("u"), col("b").as("v"), col("common_nbrs"),
        round(col("s") / 1e9, 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(k)
  }

  /** q8z: single-source shortest paths (unweighted hop counts) from the
    * minimum vertex id — the one graph primitive the family still lacked
    * (CC/PR/LPA/betweenness/triangles are all here). Frontier BFS: each
    * superstep joins ONLY the frontier (vertices discovered last round)
    * to the adjacency, anti-joins out already-settled vertices, and
    * `localCheckpoint`s both relations so plan depth stays one superstep
    * (the q88 lesson). Work per round is frontier-size × avg degree, not
    * V × E; rounds = eccentricity of the source. Unreachable vertices are
    * absent (same in the oracle). `maxIters` bounds the walk; a graph
    * with true eccentricity beyond it would fail the oracle LOUDLY rather
    * than silently truncate both sides, because the oracle's recursive
    * CTE carries the same cap. */
  def sssp(spark: SparkSession, dir: String, minShared: Int = 3,
      maxIters: Int = 50): DataFrame =
    ssspOf(coPurchaseEdges(spark, dir, minShared).select("u", "v"), maxIters)

  /** [[sssp]] over an explicit undirected (u, v) edge list; source = the
    * minimum vertex id present. Tiered like [[componentsAuto]]/[[kCoreOf]]:
    * BFS costs one scheduling quantum per LEVEL, so below `driverEdgeLimit`
    * the O(V+E) array BFS on the driver wins outright; above it, the
    * frontier-join propagation (GraphSpec asserts tier equality). */
  private[graft] def ssspOf(e0: DataFrame, maxIters: Int,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    byTier(e0, driverEdgeLimit) { edges =>
      // stored in vertex order (rankRows)
      spark.createDataset(driverBfs(edges, maxIters).toSeq.sortBy(_._1))
        .toDF("vertex", "dist")
        .select(col("vertex"), col("dist").cast("int").as("dist"))
    } { (e, m) =>
      // ssspStep joins frontier(vertex) = nbrs(u) every round (see
      // keyedStatic)
      val nbrs = keyedStatic(bothWays(e), 2 * m, "u")
      val src = nbrs.agg(min("u")).head.getLong(0)
      var dist = spark.range(1)
        .select(lit(src).as("vertex"), lit(0).as("dist"))
        .localCheckpoint()
      var frontier = dist
      var iter = 0
      while (iter < maxIters && !frontier.isEmpty) {
        frontier = ssspStep(nbrs, frontier, dist).localCheckpoint()
        if (!frontier.isEmpty)
          dist = dist.unionAll(frontier).localCheckpoint()
        iter += 1
      }
      nbrs.unpersist()
      dist.select(col("vertex"), col("dist").cast("int").as("dist"))
        .orderBy("vertex")
    }
  }

  /** One frontier-expansion BFS superstep — [[ssspOf]]'s distributed-tier
    * loop body, factored for [[superstepPlans]]. */
  private def ssspStep(nbrs: DataFrame, frontier: DataFrame,
      dist: DataFrame): DataFrame =
    frontier.join(nbrs, frontier("vertex") === nbrs("u"))
      .select(col("v").as("vertex"), (col("dist") + 1).as("dist"))
      .groupBy("vertex").agg(min("dist").as("dist"))
      .join(dist.select(col("vertex").as("settled")),
        col("vertex") === col("settled"), "left_anti")

  /** Exact in-memory BFS from the minimum vertex id; hop distances of the
    * reachable component, capped at `maxIters` (mirrors the distributed
    * tier's superstep cap). */
  private[graft] def driverBfs(edges: EdgeCols, maxIters: Int): Map[Long, Int] = {
    if (edges.length == 0) return Map.empty
    val g = undirectedArcs(edges)
    val dist = Array.fill(g.dstIds.length)(-1)
    dist(0) = 0 // the source: index 0 is the smallest id
    var frontier = Array(0)
    var d = 0
    while (frontier.nonEmpty && d < maxIters) {
      d += 1
      frontier = frontier.flatMap(g.sources).filter { n =>
        if (dist(n) >= 0) false else { dist(n) = d; true }
      }
    }
    g.dstIds.indices.collect { case v if dist(v) >= 0 => g.dstIds(v) -> dist(v) }.toMap
  }

  private[graft] def driverBfs(edges: Array[(Long, Long)], maxIters: Int): Map[Long, Int] =
    driverBfs(EdgeCols.of(edges), maxIters)

  /** q9e: k-core of the co-purchase graph — iterative peeling: drop every
    * vertex with degree < k (and its edges), recompute, repeat to
    * fixpoint. The standard dense-substructure primitive beside triangles
    * (spam/community cores, graph sampling). Each round is one degree
    * aggregate + two semi-joins, `localCheckpoint`ed; rounds = peel depth
    * (typically ≪ 20, converges when the edge count stops falling — one
    * cheap count per round, same discipline as CC's label-sum). Returns
    * each surviving vertex with its within-core degree. The oracle unrolls
    * a fixed 30 peel rounds — peeling is idempotent at fixpoint, so extra
    * rounds are no-ops; a graph needing more rounds than the unroll would
    * fail the compare loudly. */
  def kCore(spark: SparkSession, dir: String, k: Int = 3,
      minShared: Int = 3, maxRounds: Int = 30): DataFrame =
    kCoreOf(coPurchaseEdges(spark, dir, minShared).select("u", "v"), k, maxRounds)

  /** [[kCore]] over an explicit undirected (u, v) edge list. Tiered like
    * [[componentsAuto]]: peeling has a LONG convergence tail (each late
    * round removes a handful of vertices, and every distributed round
    * costs a fixed scheduling quantum — the sf0.1 fixture peels for 23
    * rounds), so below `driverEdgeLimit` the exact O(E) bucket peel on the
    * driver wins outright; above it, the per-round semi-join propagation.
    * Same contract either way (GraphSpec asserts tier equality). */
  private[graft] def kCoreOf(e0: DataFrame, k: Int, maxRounds: Int,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    byTier(e0, driverEdgeLimit) { edges =>
      // stored in vertex order (rankRows)
      spark.createDataset(driverKCore(edges, k).toSeq.sortBy(_._1))
        .toDF("vertex", "core_degree")
    } { (cached, m) =>
      var e = cached.localCheckpoint()
      var prev = -1L
      var cur = m
      var rounds = 0
      while (cur != prev && rounds < maxRounds) {
        val deg = e.select(explode(array(col("u"), col("v"))).as("vx"))
          .groupBy("vx").agg(count(lit(1)).as("n"))
        val keep = deg.where(col("n") >= k).select("vx")
        e = e.join(keep.withColumnRenamed("vx", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("vx", "v"), Seq("v"), "left_semi")
          .select("u", "v")
          .localCheckpoint()
        prev = cur
        cur = e.rdd.count() // one job; a Dataset count is two under AQE
        rounds += 1
      }
      e.select(explode(array(col("u"), col("v"))).as("vertex"))
        .groupBy("vertex").agg(count(lit(1)).as("core_degree"))
        .orderBy("vertex")
    }
  }

  /** Exact in-memory peel: remove vertices with degree < k until stable,
    * worklist-driven (each removal only re-examines its neighbors) — O(E)
    * total. Returns surviving vertex → within-core degree. */
  private[graft] def driverKCore(edges: EdgeCols, k: Int): Map[Long, Long] = {
    val g = undirectedArcs(edges)
    val deg = g.outDegrees.map(_.toLong)
    val removed = new Array[Boolean](deg.length)
    var queue = deg.indices.filter(deg(_) < k).toList
    while (queue.nonEmpty) {
      val v = queue.head; queue = queue.tail
      if (!removed(v)) {
        removed(v) = true
        g.sources(v).foreach { n =>
          if (!removed(n)) {
            deg(n) -= 1
            if (deg(n) < k) queue ::= n
          }
        }
      }
    }
    g.dstIds.indices.collect { case v if !removed(v) => g.dstIds(v) -> deg(v) }.toMap
  }

  private[graft] def driverKCore(edges: Array[(Long, Long)], k: Int): Map[Long, Long] =
    driverKCore(EdgeCols.of(edges), k)

  /** A driver tier's vertex index: the sorted distinct ids of some id
    * columns, where vertex `ids(i)` has the dense index i. Ids map to
    * indices through a primitive open-addressing table (linear probing, a
    * power-of-two size at most half full, murmur3's 64-bit finalizer as
    * the hash, so runs of consecutive ids and multiples of 2^32 spread);
    * only the distinct ids are sorted. */
  private[operators] final class VertexIndex(cols: Array[Long]*) {
    private var keys = new Array[Long](1024)
    private var slots = Array.fill(1024)(-1) // -1: empty, else a dense index
    private var size = 0

    private def slotOf(id: Long): Int = {
      var h = id
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      var s = h.toInt & (keys.length - 1)
      while (slots(s) >= 0 && keys(s) != id) s = (s + 1) & (keys.length - 1)
      s
    }

    private def insert(id: Long): Unit = {
      val s = slotOf(id)
      if (slots(s) < 0) {
        keys(s) = id; slots(s) = size; size += 1
        if (2 * size > keys.length) grow()
      }
    }

    private def grow(): Unit = {
      val (oldKeys, oldSlots) = (keys, slots)
      keys = new Array[Long](2 * oldKeys.length)
      slots = Array.fill(2 * oldSlots.length)(-1)
      var i = 0
      while (i < oldKeys.length) {
        if (oldSlots(i) >= 0) {
          val s = slotOf(oldKeys(i))
          keys(s) = oldKeys(i); slots(s) = oldSlots(i)
        }
        i += 1
      }
    }

    cols.foreach { col =>
      var k = 0
      while (k < col.length) { insert(col(k)); k += 1 }
    }

    /** The distinct ids, ascending. */
    val ids: Array[Long] = {
      val distinct = new Array[Long](size)
      var i = 0
      while (i < keys.length) { if (slots(i) >= 0) distinct(slots(i)) = keys(i); i += 1 }
      java.util.Arrays.sort(distinct)
      i = 0
      while (i < distinct.length) { slots(slotOf(distinct(i))) = i; i += 1 }
      distinct
    }

    /** The dense index of every id in `col`. */
    def indicesOf(col: Array[Long]): Array[Int] = {
      val out = new Array[Int](col.length)
      var k = 0
      while (k < col.length) {
        val s = slotOf(col(k))
        require(slots(s) >= 0, s"vertex ${col(k)} is missing from the vertex index")
        out(k) = slots(s)
        k += 1
      }
      out
    }
  }

  /** The arcs of a driver-tier graph on primitive arrays, as a CSR of
    * INCOMING arcs sorted by (dst, src): the arcs into dst index j come
    * from the src indices `src(offsets(j) until offsets(j + 1))`,
    * ascending. Indices are positions in the vertex indexes `srcIds` and
    * `dstIds` ([[VertexIndex]]; one index for a one-mode graph, customers
    * and parts for HITS). A duplicate arc stays two arcs. */
  private[operators] final class InArcs(val srcIds: Array[Long], val dstIds: Array[Long],
      val offsets: Array[Int], val src: Array[Int]) {

    /** The src indices of the arcs into `v`, ascending: v's neighbors,
      * for the arcs of an undirected graph ([[undirectedArcs]]). */
    def sources(v: Int): Array[Int] =
      java.util.Arrays.copyOfRange(src, offsets(v), offsets(v + 1))

    /** Arcs leaving each src index. */
    def outDegrees: Array[Int] = {
      val deg = new Array[Int](srcIds.length)
      src.foreach(u => deg(u) += 1)
      deg
    }

    /** Σ x(u) over the arcs u → v, from 0.0 like Spark's `sum`, in
      * ascending source-id order: the sum, and so the driver tier's
      * result, does not depend on the order the edges arrived in. */
    def inSum(v: Int, x: Array[Double]): Double = {
      var s = 0.0
      var k = offsets(v)
      while (k < offsets(v + 1)) { s += x(src(k)); k += 1 }
      s
    }
  }

  /** [[InArcs]] of the arcs from(k) → to(k), given as indices into
    * `srcIds` and `dstIds`, with no comparison sort: a stable counting
    * sort groups the arcs by src, and scattering them in ascending src
    * order into their dst segments leaves every segment ascending — the
    * (dst, src) order of a full sort, element for element. */
  private def inArcs(from: Array[Int], to: Array[Int], srcIds: Array[Long],
      dstIds: Array[Long]): InArcs = {
    val bySrc = segmentStarts(from, srcIds.length)
    val dstBySrc = new Array[Int](from.length)
    val next = bySrc.clone()
    var k = 0
    while (k < from.length) { dstBySrc(next(from(k))) = to(k); next(from(k)) += 1; k += 1 }
    val offsets = segmentStarts(to, dstIds.length)
    val fill = offsets.clone()
    val src = new Array[Int](from.length)
    var u = 0
    while (u < srcIds.length) {
      k = bySrc(u)
      while (k < bySrc(u + 1)) { val v = dstBySrc(k); src(fill(v)) = u; fill(v) += 1; k += 1 }
      u += 1
    }
    new InArcs(srcIds, dstIds, offsets, src)
  }

  /** Where a counting sort of `keys` in [0, n) puts each key: the keys
    * equal to j fill positions offsets(j) until offsets(j + 1). */
  private def segmentStarts(keys: Array[Int], n: Int): Array[Int] = {
    val offsets = new Array[Int](n + 1)
    var k = 0
    while (k < keys.length) { offsets(keys(k) + 1) += 1; k += 1 }
    var j = 0
    while (j < n) { offsets(j + 1) += offsets(j); j += 1 }
    offsets
  }

  /** Both directions of an undirected edge list ([[bothWays]]) as
    * [[InArcs]] over every endpoint: a self-loop is two arcs into its
    * vertex, so it counts twice in that vertex's degree. The fixed-count
    * kernels' driver tiers, [[driverBfs]] and [[driverKCore]] all run on
    * it. */
  private[operators] def undirectedArcs(edges: EdgeCols): InArcs = {
    val index = new VertexIndex(edges.u, edges.v)
    val (u, v) = (index.indicesOf(edges.u), index.indicesOf(edges.v))
    inArcs(u ++ v, v ++ u, index.ids, index.ids)
  }

  /** A bipartite (c, p) incidence as [[InArcs]] both ways, (c → p, p → c),
    * over the customer and part indexes: [[driverHits]]' two half-steps. */
  private[operators] def incidenceArcs(inc: EdgeCols): (InArcs, InArcs) = {
    val (cIndex, pIndex) = (new VertexIndex(inc.u), new VertexIndex(inc.v))
    val (c, p) = (cIndex.indicesOf(inc.u), pIndex.indicesOf(inc.v))
    (inArcs(c, p, cIndex.ids, pIndex.ids), inArcs(p, c, pIndex.ids, cIndex.ids))
  }

  /** q9n: HITS hubs & authorities over the BIPARTITE customer–part
    * incidence (hub = customer whose purchases concentrate on
    * authoritative parts, authority = part bought by strong hubs) — the
    * second eigenvector-iteration primitive beside PageRank, and the one
    * where bipartite structure actually matters (HITS on the undirected
    * co-purchase graph would degenerate to hub ≡ authority). Per-round L2
    * normalization is a pure rescaling of the power iteration, so the
    * loop runs UNNORMALIZED — one incidence join + group-sum per half-
    * step, one `localCheckpoint` per full round (the q88 planning
    * lesson) — and divides by the L2 norm once at the end: the identical
    * vector, at a third of the jobs the per-round-normalized form costs.
    * Magnitude stays in double range for any realistic graph: values
    * grow ≤ (max customer deg × max part deg)^iters, overflowing 1e308
    * only past ~1e15 max-degree products over 10 rounds. The oracle
    * unrolls all 10 rounds as MATERIALIZED CTEs (normalizing per round,
    * which lands on the same direction), rounded at 8 dp — far above the
    * engines' summation-order/scaling drift. The joins are the tier above
    * `driverEdgeLimit` incidence rows; at or below it the same half-steps
    * run on the driver ([[hitsOf]]). */
  def hits(spark: SparkSession, dir: String, iters: Int = 10): DataFrame =
    hitsOf(incidence(spark, dir), iters)

  /** [[hits]] over an explicit bipartite (c, p) incidence relation. Tiered
    * like [[pageRankOf]], on incidence rows: the incidence enters
    * [[byTier]] as (u = c, v = p), and at most `driverEdgeLimit` rows run
    * [[driverHits]]. */
  private[graft] def hitsOf(inc: DataFrame, iters: Int,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    require(iters >= 1, s"HITS needs iters >= 1 (the authority vector is " +
      s"the last round's), got $iters")
    val spark = inc.sparkSession
    import spark.implicits._
    byTier(inc.select(col("c").as("u"), col("p").as("v")), driverEdgeLimit) { rows =>
      val ((cs, hub), (ps, auth)) = driverHits(rows, iters)
      def unit(role: String, ids: Array[Long], x: Array[Double]) = {
        var n2 = 0.0
        x.foreach(s => n2 += s * s)
        val nrm = math.sqrt(n2)
        ids.indices.map(i => (role, ids(i), x(i) / nrm))
      }
      // stored in (role, id) order (rankRows): authority rows, then hub
      // rows, ids ascending within each
      spark.createDataset(unit("authority", ps, auth) ++ unit("hub", cs, hub))
        .toDF("role", "id", "score")
        .select(col("role"), col("id"), round(col("score"), 8).as("score"))
    } { (e, m) =>
      distributedHits(e.select(col("u").as("c"), col("v").as("p")), m, iters)
    }
  }

  /** [[hitsOf]]'s driver tier: (customer ids ascending, hub scores) and
    * (part ids ascending, authority scores), unnormalized — the
    * distributed half-steps a(p) = Σ h(c) and h(c) = Σ a(p), each sum in
    * ascending id order. A duplicate (c, p) row counts twice. */
  private[operators] def driverHits(inc: EdgeCols, iters: Int):
      ((Array[Long], Array[Double]), (Array[Long], Array[Double])) = {
    val (toP, toC) = incidenceArcs(inc)
    val (cIds, pIds) = (toP.srcIds, toP.dstIds)
    val (hub, auth) = (1 to iters).foldLeft(
        (Array.fill(cIds.length)(1.0), Array.empty[Double])) { case ((hub, _), _) =>
      val auth = Array.tabulate(pIds.length)(toP.inSum(_, hub))
      (Array.tabulate(cIds.length)(toC.inSum(_, auth)), auth)
    }
    ((cIds, hub), (pIds, auth))
  }

  private[operators] def driverHits(inc: Array[(Long, Long)], iters: Int):
      ((Array[Long], Array[Double]), (Array[Long], Array[Double])) =
    driverHits(EdgeCols.of(inc), iters)

  /** [[hitsOf]]'s distributed tier over the cached incidence `inc` of
    * `incRows` rows. */
  private def distributedHits(inc: DataFrame, incRows: Long,
      iters: Int): DataFrame = {
    // The static incidence is joined on c and on p EVERY round — shuffling
    // it 2×iters times is the dominant cost. Pre-partition it once per
    // key (two cached copies, see keyedStatic): each round's joins then
    // align with the rank vectors (groupBy output and localCheckpoint both
    // preserve hash partitioning), so the only exchanges left are the two
    // per-round TRANSPOSES (groupBy p after a c-join and vice versa), which
    // no layout can avoid.
    val incC = keyedStatic(inc, incRows, "c")
    val incP = keyedStatic(inc, incRows, "p")
    // filled once here: a cache left to the supersteps is filled inside
    // them, where two concurrent stages can compute the same partition
    incC.rdd.count(); incP.rdd.count()
    val hub0 = incC.select(col("c")).distinct()
      .withColumn("h", lit(1.0)).localCheckpoint()
    // A broadcast tier for the rank vector was measured and REJECTED —
    // broadcasting the lazy mid-round aggregates serializes each round
    // behind a driver-side broadcast build, and the transpose exchange
    // remains either way.
    var auth: DataFrame = null
    val hub = supersteps(hub0, iters) { (i, hub) =>
      val a0 = hitsAuthStep(incC, hub)
      // auth stays lazy inside the hub job except on the last round,
      // where it is materialized for the output
      val authStep = if (i == iters) { auth = a0.localCheckpoint(); auth }
                     else a0
      hitsHubStep(incP, authStep)
    }
    incC.unpersist(); incP.unpersist() // results live in checkpoints
    val hn = hub.agg(sqrt(sum(col("h") * col("h"))).as("nrm"))
    val an = auth.agg(sqrt(sum(col("a") * col("a"))).as("nrm"))
    hub.crossJoin(broadcast(hn))
      .select(lit("hub").as("role"), col("c").as("id"),
        round(col("h") / col("nrm"), 8).as("score"))
      .unionByName(auth.crossJoin(broadcast(an))
        .select(lit("authority").as("role"), col("p").as("id"),
          round(col("a") / col("nrm"), 8).as("score")))
      .orderBy("role", "id")
  }

  /** The two HITS half-steps — [[hits]]' loop body, factored for
    * [[superstepPlans]]: authority = incidence-join + group-sum over p,
    * hub = the transpose over c. */
  private def hitsAuthStep(incC: DataFrame, hub: DataFrame): DataFrame =
    incC.join(hub, "c").groupBy("p").agg(sum("h").as("a"))
  private def hitsHubStep(incP: DataFrame, auth: DataFrame): DataFrame =
    incP.join(auth, "p").groupBy("c").agg(sum("a").as("h"))

  /** Superstep-1 relations of the ITERATIVE graph faces (q88 PageRank,
    * qa7 PPR, q8j LPA, q8z SSSP's distributed tier, q9n HITS' two
    * half-steps), built from the SAME step functions and static-side
    * builders the loops run — the per-superstep plan-audit surface. The
    * loop faces' own explained plans are useless for this:
    * `localCheckpoint` truncates lineage (by design — O(1) analysis per
    * round), so the face's final plan shows a checkpoint scan, not the
    * superstep. Each entry here is ONE loop-body
    * application over the real static relations and an un-checkpointed
    * initial vector, so the dumped plan is exactly what every iteration
    * compiles to (modulo the checkpoint scan replacing the previous
    * round's subtree). */
  private[graft] def superstepPlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val e0 = coPurchaseEdges(spark, dir, 3).select("u", "v")
    val eCnt = e0.count()
    // the static sides are cached, so the dumped plan shows the loop's
    // steady state: the join reads the keyed InMemoryRelation with no
    // fresh exchange above it. The returned plans read them lazily, so
    // they are transients.
    def static(df: DataFrame): DataFrame = SharedViews.transient(df)
    val w = static(rankWeights(e0, eCnt))
    val verts = w.select(col("src").as("v")).distinct().sortWithinPartitions("v")
    val pr0 = verts.select(col("v"), lit(1.0).as("r"))
    val nbrs = static(keyedStatic(bothWays(e0), 2 * eCnt, "v"))
    val labels0 = nbrs.select(col("u").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
    val dist0 = spark.range(1)
      .select(lit(0L).as("vertex"), lit(0).as("dist"))
    val inc = incidence(spark, dir)
    val incRows = inc.count()
    val incC = static(keyedStatic(inc, incRows, "c"))
    val incP = static(keyedStatic(inc, incRows, "p"))
    // filled here, as in distributedHits: the half-steps read incC on both
    // sides of a join, and two concurrent stages would fill one partition
    incC.rdd.count(); incP.rdd.count()
    val hub0 = incC.select(col("c")).distinct().withColumn("h", lit(1.0))
    Seq(
      "q88_pagerank superstep" -> pageRankStep(w, pr0, 1000L, 0.85),
      "qa7_ppr superstep" -> pprStep(static(pprWeights(e0, eCnt)), pr0, 0L, 0.85),
      "q8j_lpa superstep" -> lpaStep(nbrs, labels0),
      "q8z_sssp superstep (distributed tier)" ->
        ssspStep(static(keyedStatic(bothWays(e0), 2 * eCnt, "u")), dist0,
          dist0.select(col("vertex"), col("dist"))),
      "q9n_hits auth half-step" -> hitsAuthStep(incC, hub0),
      "q9n_hits hub half-step" ->
        hitsHubStep(incP, hitsAuthStep(incC, hub0)))
  }

  /** Modularity search trace: Q at each coarse removal step — exposes G5 as
    * a queryable result (deterministic; rows-only check). */
  def modularityCurve(spark: SparkSession, dir: String, minShared: Int = 3,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    import spark.implicits._
    // FP-robust removal ranking: ties in TRUE betweenness can come out of
    // the per-edge double sums in either order depending on summation
    // order (ours vs any independent recomputation differ at ~1e-12), so
    // the rank key quantizes to 1e-9 before the (u, v) tiebreak — edges
    // whose true values differ by < 1e-9 are ordered deterministically by
    // id on BOTH sides, and the oracle's SQL Brandes replays the exact
    // same removal prefixes. (q34's GN search keeps the raw order — its
    // golden parity is against the reference's own run, not an oracle.)
    val rankedDf = rankedEdges(spark, dir, minShared)
    require(viewRows(betweenness(spark, dir, minShared)) <= driverEdgeLimit,
      s"modularity curve walks the GN residual graph on the driver; above " +
        s"$driverEdgeLimit edges use GraphOps.communitiesLpa instead")
    val ranked = rankedDf.as[(Long, Long)].collect()
    val prober = new GnProber(ranked)
    val step = math.max(1, ranked.length / 14)
    val rows = (0 to ranked.length by step).map { k =>
      val q = prober.modularityAt(k)
      (k, prober.nCommunitiesAt(k),
        if (q.isNaN) 0.0 else math.rint(q * 1e6) / 1e6)
    }
    spark.createDataset(rows).toDF("removed", "n_communities", "modularity")
  }

  /** The rows of a stored view, counted with one scan job: `Dataset.count`
    * is an aggregate, two jobs under adaptive execution. */
  private def viewRows(view: DataFrame): Long = view.rdd.count()

  /** q35's removal order: the (u, v) of [[betweenness]] by [[btwRank]],
    * then (u, v) — the view's stored order, read with one scan. */
  private[operators] def rankedEdges(spark: SparkSession, dir: String,
      minShared: Int = 3): DataFrame =
    betweenness(spark, dir, minShared)
      .orderBy(btwRank, col("u"), col("v"))
      .select("u", "v")
}
