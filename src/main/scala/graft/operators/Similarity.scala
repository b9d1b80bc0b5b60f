package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SharedViews, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * four tiers on the exact↔approximate spectrum (SURVEY.md §7 M5):
  *
  *  - brute (q46/q49): bounded query side broadcast × one corpus scan —
  *    the exact baseline every approximate tier's recall is measured
  *    against;
  *  - sign-LSH (q47): bucket equi-join on codegen'd hyperplane sign bits,
  *    O(Q·N/2^bits) expected per probe, OR-amplified across tables;
  *  - IVF (q4a): spherical-k-means coarse quantizer, partition-by-
  *    centroid, nprobe cells per query — at cluster scale cells ARE the
  *    parquet partitioning and probes prune partitions;
  *  - PQ (q59): 8-byte codes + asymmetric-distance scan + exact re-rank —
  *    the memory tier (64× compression makes a 100 TB corpus's index
  *    RAM-resident).
  *
  * All hot loops are codegen'd expressions (`float_array_dot`,
  * `sign_buckets`, `pq_encode`/`pq_adc`) — no UDF boxing; every tier's
  * rank shape runs on the native [[graft.plans.TopKPerGroup]] operator.
  */
object Similarity {

  /** Composed-built-ins dot product — the declarative baseline kept on the
    * q46 path (its native twin q49 proves [[graft.functions
    * .ArrayDotProduct]] bit-identical through the shared oracle). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot product — every candidate-scoring hot path (LSH, IVF,
    * near-dup) runs through this: millions of candidate pairs × dim
    * multiply-adds must not pay a lambda dispatch per element. Identical
    * float semantics to [[dot]] (same left-to-right accumulation). */
  private def cdot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  /** Shared rank shape for every ANN tier: keep the k best neighbors per
    * query, deterministic tie-break on neighbor id over the 6-dp-rounded
    * similarity. Input columns: (query_id, neighbor_id, cosine). Runs on
    * the engine's own [[graft.plans.TopKPerGroup]] operator (bounded
    * per-partition heaps + merge) instead of a window — the candidate
    * stream is never fully sorted, which is the difference between O(C log
    * k) and O(C log C) over C candidates per query at corpus scale. The
    * ordering is total (neighbor_id tie-break), so results are identical
    * to the row_number formulation — q46/q49's oracle pins that. */
  private[graft] def topKByCosine(sims: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerGroup(sims, Seq("query_id"),
        Seq(("cosine", true), ("neighbor_id", false)), k, "rank")
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")

  /** embeddings as (vec_id, v: array<double>, norm). */
  private def normalized(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(cdot(col("v"), col("v"))))
  }

  /** [[normalized]], cached: the ANN faces (q47, q4a, qbe, q59, qbf, q8h,
    * qbh, qbj) each read it several times through their lazy results, so it
    * is one keyed [[graft.SharedViews]] view per (session, dir) — a cache
    * per call would re-cache the plan the first call cached. */
  private def normalizedCached(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("similarity.normalized", spark, dir) {
      normalized(spark, dir).cache()
    }

  /** Exact cosine top-k: for each query vector (vec_id < nQueries), the k
    * nearest corpus vectors. Query side broadcasts; ties broken by
    * neighbor id on the 6-dp-rounded similarity (cross-engine stable). */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 100): DataFrame = {
    val e = normalized(spark, dir)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val sims = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cosine"))
    topKByCosine(sims, k)
  }

  /** Exact cosine top-k through the natively codegen'd
    * `graft.functions.ArrayDotProduct` expression (tight primitive loop, no
    * per-element lambda dispatch). Same results as [[cosineTopK]]; shares
    * its oracle — the DuckDB compare doubles as the expression's
    * correctness proof. */
  def cosineTopKNative(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 100): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // casts stay INLINE inside array_dot so FloatDotRewrite (optimizer rule)
    // can collapse cast+dot into float_array_dot over the raw float buffers
    def ndot(a: Column, b: Column) =
      call_function("array_dot", a.cast("array<double>"), b.cast("array<double>"))
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(ndot(col("v"), col("v"))))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val sims = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(ndot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cosine"))
    topKByCosine(sims, k)
  }

  /** Random-hyperplane LSH with OR-amplification: `nTables` independent
    * hash tables of `nBits` sign bits each. Bit b of table t is the sign of
    * v · h_{t,b}, where h_{t,b} is a deterministic ±1 hyperplane derived
    * from xxhash64((t * 64 + b) * 1024 + dim). A candidate pair needs to
    * collide in ANY table (p_table = p_bit^nBits, recall = 1-(1-p_table)^L)
    * — a single wide table has near-zero recall for neighbors at 60–70°,
    * which is exactly where cosine top-k lives on high-dim data.
    *
    * The hyperplane matrix is generated ONCE driver-side
    * ([[graft.functions.Hyperplanes.signMatrix]] — bit-identical to the
    * round-1 per-row lambda formulation) and all nTables bucket ids are
    * computed by one codegen'd expression
    * ([[graft.functions.HyperplaneSignBuckets]]); the round-1 shape
    * re-derived every matrix entry per row through interpreted
    * higher-order-function lambdas and was 33% of the whole bench.
    * Rows: (vec_id, v, norm, table, bucket). */
  private def lshBuckets(e: DataFrame, nBits: Int, nTables: Int,
      dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    val planes = graft.functions.Hyperplanes.signMatrix(nTables, nBits, dim)
    e.withColumn("tb", call_function("sign_buckets", col("v"), lit(planes), lit(nBits)))
      .select(col("vec_id"), col("v"), col("norm"), posexplode(col("tb")))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
  }

  /** Bits per LSH table sized to the corpus: expected bucket occupancy
    * N/2^bits ≤ targetBucket, i.e. the candidate join stays ~linear as N
    * grows (the 4-bit default is fixture-tuned; at 10^9 vectors it would
    * put ~6·10^7 vectors in every bucket). Recall lost to narrower buckets
    * is bought back with more tables (OR-amplification), not wider ones. */
  def autoBits(n: Long, targetBucket: Int = 64): Int = {
    var bits = 1
    while (bits < 24 && (n >> bits) > targetBucket) bits += 1
    bits
  }

  /** ANN via LSH: candidates share the hyperplane bucket; exact cosine
    * + top-k within the candidate set. Approximate by construction —
    * rows-only check; recall vs the exact baseline is asserted in tests.
    * `nBits <= 0` (default) sizes buckets from the CORPUS via [[autoBits]]
    * — expected occupancy stays bounded as N grows, so the candidate join
    * stays ~linear instead of degrading toward all-pairs (recall is then
    * bought back with tables, the OR-amplification axis). */
  def cosineTopKLsh(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 100, nBits: Int = 0, nTables: Int = 6): DataFrame = {
    val base = normalizedCached(spark, dir)
    val bits = if (nBits > 0) nBits else autoBits(base.count())
    // NARROW bucket relation — (vec_id, table, bucket), 24-byte rows — and
    // vectors re-attach only AFTER the candidate set is distinct (the q48 /
    // corpusBandIndex discipline): the first formulation cached the bucket
    // table with v+norm on every (vector, table) row (nTables× the corpus
    // vector bytes pinned) and dragged both 64-double vectors through the
    // bucket join and the cross-table dropDuplicates (~1 KB/candidate
    // through that shuffle; now 16 bytes).
    val eb = SharedViews.transient(lshBuckets(base, bits, nTables)
      .select("vec_id", "table", "bucket").cache())
    val qb = eb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table").as("qt"),
        col("bucket").as("qb"))
    // query buckets are nQueries·nTables rows — broadcast keeps the corpus
    // bucket scan partition-local
    val cand = broadcast(qb).join(eb,
        col("qt") === col("table") && col("qb") === col("bucket") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id") // collide in several tables — score once
    val sims = cand
      .join(base.select(col("vec_id").as("neighbor_id"), col("v"),
        col("norm")), Seq("neighbor_id"))
      .join(broadcast(base.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qn"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cdot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cosine"))
    topKByCosine(sims, k)
  }

  /** Deterministic spherical k-means for the IVF coarse quantizer.
    * Init = the stride-sample (unit-normalized); Lloyd then refines
    * DRIVER-SIDE over a bounded, vec_id-sorted subsample (see the inline
    * note below): each iteration assigns every sampled vector to its
    * max-cosine centroid and recenters each cell on the normalized mean,
    * in ONE fixed summation order — which is what makes reruns bit-stable
    * (a distributed treeAggregate summed partials in task-arrival order
    * and FP non-associativity flipped borderline cells at 20M vectors).
    * No randomness anywhere: stride init, lowest-index tie-breaks, fixed
    * iteration count. Empty cells keep their previous centroid. Returns
    * unit-length centroids; only k·dim + the bounded sample ever reach
    * the driver. */
  private[operators] def sphericalKMeans(e: DataFrame, nCells: Int,
      iters: Int): Array[Array[Double]] = {
    val n = e.count()
    val stride = math.max(1, n / nCells)
    var centroids: Array[Array[Double]] =
      e.where(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy("vec_id").limit(nCells)
        .select(col("v"), col("norm")).collect()
        .map { r =>
          val norm = r.getDouble(1)
          r.getSeq[Double](0).map(_ / norm).toArray
        }
    if (iters == 0) return centroids
    // Train the quantizer on a deterministic subsample (vec_id stride), the
    // standard IVF shape: centroid quality needs a representative sample,
    // not the corpus — Lloyd over 100 TB would be iters full scans for no
    // recall gain. The sample is BOUNDED by construction (~sampleTarget
    // rows, ≈1 MB at 64 dims — and the limit() below makes the bound HARD
    // for any vec_id distribution: the pmod stride alone only yields
    // ~sampleTarget rows when ids are dense and uniform, not when they are
    // sparse or clustered on multiples of the rate; deterministic because
    // the sort precedes it), so the refinement runs on the DRIVER over a
    // vec_id-sorted array: one fixed summation order, bit-stable across
    // reruns. The previous formulation treeAggregate'd the same sample and
    // summed partition partials in task-arrival order — FP non-associativity
    // flipped borderline cell assignments between identical runs at the
    // 20M-vector fixture (a cluster profile face returned 15 vs 16 nonempty
    // cells on back-to-back calls). The collect is bounded the same way the
    // centroid collects above/below are: k·dim + sample, never the corpus.
    val sampleTarget = math.max(1000L, 100L * nCells)
    val rate = math.max(1L, n / sampleTarget)
    val unit: Array[Array[Double]] =
      e.where(pmod(col("vec_id"), lit(rate)) === 0)
        .orderBy("vec_id").limit((sampleTarget * 2).toInt)
        .select(col("v"), col("norm")).collect()
        .map { r =>
          val norm = r.getDouble(1)
          r.getSeq[Double](0).map(_ / norm).toArray
        }
    val k = centroids.length
    val dim = centroids(0).length
    (1 to iters).foreach { _ =>
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      unit.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var j = 0
        while (j < k) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * centroids(j)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { j =>
        if (counts(j) == 0) centroids(j)
        else {
          val m = sums(j)
          val norm = math.sqrt(m.map(x => x * x).sum)
          if (norm == 0) centroids(j) else m.map(_ / norm)
        }
      }.toArray
    }
    centroids
  }

  /** IVF (inverted-file) ANN: spherical-k-means coarse quantizer
    * ([[sphericalKMeans]]; `kmeansIters = 0` degrades to the raw
    * stride-sample, kept as the recall baseline in SimilaritySpec); every
    * vector is assigned to its nearest centroid (one broadcast join — this
    * is the "partition by centroid" layout at cluster scale), and each
    * query probes only its `nprobe` nearest cells. The third point on the
    * exact↔approx spectrum after brute and LSH: cell-local scans, recall
    * tunable via nprobe. */
  def cosineTopKIvf(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 100, nCells: Int = 16, nprobe: Int = 4,
      kmeansIters: Int = 5): DataFrame = {
    val e = normalizedCached(spark, dir)
    val cents = sphericalKMeans(e, nCells, kmeansIters)
    val flat = cents.flatten
    // cell assignment: one `nearest_cells` codegen pass over the scan —
    // bit-identical to the explode-×-nCells + rank-1-window formulation it
    // replaces (same dot order, same divide, ties to the lower cell), but
    // zero extra rows and zero shuffle where the window moved nCells WIDE
    // (vector-carrying) rows per vector through a full exchange.
    val assigned = e.withColumn("cell",
      element_at(call_function("nearest_cells",
        col("v"), col("norm"), lit(flat), lit(1)), 1))
    // queries probe their nprobe closest cells (same ordered list, exploded)
    val probes = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"),
        explode(call_function("nearest_cells",
          col("v"), col("norm"), lit(flat), lit(nprobe))).as("cell"))
    // the probe side is nQueries·nprobe rows — broadcast it so the corpus
    // scan stays partition-local (no shuffle keyed on ≤ nCells values,
    // which would collapse the join to nCells tasks). No dedup needed:
    // assignment is unique, cells are DISJOINT, so a (query, neighbor)
    // pair can only arise in the one cell the neighbor lives in.
    val sims = broadcast(probes).join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cdot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cosine"))
    topKByCosine(sims, k)
  }

  /** Deterministic per-subspace L2 Lloyd for the PQ codebooks: the vector
    * space is split into `m` contiguous subspaces and each gets its own
    * k-codeword codebook, trained on the same bounded, vec_id-sorted
    * stride sample as [[sphericalKMeans]] and refined DRIVER-SIDE in one
    * fixed summation order — bit-stable across reruns (the treeAggregate
    * form summed partition partials in task-arrival order, the exact FP
    * non-associativity that flipped spherical cells at 20M vectors), and
    * bit-stability is what lets the q59 oracle replay this training loop
    * in DuckDB. Only m·k·subdim = k·dim doubles plus the bounded sample
    * ever reach the driver. Returns the flat layout
    * [[graft.functions.PqEncode]] expects: codeword (mm, c) component i
    * at ((mm·k + c)·subdim) + i. */
  private[operators] def pqCodebooks(e: DataFrame, m: Int, k: Int,
      iters: Int): Array[Double] = {
    val n = e.count()
    val init = e.where(pmod(col("vec_id"), lit(math.max(1L, n / k))) === 0)
      .orderBy("vec_id").limit(k)
      .select(col("v"), col("norm")).collect()
      .map { r => val nm = r.getDouble(1); r.getSeq[Double](0).map(_ / nm).toArray }
    require(init.length == k, s"pq: corpus too small for k=$k codewords")
    val dim = init(0).length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val subdim = dim / m
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (mm, c) =>
      init(c).slice(mm * subdim, (mm + 1) * subdim)
    }
    // bounded, vec_id-sorted refinement sample — the sphericalKMeans
    // discipline: pmod stride to ~sampleTarget rows, a hard limit() so the
    // driver bound holds for ANY vec_id distribution, and one fixed
    // (vec_id-order) summation so reruns are bit-stable.
    val sampleTarget = math.max(1000L, 100L * k)
    val rate = math.max(1L, n / sampleTarget)
    val sample: Array[Array[Double]] =
      e.where(pmod(col("vec_id"), lit(rate)) === 0)
        .orderBy("vec_id").limit((sampleTarget * 2).toInt)
        .select(col("v"), col("norm")).collect()
        .map { r => val nm = r.getDouble(1); r.getSeq[Double](0).map(_ / nm).toArray }
    (1 to iters).foreach { _ =>
      val sums = Array.ofDim[Double](m, k, subdim)
      val counts = Array.ofDim[Long](m, k)
      sample.foreach { v =>
        var mm = 0
        while (mm < m) {
          var best = 0; var bestD = Double.MaxValue
          var cc = 0
          while (cc < k) {
            var d = 0.0; var i = 0
            while (i < subdim) {
              val diff = v(mm * subdim + i) - cb(mm)(cc)(i)
              d += diff * diff; i += 1
            }
            if (d < bestD) { bestD = d; best = cc }
            cc += 1
          }
          var i = 0
          while (i < subdim) { sums(mm)(best)(i) += v(mm * subdim + i); i += 1 }
          counts(mm)(best) += 1
          mm += 1
        }
      }
      cb = Array.tabulate(m, k) { (mm, cc) =>
        if (counts(mm)(cc) == 0) cb(mm)(cc)
        else sums(mm)(cc).map(_ / counts(mm)(cc))
      }
    }
    val flat = new Array[Double](k * dim)
    for (mm <- 0 until m; cc <- 0 until k; i <- 0 until subdim)
      flat((mm * k + cc) * subdim + i) = cb(mm)(cc)(i)
    flat
  }

  /** Product-quantization ANN (q59): the fourth point on the exact↔approx
    * spectrum (brute / LSH / IVF / PQ), and the memory-bound one — each
    * corpus vector is compressed to `m` codebook indices (8 codes ≈ 8
    * bytes vs 512), so at 100 TB the whole index is RAM-resident where
    * the raw vectors are not. Two stages, both engine-shaped: an ADC scan
    * ([[graft.functions.PqAdc]] — inner product against each row's
    * reconstruction, never materialized) keeps a per-query shortlist via
    * [[graft.plans.TopKPerGroup]], then the shortlist alone is re-ranked
    * with exact cosine against the uncompressed vectors (the standard
    * two-stage retrieve-rerank: the exact join touches `shortlist` rows
    * per query, not the corpus). Approximate by construction — rows-only
    * check; recall floor asserted in SimilaritySpec. */
  def cosineTopKPq(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 100, m: Int = 8, kCodes: Int = 16,
      iters: Int = 5, shortlist: Int = 50): DataFrame = {
    val e = normalizedCached(spark, dir)
    val cb = pqCodebooks(e, m, kCodes, iters)
    graft.functions.GraftFunctions.register(spark)
    val unit = e.withColumn("vn", transform(col("v"), x => x / col("norm")))
    val codes = unit.select(col("vec_id"),
      call_function("pq_encode", col("vn"), lit(cb), lit(m), lit(kCodes)).as("codes"))
    val q = unit.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vn").as("qv"))
    val adc = broadcast(q).join(codes, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("pq_adc", col("qv"), col("codes"),
          lit(cb), lit(m), lit(kCodes)).as("adc"))
    val short = graft.plans.TopKPerGroup(adc, Seq("query_id"),
        Seq(("adc", true), ("neighbor_id", false)), shortlist, "srank")
      .select("query_id", "neighbor_id")
    val exact = short
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")),
        "neighbor_id")
      .join(broadcast(e.where(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv0"),
            col("norm").as("qn"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cdot(col("qv0"), col("v")) / (col("qn") * col("norm")), 6).as("cosine"))
    topKByCosine(exact, k)
  }

  /** Embedding-cosine near-duplicate pairs: the top-k most similar pairs
    * among LSH-bucket collisions (the scalable near-dup shape — candidates
    * come from the bucket equijoin, never the full cross product). In a
    * dedup pipeline the `where(cosine >= threshold)` replaces the top-k.
    *
    * Duplicate collapse (the qad/qb2/q8a discipline applied to the
    * embedding family — the sf10 run measured 200 s without it): the
    * bucket self-join runs over DISTINCT vectors only; g exact copies of
    * one embedding would otherwise put g rows in every one of its buckets
    * and square the candidate work. Record-level pairs re-expand
    * afterwards: within-group pairs carry cosine 1.0 exactly (the
    * round-6dp of d/√d² is 1.0 to well past 6 dp), and only REPRESENTATIVE
    * pairs at-or-above the k-th rep cosine expand (any expanded pair's
    * cosine equals its representative pair's, so every global top-k
    * cross-group pair descends from that tie-inclusive rep set — a plain
    * rep-level limit(k) could drop a boundary-TIED rep pair whose
    * expansion outranks kept ones under the final (vec_a, vec_b)
    * tie-break). Output on a duplicate-free corpus is bit-identical to
    * the uncollapsed plan. */
  def cosineNearDups(spark: SparkSession, dir: String, k: Int = 20,
      nBits: Int = 0, nTables: Int = 4): DataFrame = {
    // vector groups per (session, dir), then scored rep pairs per
    // (session, dir, bits, tables), as KEYED [[graft.SharedViews]] views —
    // the dedupGroups discipline: every later call (and every warm serve in
    // a deployed pipeline) reads the in-memory copies and pays only the
    // tie-exact cut + expansion below. The bucket build + self-join +
    // exact cosine is the expensive, parameter-stable part (k only affects
    // the cut), and it was rebuilt per call (≈ 2.4 s of q48's 2.7 s warm
    // at sf0.1 with 16 tables). Entries are rep-level (duplicates
    // collapsed) and carry hashes/ids + one cosine per candidate — small
    // relative to the corpus.
    val grp = SharedViews.view("similarity.nearDupGroups", spark, dir) {
      normalized(spark, dir).groupBy(col("v"), col("norm"))
        .agg(min("vec_id").as("rid"), sort_array(collect_list("vec_id")).as("members"))
        .cache()
    }
    val scored = SharedViews.view("similarity.nearDupScored", spark, dir, nBits, nTables) {
      val reps = grp.select(col("rid").as("vec_id"), col("v"), col("norm"))
      val bits = if (nBits > 0) nBits else autoBits(reps.count())
      // the bucket self-join and the cross-table dedup move ONLY
      // (vec_id, table, bucket) — 24-byte rows. The first formulation
      // carried both 64-double vectors through the join output into
      // dropDuplicates, which made the dedup shuffle ~1 KB/candidate
      // (measured 3.4 s warm at sf0.1 with 16 tables); vectors re-attach
      // AFTER the pair set is distinct, by two narrow rep-level joins
      val e = lshBuckets(reps, bits, nTables)
        .select("vec_id", "table", "bucket")
      val cand = e.as("a").join(e.as("b"),
          col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ra"), col("b.vec_id").as("rb"))
        .dropDuplicates("ra", "rb")
      cand
        .join(reps.select(col("vec_id").as("ra"), col("v").as("va"),
          col("norm").as("na")), Seq("ra"))
        .join(reps.select(col("vec_id").as("rb"), col("v").as("vb"),
          col("norm").as("nb")), Seq("rb"))
        .select(col("ra"), col("rb"),
          round(cdot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
        // consumed TWICE (the kth-cosine aggregate and the threshold join)
        .cache()
    }
    // over-fetch at the representative level: a limit(k) here could drop a
    // rep pair TIED with the k-th on the 6-dp cosine whose expansion ranks
    // above kept ones under the record-level (vec_a, vec_b) tie-break —
    // keep every rep pair at-or-above the k-th cosine (bounded: k plus
    // boundary ties) and cut to k only after expansion. The threshold is a
    // 1-row aggregate broadcast into the filter, not a driver collect.
    val kth = graft.plans.TopKPerGroup(scored.withColumn("g", lit(1)),
        Seq("g"), Seq(("cosine", true), ("ra", false), ("rb", false)), k, "r")
      .agg(min("cosine").as("kth_cos"))
    val repPairs = scored.join(broadcast(kth), col("cosine") >= col("kth_cos"))
      .select("ra", "rb", "cosine")
    // k-aware member cap: expansion below must stay OUTPUT-bound, not
    // group-size-bound. All pairs expanded from one rep pair (and all
    // within-group pairs) share one cosine, so among them the final
    // (cosine desc, vec_a, vec_b) order reduces to (vec_a, vec_b) asc —
    // and any pair using a member beyond a group's k+1 smallest ids is
    // preceded by k+1 pairs that substitute a smaller id from the same
    // group (min(a',b) ≤ min(a,b) and on equality max strictly shrinks),
    // so it can never reach the global top k. Slicing `members` (sorted
    // asc at build) to k+1 is therefore lossless for limit(k) and bounds
    // the expansion at (k+1)² per rep pair / C(k+1,2) per group. Without
    // it, g duplicate copies per vector emit O(g²) rows per group — the
    // 20M-vector fixture (g≈1250) generated ~12.5B within-pairs for a
    // 20-row answer (measured 570 s warm; 1.6 s with the cap).
    val capped = slice(col("members"), 1, k + 1)
    val mem = grp.select(col("rid"), capped.as("members"))
    val cross = repPairs
      .join(mem.as("ma"), col("ra") === col("ma.rid"))
      .join(mem.as("mb"), col("rb") === col("mb.rid"))
      .select(explode(col("ma.members")).as("ia"), col("mb.members"), col("cosine"))
      .select(col("ia"), explode(col("members")).as("ib"), col("cosine"))
      .select(least(col("ia"), col("ib")).as("vec_a"),
        greatest(col("ia"), col("ib")).as("vec_b"), col("cosine"))
    // identical vectors: every unordered within-group pair at cosine 1.0
    val within = grp.where(size(col("members")) > 1)
      .select(explode(capped).as("ia"), capped.as("m2"))
      .select(col("ia"), explode(col("m2")).as("ib"))
      .where(col("ia") < col("ib"))
      .select(col("ia").as("vec_a"), col("ib").as("vec_b"),
        lit(1.0).as("cosine"))
    cross.unionAll(within)
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(k)
  }

  /** Corpus k-means cluster profile — clustering as a first-class curation
    * operator (the SemDeDup / domain-discovery shape), not just the IVF
    * index internals: train the deterministic spherical quantizer
    * ([[sphericalKMeans]] — stride init, sample-trained, bit-stable
    * reruns), assign every embedding to its argmax-cosine cell via one
    * broadcast of the k×dim centroid matrix, and profile each cluster:
    * population, mean/min within-cluster cosine (coherence), and the
    * member closest to the centroid (the cluster's exemplar doc). The
    * corpus never shuffles — assignment is a map over the scan, and the
    * profile is one partial+final aggregate keyed by cell (≤ k groups).
    * At 100 TB this is exactly the pass that writes the
    * partition-by-centroid layout that q4a's probes then prune. */
  def kmeansClusterProfile(spark: SparkSession, dir: String,
      nCells: Int = 16, iters: Int = 5): DataFrame = {
    import spark.implicits._
    val e = normalizedCached(spark, dir)
    val cents = sphericalKMeans(e, nCells, iters)
    val flat = cents.flatten
    val centroids = spark.createDataset(
        cents.toIndexedSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) })
      .toDF("cell", "cv")
    // assignment via one `nearest_cells` codegen pass (bit-identical to the
    // rank-1 window it replaces — same dot order, ties to the lower cell);
    // the winning csim is recomputed by ONE broadcast-hash join against the
    // nCells-row centroid relation — nCells+1 dots per row total, zero
    // shuffle, where the window form moved nCells wide rows per vector
    // through a full exchange.
    e.withColumn("cell",
        element_at(call_function("nearest_cells",
          col("v"), col("norm"), lit(flat), lit(1)), 1))
      .join(broadcast(centroids), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        (cdot(col("v"), col("cv")) / col("norm")).as("csim")) // |cv| = 1
      .groupBy("cell").agg(
        count(lit(1)).as("n_members"),
        round(avg(col("csim")), 4).as("avg_cos"),
        round(min(col("csim")), 4).as("min_cos"),
        min_by(col("vec_id"), struct(negate(col("csim")), col("vec_id")))
          .as("exemplar"))
      .orderBy("cell")
  }

  /** Per-label mean-pooled, L2-normalized centroid embeddings — the
    * "class prototype" / cluster-summary shape (the same computation an
    * IVF re-train or a per-domain corpus embedding needs). The sum runs
    * through [[graft.functions.VecSum]], a typed mergeable Aggregator
    * whose shuffle payload is ONE dim-length buffer per (partition,
    * label) — at 100 TB that is |labels|·dim doubles over the wire,
    * versus |rows|·dim for the posexplode+groupBy(label, dim)
    * formulation. Output exploded to (label, dim, pooled) rows purely for
    * the cross-engine comparison. */
  def meanPoolByLabel(spark: SparkSession, dir: String): DataFrame = {
    val vecSum = udaf(graft.functions.VecSum)
    val pooled = Tables(spark, dir, "embeddings")
      .groupBy("label")
      .agg(vecSum(col("embedding").cast("array<double>")).as("vsum"),
        count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("vsum"), x => x / col("n")).as("mean"))
      .withColumn("nrm",
        sqrt(aggregate(col("mean"), lit(0.0), (acc, x) => acc + x * x)))
    pooled
      .select(col("label"),
        posexplode(transform(col("mean"), x => round(x / col("nrm"), 6))))
      .select(col("label"), col("pos").as("dim"), col("col").as("pooled"))
      .orderBy("label", "dim")
  }

  /** qa2: [[cosineTopK]] expressed as pure SQL TEXT — the extension
    * surface proven end-to-end for a SQL-only user: the session
    * extension injects `array_dot` into the SQL function registry,
    * `FloatDotRewrite` collapses the cast+dot in the text onto the raw
    * float buffers (same plan q49 gets from the DataFrame API), and
    * `TopKRewrite` plans the textual row_number window onto the native
    * TopKPerGroup operator. Shares q46's oracle: three custom pieces
    * (registry, rewrite rule, physical operator) pinned by one
    * cross-engine hash. */
  def cosineTopKSql(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, dir, "embeddings").createOrReplaceTempView("graft_embeddings")
    spark.sql(
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(array_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                 CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
        |  FROM graft_embeddings),
        |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        round(array_dot(CAST(q.embedding AS ARRAY<DOUBLE>),
        |                        CAST(e.embedding AS ARRAY<DOUBLE>))
        |              / (q.nrm * e.nrm), 6) AS cosine
        |      FROM e q JOIN e ON q.vec_id < 100 AND q.vec_id <> e.vec_id)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        |FROM (SELECT s.*, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
  }

  /** qal: hard-negative mining — for each query vector, the most similar
    * vector with a DIFFERENT label (the contrastive-training pair that
    * actually teaches the boundary; an easy random negative carries no
    * gradient). Same broadcast + codegen-dot + bounded-heap top-k shape
    * as q46 with the label inequality folded into the join condition, so
    * candidates with the query's own label are dropped BEFORE scoring —
    * at 100 TB the filter-in-join is the difference between scoring the
    * corpus and scoring the other-label fraction of it. */
  def hardNegatives(spark: SparkSession, dir: String,
      nQueries: Long = 100): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .withColumn("norm", sqrt(cdot(col("v"), col("v"))))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"), col("norm").as("qn"))
    val sims = broadcast(q).join(e, col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("neighbor_id"), col("label").as("neg_label"),
        round(cdot(col("qv"), col("v")) / (col("qn") * col("norm")), 6)
          .as("cosine"))
    graft.plans.TopKPerGroup(sims, Seq("query_id"),
        Seq(("cosine", true), ("neighbor_id", false)), 1, "rank")
      .select("query_id", "query_label", "neighbor_id", "neg_label", "cosine")
      .orderBy("query_id")
  }

  /** qbj: SemDeDup-style semantic dedup decision table (Abbas et al. 2023,
    * arXiv:2303.09540 — cluster the embeddings, then look for duplicates
    * only WITHIN a cluster, the approximation that makes embedding-level
    * dedup tractable at corpus scale). One row per vector: its cell under
    * the PINNED stride-sample quantizer (the qbe/qbf discipline — no Lloyd
    * refinement, so the whole pipeline is DuckDB-replayable), its nearest
    * within-cell neighbor with the 6-dp cosine, and the SemDeDup keep-
    * lowest-id verdict `is_semdup = nn_cos >= tau AND nn_id < vec_id`.
    * Downstream keeps `NOT is_semdup` rows; emitting the full decision
    * table (not just the survivors) keeps the face non-empty — and the
    * flag column exact-checkable — on corpora with no semantic duplicates
    * at all.
    *
    * Scale shape: the nearest-neighbor search contracts to DISTINCT
    * vectors first (the q48 collapse — exact-duplicate vectors are
    * semantic duplicates at cosine exactly 1.0 by definition, so copies
    * resolve against their own group: the group minimum pairs with the
    * second-lowest id, every other copy with the minimum, no pairwise
    * work spent). Rep-level search is all-pairs WITHIN a cell only —
    * SemDeDup's own cost model: cells bound the quadratic term at
    * (N/nCells)² per cell, and nCells grows with the corpus (the fixture
    * pins 16; a 100 TB run sizes cells like [[autoBits]] sizes buckets).
    * At cluster scale the cell is the partition key, so each cell's scan
    * is partition-local. The vector-group shuffle keys on the raw
    * double[64] array (512 B); a deployment would key on a content hash
    * of the packed bytes — same discipline as q40's md5 — to move 8-byte
    * keys instead. */
  def semanticDedup(spark: SparkSession, dir: String, nCells: Int = 16,
      tau: Double = 0.9): DataFrame = {
    import spark.implicits._
    val e = normalizedCached(spark, dir)
    // distinct-vector collapse: one rep per vector value, copy counts, and
    // the second-lowest id (the group-min's own nearest neighbor)
    val vg = e.groupBy("v").agg(
      min(col("vec_id")).as("rep"), count(lit(1)).as("n_copies"))
    val second = e.select(col("vec_id"), col("v"))
      .join(vg.select(col("v"), col("rep")), Seq("v"))
      .where(col("vec_id") > col("rep"))
      .groupBy("rep").agg(min(col("vec_id")).as("second_id"))
    // pinned quantizer: iters = 0 degrades sphericalKMeans to the
    // deterministic stride-sample — the step that keeps the oracle exact
    val cents = sphericalKMeans(e, nCells, iters = 0)
    val flat = cents.flatten
    val reps = vg.select(col("rep")).join(
      e.withColumnRenamed("vec_id", "rep"), Seq("rep"))
    // assignment via one `nearest_cells` codegen pass — bit-identical to
    // the rank-1 window it replaces (same dot order, ties to the lower
    // cell), no nCells-wide explode, no window shuffle
    val assigned = SharedViews.transient(reps.withColumn("cell",
        element_at(call_function("nearest_cells",
          col("v"), col("norm"), lit(flat), lit(1)), 1))
      .select("rep", "v", "norm", "cell").cache())
    val lhs = assigned.select(col("rep"), col("v").as("av"),
      col("norm").as("an"), col("cell"))
    val rhs = assigned.select(col("rep").as("nn_rep"), col("v").as("bv"),
      col("norm").as("bn"), col("cell"))
    val pairs = lhs.join(rhs, Seq("cell")).where(col("rep") =!= col("nn_rep"))
      .select(col("rep"), col("nn_rep"),
        round(cdot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
          .as("nn_cos"))
    val nn = graft.plans.TopKPerGroup(pairs, Seq("rep"),
        Seq(("nn_cos", true), ("nn_rep", false)), 1, "r")
      .select("rep", "nn_rep", "nn_cos")
    val base = e.select(col("vec_id"), col("v"))
      .join(vg.select(col("v"), col("rep"), col("n_copies")), Seq("v"))
      .select(col("vec_id"), col("rep"), col("n_copies"))
    base
      .join(assigned.select(col("rep"), col("cell")), Seq("rep"))
      .join(second, Seq("rep"), "left")
      .join(nn, Seq("rep"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("n_copies") >= 2,
            when(col("vec_id") === col("rep"), col("second_id"))
              .otherwise(col("rep")))
          .otherwise(col("nn_rep")).as("nn_id"),
        when(col("n_copies") >= 2, lit(1.0)).otherwise(col("nn_cos"))
          .as("nn_cos"))
      .withColumn("is_semdup",
        coalesce(col("nn_cos") >= tau && col("nn_id") < col("vec_id"),
          lit(false)))
      .orderBy("vec_id")
  }
}
