package graft.operators

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import scala.collection.mutable

/** ScalaCheck properties (SURVEY.md §5): the algorithmic kernels checked
  * against independent naive implementations on generated inputs. These are
  * driver-side kernels (localApriori, union–find, modularity, Brandes via
  * CSR) — no SparkSession needed, so thousands of cases stay fast. */
object GraftProperties extends Properties("graft") {

  private val genBaskets: Gen[Array[Seq[Long]]] = for {
    n <- Gen.choose(1, 30)
    baskets <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.choose(1L, 12L)).map(_.distinct.sorted.toSeq))
  } yield baskets.toArray

  private def bruteFrequent(baskets: Array[Seq[Long]], minSup: Int): Set[Seq[Long]] = {
    val counts = mutable.Map.empty[Seq[Long], Int]
    baskets.foreach { b =>
      (1 to b.size).foreach(k => b.combinations(k).foreach(c =>
        counts.update(c, counts.getOrElse(c, 0) + 1)))
    }
    counts.filter(_._2 >= minSup).keySet.toSet
  }

  property("localApriori == brute-force frequent itemsets") =
    forAll(genBaskets, Gen.choose(1, 5)) { (baskets, minSup) =>
      Baskets.localApriori(baskets, minSup).toSet == bruteFrequent(baskets, minSup)
    }

  property("A-priori monotonicity: subsets of frequent sets are frequent") =
    forAll(genBaskets, Gen.choose(1, 4)) { (baskets, minSup) =>
      val freq = Baskets.localApriori(baskets, minSup).toSet
      freq.forall(is => is.size <= 1 ||
        is.combinations(is.size - 1).forall(freq.contains))
    }

  private val genEdges: Gen[Array[(Long, Long)]] = for {
    n <- Gen.choose(2, 9)
    pairs = (1L to n.toLong).flatMap(u => ((u + 1) to n.toLong).map(v => (u, v)))
    chosen <- Gen.someOf(pairs)
  } yield chosen.toArray

  /** Naive betweenness: enumerate EVERY shortest path of every ordered pair
    * via DFS over the BFS DAG; each path adds 1/σ(s,t) to its edges; halve
    * at the end (both directions). Exponential, fine at ≤9 vertices. */
  private def naiveBetweenness(edges: Array[(Long, Long)]): Map[(Long, Long), Double] = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val adj = vs.map(v => v -> edges.collect {
      case (a, b) if a == v => b
      case (a, b) if b == v => a
    }.toSeq).toMap
    val acc = mutable.Map.empty[(Long, Long), Double].withDefaultValue(0.0)
    for (s <- vs; t <- vs if s != t) {
      val dist = mutable.Map(s -> 0)
      val q = mutable.Queue(s)
      while (q.nonEmpty) {
        val v = q.dequeue()
        adj(v).foreach(w => if (!dist.contains(w)) { dist(w) = dist(v) + 1; q.enqueue(w) })
      }
      if (dist.contains(t)) {
        def paths(v: Long): Seq[List[Long]] =
          if (v == s) Seq(List(s))
          else adj(v).filter(p => dist.get(p).contains(dist(v) - 1))
            .flatMap(p => paths(p).map(v :: _))
        val all = paths(t)
        all.foreach(_.sliding(2).foreach { case Seq(a, b) =>
          val k = (math.min(a, b), math.max(a, b))
          acc(k) = acc(k) + 1.0 / all.size
        })
      }
    }
    acc.map { case (k, v) => (k, v / 2.0) }.toMap
  }

  property("CSR Brandes == naive all-shortest-paths betweenness") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        val g = GraphOps.buildCsr(edges)
        // index via g.edges, NOT the raw input: buildCsr canonicalizes and
        // dedupes, so only its own edge array is a valid eid space
        val acc = new Array[Double](g.edges.length)
        val n = g.verts.length
        val dist = Array.fill(n)(-1)
        val sigma = new Array[Double](n); val delta = new Array[Double](n)
        val order = new Array[Int](n)
        val sink = new GraphOps.DenseCredits(acc)
        (0 until n).foreach(s => GraphOps.brandesOneSource(g, s, sink, dist, sigma, delta, order))
        val naive = naiveBetweenness(edges)
        g.edges.indices.forall { e =>
          math.abs(acc(e) / 2.0 - naive.getOrElse(g.edges(e), 0.0)) < 1e-9
        }
      }
    }

  property("union-find components agree with BFS reachability") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val uf = GraphOps.unionFind(vs, edges)
        edges.forall { case (u, v) => uf(u) == uf(v) } &&
          vs.forall(v => uf(uf(v)) == uf(v)) &&
          vs.forall(v => uf(v) <= v) // component label is a minimum
      }
    }

  // ---- PQ kernels (interpreted eval path, same loops codegen emits) ----

  private val PqM = 4; private val PqK = 4; private val PqDim = 16
  private val genPqVec: Gen[Array[Double]] =
    Gen.listOfN(PqDim, Gen.choose(-1.0, 1.0)).map(_.toArray)
  private val genCodebooks: Gen[Array[Double]] =
    Gen.listOfN(PqK * PqDim, Gen.choose(-1.0, 1.0)).map(_.toArray)

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  property("pq_encode picks the argmin-L2 codeword per subspace") =
    forAll(genPqVec, genCodebooks) { (v, cb) =>
      val codes = graft.functions.PqEncode(Literal(null), cb, PqM, PqK)
        .nullSafeEval(new GenericArrayData(v)).asInstanceOf[ArrayData]
      val subdim = PqDim / PqM
      (0 until PqM).forall { mm =>
        def dist(c: Int) = (0 until subdim).map { i =>
          val d = v(mm * subdim + i) - cb((mm * PqK + c) * subdim + i); d * d
        }.sum
        val chosen = codes.getLong(mm).toInt
        (0 until PqK).forall(c => dist(chosen) <= dist(c))
      }
    }

  property("pq_adc == dot(query, reconstruction of the encoded vector)") =
    forAll(genPqVec, genPqVec, genCodebooks) { (v, qv, cb) =>
      val enc = graft.functions.PqEncode(Literal(null), cb, PqM, PqK)
      val adc = graft.functions.PqAdc(Literal(null), Literal(null), cb, PqM, PqK)
      val codes = enc.nullSafeEval(new GenericArrayData(v)).asInstanceOf[ArrayData]
      val got = adc.nullSafeEval(new GenericArrayData(qv), codes).asInstanceOf[Double]
      val subdim = PqDim / PqM
      val expect = (0 until PqM).map { mm =>
        val base = (mm * PqK + codes.getLong(mm).toInt) * subdim
        (0 until subdim).map(i => qv(mm * subdim + i) * cb(base + i)).sum
      }.sum
      math.abs(got - expect) < 1e-12
    }

  property("geomean aggregator: merge is associative/commutative, finish = exp(mean log)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0.001, 1000.0)),
        Gen.nonEmptyListOf(Gen.choose(0.001, 1000.0))) { (xs, ys) =>
      val gm = graft.functions.GeoMean
      def fold(zs: List[Double]) = zs.foldLeft(gm.zero)(gm.reduce)
      val split = gm.merge(fold(xs), fold(ys))
      val swapped = gm.merge(fold(ys), fold(xs))
      val whole = fold(xs ++ ys)
      math.abs(split._1 - whole._1) < 1e-9 && split._2 == whole._2 &&
        math.abs(split._1 - swapped._1) < 1e-9 &&
        math.abs(gm.finish(whole) -
          math.exp((xs ++ ys).map(math.log).sum / (xs.size + ys.size))) < 1e-9
    }

  property("hash-split fraction is in [0,1) and deterministic") =
    forAll(Gen.choose(0L, Long.MaxValue / 3)) { id =>
      // same arithmetic the Column expression and the DuckDB oracle run
      val frac = java.lang.Math.floorMod(id * 2654435761L, 4294967296L) / 4294967296.0
      frac >= 0.0 && frac < 1.0
    }

  property("oph signature: bin minima exact, empty bins densified from real minima") =
    forAll(Gen.nonEmptyListOf(Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))) { xs =>
      val k = 16
      val sig = graft.functions.OphSignature(Literal(null), k)
        .nullSafeEval(new GenericArrayData(xs.toArray)).asInstanceOf[ArrayData]
      val byBin = xs.groupBy(h => java.lang.Math.floorMod(h, k.toLong).toInt)
      val minima = byBin.values.map(_.min).toSet
      (0 until k).forall { j =>
        byBin.get(j) match {
          case Some(vs) => sig.getLong(j) == vs.min
          case None => minima.contains(sig.getLong(j)) // borrowed, never MaxValue
        }
      }
    }

  property("modularity closed form == pairwise formula, and |Q| bounded") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val comp = GraphOps.unionFind(vs, edges.take(edges.length / 2 + 1))
        val degree = vs.map(v => v -> edges.count(e => e._1 == v || e._2 == v)).toMap
        val m2 = 2.0 * edges.length
        val edgeSet = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
        val pairwise = (for {
          i <- vs; j <- vs if i < j && comp(i) == comp(j)
          a = if (edgeSet((i, j))) 1.0 else 0.0
        } yield a - degree(i) * degree(j) / m2).sum / m2
        val closed = GraphOps.modularityOf(comp, edges)
        math.abs(closed - pairwise) < 1e-9 && math.abs(closed) <= 1.0
      }
    }

  // ---- round-5 expression kernels (pure JVM statics — no session) ----

  private def bruteLevenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private val genWord: Gen[String] =
    Gen.listOf(Gen.oneOf('a', 'b', 'c', '0', '1')).map(_.mkString).map(_.take(12))

  property("edit1_dist == levenshtein capped at 1 (incl. near-miss edits)") =
    forAll(genWord, genWord, Gen.choose(0, 3)) { (a, base, nEdits) =>
      // exercise the boundary: b = base mutated 0..3 times
      val rnd = new scala.util.Random(base.hashCode ^ nEdits)
      var b = base
      (0 until nEdits).foreach { _ =>
        if (b.isEmpty) b = "a"
        else rnd.nextInt(3) match {
          case 0 => val i = rnd.nextInt(b.length) // substitute
            b = b.updated(i, ('a' + rnd.nextInt(3)).toChar)
          case 1 => val i = rnd.nextInt(b.length + 1) // insert
            b = b.take(i) + ('a' + rnd.nextInt(3)).toChar + b.drop(i)
          case 2 => val i = rnd.nextInt(b.length) // delete
            b = b.take(i) + b.drop(i + 1)
        }
      }
      import org.apache.spark.unsafe.types.UTF8String
      val got = graft.functions.EditDistanceLe1.dist(
        UTF8String.fromString(a), UTF8String.fromString(b))
      val lev = bruteLevenshtein(a, b)
      got == (if (lev <= 1) lev else -1)
    }

  private val genTokenHashes: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)).map(_.toArray)

  property("cdc_chunks: chunk count bounds and concatenation-stability") =
    forAll(genTokenHashes) { th =>
      import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
      val out = graft.functions.CdcChunks(
          org.apache.spark.sql.catalyst.expressions.Literal(1L), 7L, 4, 32)
        .nullSafeEval(new GenericArrayData(th)).asInstanceOf[ArrayData]
      val n = out.numElements()
      // ceil(len/32) <= chunks <= ceil(len/4)+... (every chunk 4..32 tokens
      // except the final remainder >= 1)
      (th.isEmpty && n == 0) || (!th.isEmpty &&
        n >= (th.length + 31) / 32 && n <= (th.length + 3) / 4 + 1)
    }

  property("band_hashes: keys equal iff the band's signature rows equal") =
    forAll(Gen.listOfN(8, Gen.choose(-100L, 100L)),
           Gen.listOfN(8, Gen.choose(-100L, 100L))) { (sa, sb) =>
      import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
      def bands(sig: Seq[Long]): Seq[Long] =
        graft.functions.BandHashes(
            org.apache.spark.sql.catalyst.expressions.Literal(1L), 4)
          .nullSafeEval(new GenericArrayData(sig.toArray))
          .asInstanceOf[ArrayData].toLongArray().toSeq
      val (ba, bb) = (bands(sa), bands(sb))
      (0 until 4).forall { j =>
        val rowsEqual = sa.slice(j * 2, j * 2 + 2) == sb.slice(j * 2, j * 2 + 2)
        // equal rows => equal keys (collisions can only ADD equality)
        !rowsEqual || ba(j) == bb(j)
      }
    }

  // ---- distributed skyline (q8v) ----

  private val genPoints: Gen[List[(Long, Double, Double)]] =
    Gen.listOf(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 20))).map(
      _.zipWithIndex.map { case ((q, p), i) => (i.toLong, q.toDouble, p.toDouble) })

  property("skyline sweep == brute-force Pareto frontier (max q, min p)") =
    forAll(genPoints) { pts =>
      val got = Skyline.sweep(pts.iterator).toSet
      val brute = pts.filter { a =>
        !pts.exists(b => b._2 >= a._2 && b._3 <= a._3 &&
          (b._2 > a._2 || b._3 < a._3))
      }.toSet
      got == brute
    }

  property("skyline: local sweeps then global sweep == one global sweep") =
    forAll(genPoints, Gen.choose(1, 4)) { (pts, nparts) =>
      val chunk = math.max(1, pts.size / nparts + 1)
      val local = pts.grouped(chunk).flatMap(g => Skyline.sweep(g.iterator))
      Skyline.sweep(local).toSet == Skyline.sweep(pts.iterator).toSet
    }

  // ---- driver graph tiers (q8z / q9e) vs brute-force references ----
  // (reuses the file's canonical genEdges: distinct u < v pairs)

  property("driverKCore == naive whole-graph peel") =
    forAll(genEdges, Gen.choose(1, 4)) { (edges, k) =>
      // naive reference: recompute all degrees, drop every vertex < k,
      // restrict edges, repeat until stable
      var es = edges.toSet
      var stable = false
      while (!stable) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        stable = next == es
        es = next
      }
      val want = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      GraphOps.driverKCore(edges, k) == want
    }

  property("driverBfs == brute shortest hop distances from min vertex") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        // brute reference: repeated relaxation over all edges (Bellman-Ford
        // with unit weights) from the minimum vertex id
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val src = verts.min
        val dist = scala.collection.mutable.Map(src -> 0)
        var changed = true
        while (changed) {
          changed = false
          for ((u, v) <- edges; (a, b) <- Seq((u, v), (v, u))) {
            dist.get(a).foreach { da =>
              if (dist.get(b).forall(_ > da + 1)) {
                dist(b) = da + 1; changed = true
              }
            }
          }
        }
        GraphOps.driverBfs(edges, maxIters = 100) == dist.toMap
      }
    }

  // ---- the driver tiers' InArcs build vs a plain sort-based reference ----

  /** Vertex ids that stress a hash table: small ids and 0, negatives, the
    * extremes, multiples of 2^32 and long runs of consecutive ids. */
  private val genIds: Gen[Array[Long]] = for {
    small <- Gen.listOf(Gen.choose(-5L, 5L))
    extremes <- Gen.someOf(Long.MinValue, Long.MaxValue, 0L, -1L, Long.MinValue + 1)
    shifted <- Gen.listOf(Gen.choose(-40L, 40L).map(_ << 32))
    runStart <- Gen.choose(-3000L, 3000L)
    runLength <- Gen.choose(0, 1500)
  } yield (small ++ extremes ++ shifted ++ (runStart until runStart + runLength)).toArray

  /** Up to 3,000 random arcs from `from` to `to`: duplicates included, and
    * self-loops where the two share ids. */
  private def genArcs(from: Array[Long], to: Array[Long]): Gen[GraphOps.EdgeCols] =
    Gen.choose(0, 3000).flatMap(n => Gen.listOfN(n,
      for (a <- Gen.oneOf(from.toSeq); b <- Gen.oneOf(to.toSeq)) yield (a, b)))
      .map(arcs => GraphOps.EdgeCols.of(arcs.toArray))

  private val genMultigraph: Gen[GraphOps.EdgeCols] =
    genIds.suchThat(_.nonEmpty).flatMap(ids => genArcs(ids, ids))

  /** The arcs from(k) → to(k) sorted by (dst, src) index with binary
    * searches into the sorted distinct ids: (offsets, src). */
  private def sortedArcs(from: Array[Long], to: Array[Long], srcIds: Array[Long],
      dstIds: Array[Long]): (Seq[Int], Seq[Int]) = {
    val arcs = from.indices.map(k => (java.util.Arrays.binarySearch(dstIds, to(k)),
      java.util.Arrays.binarySearch(srcIds, from(k)))).sorted
    val perDst = arcs.groupBy(_._1).view.mapValues(_.size).toMap
    val offsets = dstIds.indices.scanLeft(0)((at, j) => at + perDst.getOrElse(j, 0))
    (offsets, arcs.map(_._2))
  }

  private def sameArcs(g: GraphOps.InArcs, from: Array[Long], to: Array[Long]): Boolean = {
    val (srcIds, dstIds) = (from.distinct.sorted, to.distinct.sorted)
    val (offsets, src) = sortedArcs(from, to, srcIds, dstIds)
    g.srcIds.toSeq == srcIds.toSeq && g.dstIds.toSeq == dstIds.toSeq &&
      g.offsets.toSeq == offsets && g.src.toSeq == src
  }

  property("undirectedArcs == sorted (dst, src) arcs of both directions") =
    forAll(genMultigraph) { e =>
      sameArcs(GraphOps.undirectedArcs(e), e.u ++ e.v, e.v ++ e.u)
    }

  property("incidenceArcs == sorted (dst, src) arcs of a bipartite incidence") =
    forAll(genIds.suchThat(_.nonEmpty), genIds.suchThat(_.nonEmpty)) { (cs, ps) =>
      forAll(genArcs(cs, ps)) { inc =>
        val (toP, toC) = GraphOps.incidenceArcs(inc)
        sameArcs(toP, inc.u, inc.v) && sameArcs(toC, inc.v, inc.u)
      }
    }

  property("an endpoint missing from the vertex index fails the require") =
    forAll(genIds.suchThat(_.nonEmpty)) { ids =>
      val index = new GraphOps.VertexIndex(ids.tail.filter(_ != ids.head))
      scala.util.Try(index.indicesOf(Array(ids.head))).failed.toOption.exists {
        case e: IllegalArgumentException => e.getMessage.contains("missing from the vertex index")
        case _ => false
      }
    }
}
