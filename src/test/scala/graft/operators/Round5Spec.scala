package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSuite, Tables}

/** Round-5 surface: content-defined chunking (expression semantics +
  * shift-robustness), repeated n-gram spans, unigram LM scoring, k-means
  * cluster profile, and the rewritten fuzzy join's completeness. */
class Round5Spec extends AnyFunSuite with SparkSuite {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  graft.functions.GraftFunctions.register(spark)

  /** Scala reference chunker — the independent witness for CdcChunks. */
  private def refChunks(th: Seq[Long], mask: Long, minLen: Int,
      maxLen: Int): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var fold = 42L; var len = 0
    th.foreach { h =>
      fold = XXH64.hashLong(h, fold); len += 1
      if ((len >= minLen && (h & mask) == 0L) || len == maxLen) {
        out += fold; fold = 42L; len = 0
      }
    }
    if (len > 0) out += fold
    out.toSeq
  }

  private def sparkChunks(th: Seq[Long], mask: Long, minLen: Int,
      maxLen: Int): Seq[Long] = {
    import spark.implicits._
    Seq(th).toDF("th")
      .select(call_function("cdc_chunks", col("th"),
        lit(mask), lit(minLen), lit(maxLen)).as("c"))
      .head.getSeq[Long](0)
  }

  test("cdc_chunks matches the reference chunker (codegen path)") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val th = Seq.fill(rnd.nextInt(120))(rnd.nextLong())
      assert(sparkChunks(th, 7L, 4, 32) == refChunks(th, 7L, 4, 32))
    }
    assert(sparkChunks(Seq.empty, 7L, 4, 32).isEmpty)
    // every token a boundary candidate, minLen forces 1-token chunks
    val all = Seq.fill(10)(0L)
    assert(sparkChunks(all, 0L, 1, 32).length == 10)
  }

  test("cdc_boundaries agrees with cdc_chunks on every boundary") {
    import spark.implicits._
    def refBounds(th: Seq[Long], mask: Long, minLen: Int,
        maxLen: Int): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var len = 0
      th.zipWithIndex.foreach { case (h, k) =>
        len += 1
        if ((len >= minLen && (h & mask) == 0L) || len == maxLen) {
          out += (k + 1); len = 0
        }
      }
      if (len > 0) out += th.length
      out.toSeq
    }
    val rnd = new scala.util.Random(13)
    (0 until 20).foreach { _ =>
      val th = Seq.fill(rnd.nextInt(120))(rnd.nextLong())
      val got = Seq(th).toDF("th")
        .select(call_function("cdc_boundaries", col("th"),
          lit(7L), lit(4), lit(32)).as("b"))
        .head.getSeq[Int](0)
      assert(got == refBounds(th, 7L, 4, 32))
      // same rule as cdc_chunks: identical chunk COUNT on every stream
      assert(got.length == refChunks(th, 7L, 4, 32).length)
    }
  }

  test("cdc boundaries re-synchronize after a prefix insertion") {
    val rnd = new scala.util.Random(11)
    val doc = Seq.fill(400)(rnd.nextLong())
    val edited = Seq.fill(3)(rnd.nextLong()) ++ doc
    val a = refChunks(doc, 7L, 4, 32).toSet
    val b = refChunks(edited, 7L, 4, 32).toSet
    // fixed-size chunking would share ~nothing; CDC shares all chunks
    // after the first re-synchronized boundary
    val shared = a.intersect(b).size.toDouble / a.size
    assert(shared > 0.8, s"CDC shift-robustness: only ${shared * 100}% shared")
  }

  test("cdcChunkStats: chunk counts bound by token count and maxLen") {
    val rows = TextOps.cdcChunkStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val toks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(Dedup.tokensCol(col("text"))).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    rows.foreach { r =>
      val (id, nChunks) = (r.getLong(0), r.getLong(1))
      assert(nChunks >= 1 && nChunks <= toks(id), s"doc $id")
      assert(r.getLong(2) <= nChunks) // n_shared <= n_chunks
    }
  }

  test("repeatedNgrams equals a driver-side brute-force recompute") {
    val n = 8
    val texts = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wins = texts.map { case (id, t) =>
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    val docFreq = wins.values.flatten.toSeq.groupBy(identity).map {
      case (w, occ) => w -> occ.size // each doc contributes its window once
    }
    val expect = wins.map { case (id, ws) =>
      val rep = ws.count(w => docFreq(w) > 1)
      (id, (ws.size.toLong, rep.toLong,
        BigDecimal(rep.toDouble / ws.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = TextOps.repeatedNgrams(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
  }

  test("unigramLogProb: probabilities are log-negative and bounded") {
    val rows = TextOps.unigramLogProb(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lp = r.getDouble(2)
      assert(lp < 0.0, "log10 p of any token < 0")
      assert(lp > -12.0, "bounded below by log10(1/total)")
    }
  }

  test("kmeansClusterProfile: partition of the corpus, coherent cells") {
    val prof = Similarity.kmeansClusterProfile(spark, sfDir).collect()
    val n = Tables(spark, sfDir, "embeddings").count()
    assert(prof.map(_.getLong(1)).sum == n, "members partition the corpus")
    prof.foreach { r =>
      assert(r.getDouble(2) >= r.getDouble(3), "avg_cos >= min_cos")
      assert(r.getDouble(2) <= 1.0001)
    }
  }

  test("shingle_hashes: sorted, distinct, and set-isomorphic to raw windows") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz")
    val docs = (0 until 30).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))))
    val got = docs.toDF("id", "tokens")
      .select(col("id"), Dedup.shingleHashes(col("tokens"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def rawWindows(t: Seq[String]): Set[Seq[String]] =
      if (t.isEmpty) Set.empty
      else (0 to math.max(t.length - 3, 0)).map(i => t.slice(i, i + 3)).toSet
    docs.foreach { case (id, toks) =>
      val sh = got(id)
      assert(sh == sh.sorted && sh.distinct == sh, s"doc $id sorted+distinct")
      val raw = rawWindows(toks)
      assert(sh.size == raw.size, s"doc $id: ${sh.size} hashes vs ${raw.size} windows")
    }
    // cross-doc: intersect counts through the expression match raw-window
    // intersect counts (the property every Jaccard consumer relies on)
    graft.functions.GraftFunctions.register(spark)
    val inter = docs.toDF("id", "tokens")
      .select(col("id"), Dedup.shingleHashes(col("tokens"), 3).as("sh"))
    val cnts = inter.as("a").join(inter.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        call_function("sorted_intersect_count", col("a.sh"), col("b.sh")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val rawMap = docs.toMap
    cnts.foreach { case ((a, b), c) =>
      val expect = rawWindows(rawMap(a)).intersect(rawWindows(rawMap(b))).size
      assert(c == expect, s"pair ($a,$b): $c vs raw $expect")
    }
  }

  test("fuzzy join finds exactly the brute-force distance-1 pairs") {
    val names = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev1(a: String, b: String): Boolean = {
      if (math.abs(a.length - b.length) > 1) false
      else if (a == b) false
      else if (a.length == b.length) a.zip(b).count { case (x, y) => x != y } == 1
      else {
        val (s, l) = if (a.length < b.length) (a, b) else (b, a)
        (0 to s.length).exists(i => s.take(i) == l.take(i) &&
          s.drop(i) == l.drop(i + 1))
      }
    }
    val brute = (for {
      (ia, na) <- names; (ib, nb) <- names
      if ia < ib && lev1(na, nb)
    } yield (ia, ib)).toSet
    val got = FuzzyJoin.customerNamePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("weighted sample equals the driver-side A-Res recompute") {
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def weight(src: String) =
      if (src == "src0") 4.0 else if (src == "src1") 2.0 else 1.0
    def key(id: Long, w: Double) = {
      val u = java.lang.Math.floorMod(id * 2654435761L, 4294967296L) / 4294967296.0
      BigDecimal(math.pow(u, 1.0 / w))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = docs.map { case (id, src) => (id, src, key(id, weight(src))) }
      .sortBy { case (id, _, k) => (-k, id) }.take(100)
      .map { case (id, src, k) => (id, src, k) }
    val got = Sampling.weightedSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    assert(got.sameElements(expect))
    // composition: the weighted sources are over-represented vs uniform
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    val uniform = 100.0 / docs.map(_._2).distinct.length
    assert(bySrc.getOrElse("src0", 0) > uniform,
      s"src0 ${bySrc.get("src0")} should exceed uniform $uniform")
  }

  test("gapfill emits a dense hourly axis with carry-forward") {
    val rows = Events.hourlyGapfill(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      val hours = rs.map(_._2).sorted
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600L },
        s"$tpe axis must be dense")
      // first row of each type is an observed hour (span starts there)
      assert(rs.minBy(_._2)._3 > 0, s"$tpe span starts at an observed hour")
      // carry-forward: every row has a filled value once the span started
      assert(rs.forall(_._4.isDefined), s"$tpe filled_avg never null")
    }
    assert(rows.exists(_._3 == 0L), "fixture should contain gap hours")
  }

  test("dedup survivors keep the max-quality member of each group") {
    val rows = Dedup.dedupSurvivors(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (gid, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"group $gid: exactly one survivor")
      val bestQ = members.map(_._3).max
      assert(keepers.head._3 == bestQ, s"group $gid survivor quality")
      val tied = members.filter(_._3 == bestQ).map(_._1).min
      assert(keepers.head._1 == tied, s"group $gid ties to min doc_id")
    }
  }
}
