package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The duplicate-collapse branches under CI: the shipped fixtures are
  * near-unique (gmax ≤ 2), so the sf0.001 suite exercises only the
  * skip-collapse path of [[Dedup.contentGroups]]' adaptive probe — while
  * the collapse path is exactly what a real dedup corpus (and the sf1/sf10
  * scale runs) hits. This spec stages a DUPLICATE-HEAVY synthetic corpus
  * (40 distinct 60-token texts × 8 exact copies, plus one near-dup variant
  * per early text at J ≈ 0.9 — above the banding-lossy band) and pins
  * every collapsed face against a driver-side brute-force recompute. */
class DupHeavySpec extends AnyFunSuite with SparkSuite {

  private val copies = 8 // > Dedup's CollapseMaxGroup of 4 ⇒ collapse runs
  private val nTexts = 40
  private val perText = copies + 1 // id stride (slot `copies` = variant)

  private def words(seed0: Long, n: Int): IndexedSeq[String] = {
    var s = seed0
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 33 }
    (0 until n).map(_ => s"w${next() % 50}")
  }

  /** One staged corpus per JVM: docs t*9+c (c<8) are exact copies of text
    * t; docs t*9+8 for t < 10 replace one middle token (J ≈ 0.9). */
  private lazy val dupDir: String = {
    val dir = Files.createTempDirectory("dupheavy").toString
    val rows = (0 until nTexts).flatMap { t =>
      val base = words(1000 + t, 60)
      val copyRows = (0 until copies).map { c =>
        (t.toLong * perText + c, base.mkString(" "))
      }
      val variantRows =
        if (t < 10)
          Seq((t.toLong * perText + copies,
            base.updated(30, "varianttoken").mkString(" ")))
        else Seq.empty
      copyRows ++ variantRows
    }
    import spark.implicits._
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def shingles(t: String): Set[String] =
    t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet

  private lazy val docTexts: Map[Long, String] = {
    val df = graft.Tables(spark, dupDir, "documents").collect()
    df.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
  }

  private lazy val brutePairs: Map[(Long, Long), Double] = (for {
    (a, ta) <- docTexts.toSeq; (b, tb) <- docTexts.toSeq if a < b
    sa = shingles(ta); sb = shingles(tb)
    j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
  } yield (a, b) -> math.rint(j * 1e6) / 1e6).toMap

  test("fixture shape: heavy duplication, near-dups above the lossy band") {
    val byText = docTexts.values.groupBy(identity).map(_._2.size)
    assert(byText.max == copies, "collapse branch requires gmax > 4")
    val nonExact = brutePairs.values.filter(_ < 1.0)
    assert(nonExact.nonEmpty && nonExact.forall(_ >= 0.85),
      s"planted near-dups must sit in the banding-certain band: " +
        s"${nonExact.toSeq.sorted.take(3)}")
  }

  test("collapsed minhash pairs equal brute-force exact pairs (both directions)") {
    val got = Dedup.minhashPairs(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == brutePairs.keySet,
      s"missing ${(brutePairs.keySet -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- brutePairs.keySet).take(3)}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - brutePairs(k)) < 1e-6, s"$k: $j vs ${brutePairs(k)}")
    }
  }

  test("collapsed incremental face equals the full set restricted to the delta") {
    val deltaFrom = 200L
    val full = Dedup.minhashPairs(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(p => p._1 >= deltaFrom || p._2 >= deltaFrom)
    val inc = Dedup.minhashPairsIncremental(spark, dupDir, deltaFrom).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.nonEmpty && inc.length < full.length)
    assert(inc.sameElements(expected))
  }

  test("contracted dedup groups equal driver union-find over the pairs") {
    val pairs = brutePairs.keySet.toArray
    val vertices = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val truth = GraphOps.unionFind(vertices, pairs)
    val sizes = truth.values.groupBy(identity).map { case (g, vs) => (g, vs.size.toLong) }
    val out = Dedup.dedupGroups(spark, dupDir).collect()
    assert(out.length == vertices.length, "one row per grouped doc")
    out.foreach { r =>
      val (doc, gid) = (r.getLong(0), r.getLong(1))
      assert(truth(doc) == gid, s"doc $doc group")
      assert(r.getLong(2) == sizes(gid), s"doc $doc size")
      assert(r.getBoolean(3) == (doc == gid), s"doc $doc keeper")
    }
  }

  test("collapsed simhash pairs equal brute hamming over the fingerprints") {
    val fp = Dedup.simhash(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val brute = (for {
      (a, fa) <- fp.toSeq; (b, fb) <- fp.toSeq if a < b
      h = java.lang.Long.bitCount(fa ^ fb).toLong if h <= 3
    } yield (a, b) -> h).toMap
    val got = Dedup.simhashPairs(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == brute,
      s"missing ${(brute.keySet -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- brute.keySet).take(3)}")
    assert(brute.nonEmpty, "expected hamming-close pairs on this corpus")
  }

  test("collapsed prefix-Jaccard join equals brute pairs (AdaptJoin window+count)") {
    val got = Dedup.prefixJaccardJoin(spark, dupDir).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(got.keySet == brutePairs.keySet,
      s"missing ${(brutePairs.keySet -- got.keySet).take(5)}, " +
        s"extra ${(got.keySet -- brutePairs.keySet).take(5)}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - brutePairs(k)) < 1e-6, s"$k: $j vs ${brutePairs(k)}")
    }
  }

  test("collapsed containment join equals brute directed pairs") {
    val want = (for {
      (a, ta) <- docTexts.toSeq; (b, tb) <- docTexts.toSeq if a != b
      sa = shingles(ta); sb = shingles(tb)
      c = sa.intersect(sb).size.toDouble / sa.size
      cr = math.rint(c * 1e6) / 1e6 if cr >= 0.8
    } yield (a, b) -> cr).toMap
    val got = Dedup.containmentJoin(spark, dupDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Double]("containment")).toMap
    assert(got.keySet == want.keySet,
      s"missing ${(want.keySet -- got.keySet).take(5)}, " +
        s"extra ${(got.keySet -- want.keySet).take(5)}")
    want.foreach { case (k, c) =>
      assert(math.abs(got(k) - c) < 1e-6, s"$k: ${got(k)} vs $c")
    }
  }

  test("duplicate-heavy caches clear and rebuild identically") {
    val before = Dedup.minhashPairs(spark, dupDir).collect().toSeq
    graft.SharedViews.clearAll()
    val after = Dedup.minhashPairs(spark, dupDir).collect().toSeq
    assert(before == after)
  }
}
