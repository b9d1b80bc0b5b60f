package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSuite, Tables}

class DedupSpec extends AnyFunSuite with SparkSuite {

  test("exact dedup partitions all documents") {
    val df = Dedup.exact(spark, sfDir)
    val total = df.agg(sum("n_copies")).head.getLong(0)
    assert(total == Tables(spark, sfDir, "documents").count())
  }

  test("minhash pairs report true Jaccard (recomputed in driver)") {
    val pairs = Dedup.minhashPairs(spark, sfDir).limit(5).collect()
    assert(pairs.nonEmpty, "expected planted near-dups in fixture")
    val docs = Tables(spark, sfDir, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    def shingles(t: String): Set[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(3).map(_.mkString(" ")).toSet
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (shingles(docs(a)), shingles(docs(b)))
      val truth = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(truth - r.getDouble(2)) < 1e-4,
        s"pair ($a,$b): engine=${r.getDouble(2)} truth=$truth")
    }
  }

  test("dedup groups = driver union-find over the LSH pairs, keeper = min id") {
    val pairs = Dedup.minhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val vertices = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val truth = GraphOps.unionFind(vertices, pairs)
    val out = Dedup.dedupGroups(spark, sfDir).collect()
    assert(out.length == vertices.length, "one row per grouped doc")
    val sizes = truth.values.groupBy(identity).map { case (g, vs) => (g, vs.size.toLong) }
    out.foreach { r =>
      val (doc, gid) = (r.getLong(0), r.getLong(1))
      assert(truth(doc) == gid, s"doc $doc group")
      assert(r.getLong(2) == sizes(gid), s"doc $doc size")
      assert(r.getBoolean(3) == (doc == gid), s"doc $doc keeper flag")
    }
    assert(out.count(_.getBoolean(3)) == sizes.size, "exactly one keeper per group")
  }

  test("OPH pairs: exact precision, high recall vs the dense signature") {
    val dense = Dedup.minhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oph = Dedup.minhashPairsOph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision is exact by construction (same verify stage) — every pair
    // reported really has jaccard >= 0.5
    assert(oph.forall(_._3 >= 0.5))
    val recall = oph.map(p => (p._1, p._2)).toSet.intersect(dense).size.toDouble /
      math.max(dense.size, 1)
    info(s"OPH banding recall vs dense: $recall")
    assert(recall >= 0.8, s"OPH recall $recall below floor")
  }

  test("incremental pairs = full pairs restricted to the delta") {
    val deltaFrom = 400L
    val full = Dedup.minhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(p => p._1 >= deltaFrom || p._2 >= deltaFrom)
    val inc = Dedup.minhashPairsIncremental(spark, sfDir, deltaFrom).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.sameElements(expected))
    assert(inc.nonEmpty && inc.length < full.length,
      "delta should see some but not all pairs")
  }

  test("incremental broadcast gate: cap=0 forces the shuffled left-semi fallback") {
    // the gate is conf-sized (graft.dedup.broadcastCandCap, default 4M);
    // cap=0 means "no candidate set is driver-sized" — the touched-id
    // filter must lose its broadcast hint and the results must not move.
    val deltaFrom = 400L
    val default = Dedup.minhashPairsIncremental(spark, sfDir, deltaFrom)
    assert(default.queryExecution.analyzed.toString.contains("broadcast"),
      "default path should carry the broadcast hint on the touched-id filter")
    val defRows = default.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    spark.conf.set("graft.dedup.broadcastCandCap", "0")
    try {
      val fb = Dedup.minhashPairsIncremental(spark, sfDir, deltaFrom)
      assert(!fb.queryExecution.analyzed.toString.contains("broadcast"),
        "cap=0 must drop the broadcast hint (shuffled left-semi fallback)")
      val fbRows = fb.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(fbRows == defRows, "fallback path changed the result")
    } finally spark.conf.unset("graft.dedup.broadcastCandCap")
  }

  test("minhash candidate generation finds all high-jaccard pairs (recall)") {
    // brute-force exact jaccard over shingle sets for pairs >= 0.5
    val sh = Tables(spark, sfDir, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").toLowerCase.split("\\s+").filter(_.nonEmpty)
          .sliding(3).map(_.mkString(" ")).toSet))
    val truth = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
    } yield (a, b)).toSet
    val got = Dedup.minhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(got),
      s"missed ${truth.diff(got).size} of ${truth.size} true pairs")
  }

  test("codegen'd minhash_sigs equals the aggregate+least formulation bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val sh = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"),
        sort_array(array_distinct(transform(
          sequence(lit(0), greatest(size(split(lower(col("text")), "\\s+")) - 3, lit(0))),
          i => xxhash64(concat_ws(" ", slice(split(lower(col("text")), "\\s+"), i + 1, lit(3))))))).as("sh"))
    def collectSigs(c: org.apache.spark.sql.Column) =
      sh.select(col("doc_id"), c.as("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = collectSigs(call_function("minhash_sigs", col("sh"), lit(128)))
    val legacy = collectSigs(Dedup.minhashSigColLambda(col("sh")))
    assert(native.nonEmpty && native.keySet == legacy.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == legacy(id), s"doc $id signature mismatch") }
  }

  test("codegen'd simhash64 equals the nested aggregate formulation bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val th = Tables(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"),
        expr("transform(filter(split(lower(text), '\\\\s+'), t -> length(t) > 0), t -> xxhash64(t))").as("th"))
    val native = th.select(col("doc_id"), call_function("simhash64", col("th")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val legacy = th.select(col("doc_id"), expr(
        """aggregate(
          |  aggregate(th, array_repeat(0L, 64),
          |    (acc, h) -> zip_with(acc,
          |      transform(sequence(0, 63), j -> if((shiftright(h, j) & 1) = 1, 1L, -1L)),
          |      (a, b) -> a + b)),
          |  named_struct('j', 0, 'fp', 0L),
          |  (s, cnt) -> named_struct('j', s.j + 1,
          |    'fp', if(cnt > 0, s.fp | shiftleft(1L, s.j), s.fp)),
          |  s -> s.fp)""".stripMargin).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty && native == legacy)
  }

  test("simhash pairs are within the claimed hamming distance") {
    val fp = Dedup.simhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    Dedup.simhashPairs(spark, sfDir).collect().foreach { r =>
      val h = java.lang.Long.bitCount(fp(r.getLong(0)) ^ fp(r.getLong(1)))
      assert(h == r.getLong(2) && h <= 3)
    }
  }

  test("codegen'd md5_quad64 equals the conv-based formulation bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val toks = Tables(spark, sfDir, "documents").limit(100)
      .select(col("doc_id"), explode(Dedup.tokensCol(col("text"))).as("t"))
    val rows = toks.select(Dedup.portableHash64(col("t")).as("fast"),
        Dedup.portableHash64Lambda(col("t")).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("portable token hash matches DuckDB's md5_number_lower on knowns") {
    // md5('hello') = 5d41402abc4b2a76b9719d911017c592 → bytes 9..16
    // little-endian = 0x92c5171091 9d71b9; pin two values so a digest-
    // slicing regression fails loudly (the q43/q44 oracles depend on it)
    val got = spark.range(1)
      .select(Dedup.portableHash64(org.apache.spark.sql.functions.lit("hello")),
        Dedup.portableHash64(org.apache.spark.sql.functions.lit("")))
      .head
    assert(got.getLong(0) == java.lang.Long.parseUnsignedLong("92c51710919d71b9", 16))
    // md5('') = d41d8cd98f00b204e9800998ecf8427e → LE bytes 9..16
    assert(got.getLong(1) == java.lang.Long.parseUnsignedLong("7e42f8ec980980e9", 16))
  }

  test("no fixture pair falls in the banding-lossy Jaccard band [0.5, 0.85)") {
    // The q42/q4b/q4c/q56/q8n oracles assert engine pairs == the exact
    // J >= 0.5 set. That equality relies on the 32x4 banding having
    // effectively-certain recall, which holds only for J >= ~0.85 (at
    // J = 0.5 a pair is missed with ~13% probability). Recall == 1.0 on
    // today's fixtures is not enough: a fixture regen could plant a pair
    // inside the lossy band and fail the gate with a confusing
    // engine-vs-oracle mismatch — so pin the precondition itself, per
    // fixture scale the gates use, with a diagnosable message.
    def shingles(t: String): Set[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(3).map(_.mkString(" ")).toSet
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val sh = Tables(spark, dir, "documents").collect()
        .map(r => (r.getAs[Long]("doc_id"), shingles(r.getAs[String]("text"))))
      val lossy = for {
        (a, sa) <- sh; (b, sb) <- sh if a < b
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= 0.5 && j < 0.85
      } yield (a, b, j)
      assert(lossy.isEmpty,
        s"$dir: pairs in the banding-lossy band [0.5, 0.85) — the exact-" +
          s"pair oracles for q42/q4b/q4c/q56 are no longer sound: " +
          lossy.take(5).mkString(", "))
    }
  }

  test("ngram jaccard top-k is sorted and within [0,1]") {
    val rows = Dedup.ngramJaccardTopK(spark, sfDir).collect()
    val js = rows.map(_.getDouble(2))
    assert(js.forall(j => j >= 0 && j <= 1))
    assert(js.zip(js.tail).forall { case (a, b) => a >= b })
  }

  test("clearAll drops the cached relations and results rebuild identically") {
    val before = Dedup.minhashSignatures(spark, sfDir).collect().toSeq
    graft.SharedViews.clearAll()
    val after = Dedup.minhashSignatures(spark, sfDir).collect().toSeq
    assert(before == after)
  }

  test("group-aware split never puts a near-dup pair across the wall") {
    val rows = Sampling.groupAwareSplit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val split = rows.map(r => (r._1, r._3)).toMap
    // every LSH near-dup pair lands in ONE split — the guarantee q57's
    // independent per-doc hashing cannot give
    val pairs = Dedup.minhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dups $a,$b straddle splits")
    }
    // group members share the split by construction too
    rows.groupBy(_._2).foreach { case (g, members) =>
      assert(members.map(_._3).distinct.length == 1, s"group $g splits")
    }
    // ungrouped docs key on their own id — identical arithmetic to q57,
    // so their assignment matches the plain hash split
    val grouped = rows.filter(r => r._2 != r._1 ||
      rows.exists(o => o._2 == r._1 && o._1 != r._1)).map(_._1).toSet
    val plain = Sampling.trainValTest(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    rows.filterNot(r => grouped(r._1)).foreach { r =>
      assert(r._3 == plain(r._1), s"ungrouped doc ${r._1} diverges from q57")
    }
    // and the split is a partition of the corpus
    assert(rows.length == Tables(spark, sfDir, "documents").count())
  }
}
