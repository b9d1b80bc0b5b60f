package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSuite, Tables}

/** Round-5 second batch: SCD2 interval algebra, entity-resolution
  * transitivity and the Morton key's bit math.
  */
class Round5bSpec extends AnyFunSuite with SparkSuite {

  test("scd2 intervals are contiguous, exhaustive and close exactly once") {
    val h = Events.scd2History(spark, sfDir).cache()
    val rows = h.collect()
    // every event is in exactly one version
    val nEvents = Tables(spark, sfDir, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents)
    // per user: versions 1..k, exactly one open (current) interval, and
    // each interval's valid_to equals the next interval's valid_from
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("version"))
      assert(sorted.map(_.getAs[Int]("version")).toSeq == (1 to rs.length),
        s"user $u: version numbering has gaps")
      assert(rs.count(_.getAs[Boolean]("is_current")) == 1,
        s"user $u: not exactly one current row")
      assert(sorted.last.getAs[Boolean]("is_current"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us"),
            s"user $u: interval gap between v${a.getAs[Int]("version")} and next")
          // a run ends exactly where the state changes
          assert(a.getAs[String]("state") != b.getAs[String]("state"),
            s"user $u: adjacent versions share a state (runs not maximal)")
        case _ => ()
      }
    }
    h.unpersist()
  }

  test("entity labels are edge-consistent and canonical (min member id)") {
    val ents = FuzzyJoin.entities(spark, sfDir).cache()
    val label = ents.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("entity")).toMap
    // both endpoints of every match edge resolve to the same entity
    val edges = FuzzyJoin.customerNamePairs(spark, sfDir).collect()
    edges.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(label(a) == label(b), s"edge ($a,$b) splits entities")
    }
    // the label IS a member of its own cluster, and its minimum
    label.groupBy(_._2).foreach { case (ent, members) =>
      assert(members.keys.min == ent, s"entity $ent is not the min member")
    }
    // cluster sizes agree with the label multiset
    val sizes = ents.collect()
      .map(r => r.getAs[Long]("entity") -> r.getAs[Long]("n_members"))
    val byLabel = label.values.groupBy(identity).view.mapValues(_.size).toMap
    sizes.foreach { case (e, n) => assert(byLabel(e).toLong == n) }
    ents.unpersist()
  }

  test("entity pair-budget cap: no-op on clean data, engages when tiny") {
    // fixture buckets are all far below the default cap, so the guarded
    // face must reproduce q9q exactly (this is what makes its mirrored
    // oracle sound) …
    val uncapped = FuzzyJoin.entities(spark, sfDir).collect().toSeq
    val capped = FuzzyJoin.entitiesCapped(spark, sfDir).collect().toSeq
    assert(capped == uncapped, "default cap must not fire on the fixture")
    // … and a cap of 0 drops every variant bucket: only exact-duplicate
    // names (the sameName leg, which bypasses blocking) may still link,
    // so no cluster can exceed the biggest same-name family
    val strangled = FuzzyJoin.entitiesCapped(spark, sfDir, maxBucket = 0)
    val maxCluster = strangled.agg(max(col("n_members"))).head.getLong(0)
    val maxSameName = Tables(spark, sfDir, "customer")
      .groupBy("c_name").count().agg(max("count")).head.getLong(0)
    assert(maxCluster <= maxSameName,
      s"cap=0 still linked distinct names (max cluster $maxCluster)")
  }

  test("morton key interleaves bits (known values + order locality)") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (0xFFFFL, 0L),
        (12345L, 54321L))
      .toDF("a", "b")
      .select(col("a"), col("b"),
        ScaleOps.zorderKey(col("a"), col("b")).as("z"))
    val z = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(z((0L, 0L)) == 0L)
    assert(z((1L, 0L)) == 1L)      // a occupies even bit positions
    assert(z((0L, 1L)) == 2L)      // b occupies odd bit positions
    // 3 = 0b11, 5 = 0b101 → interleave(a=11, b=101) = b2 a2 b1 a1 b0 a0
    //   = 1 0 0 1 1 1 = 0b100111 = 39
    assert(z((3L, 5L)) == 39L)
    assert(z((0xFFFFL, 0L)) == 0x55555555L) // 16 ones spread to even bits
    // independent reference implementation for an arbitrary pair
    def ref(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i & 1L) << (2 * i)) | ((b >> i & 1L) << (2 * i + 1))
      }
    assert(z((12345L, 54321L)) == ref(12345L, 54321L))
  }

  test("distributed gramian equals the single-machine outer-product sum") {
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val d = vecs.head.length
    val ref = new Array[Double](d * d)
    vecs.foreach { v =>
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { ref(i * d + j) += v(i) * v(j); j += 1 }
        i += 1
      }
    }
    val got = Linalg.gramian(spark, sfDir).collect()
    assert(got.length == d * (d + 1) / 2)
    got.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      assert(math.abs(r.getAs[Double]("g") - ref(i * d + j)) < 1e-5,
        s"gramian($i,$j) mismatch")
    }
    // partial/merge path: repartitioning must not change the aggregate
    val re = Tables(spark, sfDir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .repartition(7)
      .agg(udaf(graft.functions.GramSum).apply(col("v")))
      .head.getSeq[Double](0)
    re.zipWithIndex.foreach { case (x, k) =>
      assert(math.abs(x - ref(k)) < 1e-8, s"merge path diverges at $k")
    }
  }

  test("power-iteration direction is unit-norm and near-invariant under G") {
    val load = Linalg.pcaPower(spark, sfDir).collect()
      .map(r => r.getAs[Int]("dim") -> r.getAs[Double]("loading"))
      .sortBy(_._1).map(_._2)
    assert(math.abs(load.map(x => x * x).sum - 1.0) < 1e-4)
    // after 10 rounds G·v should be nearly parallel to v (cosine ≈ 1):
    // the Rayleigh-quotient residual bounds convergence independent of
    // the (unknown) eigengap magnitude on fixture data
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val d = load.length
    val gv = new Array[Double](d)
    vecs.foreach { v =>
      val proj = v.indices.map(i => v(i) * load(i)).sum
      var i = 0
      while (i < d) { gv(i) += proj * v(i); i += 1 }
    }
    val nGv = math.sqrt(gv.map(x => x * x).sum)
    val cos = gv.indices.map(i => gv(i) * load(i)).sum / nGv
    assert(cos > 0.99, s"G·v not aligned with v: cos=$cos")
  }

  test("negative sampling never draws the anchor and is rerun-stable") {
    val p1 = Sampling.negativePairs(spark, sfDir).collect()
    val nDocs = Tables(spark, sfDir, "documents").count()
    assert(p1.length == nDocs * 4)
    p1.foreach { r =>
      assert(r.getAs[Long]("neg_id") != r.getAs[Long]("doc_id"),
        s"doc ${r.getAs[Long]("doc_id")} drew itself")
      assert(r.getAs[Long]("neg_id") >= 0 && r.getAs[Long]("neg_id") < nDocs)
    }
    val p2 = Sampling.negativePairs(spark, sfDir).collect()
    assert(p1.map(_.toString).sameElements(p2.map(_.toString)), "not deterministic")
  }

  test("leave-one-out split holds out exactly the last event per user") {
    val s = Sampling.leaveOneOutSplit(spark, sfDir).cache()
    val perUser = s.groupBy("user_id")
      .agg(sum(when(col("split") === "eval", 1).otherwise(0)).as("nEval"))
      .collect()
    perUser.foreach(r => assert(r.getAs[Long]("nEval") == 1L,
      s"user ${r.get(0)}: ${r.get(1)} eval rows"))
    // the eval event is the max-ts one (event_id tie-break)
    val lastByUser = Tables(spark, sfDir, "events")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") === 1)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    s.where(col("split") === "eval").collect().foreach { r =>
      assert(lastByUser((r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))))
    }
    s.unpersist()
  }
}
