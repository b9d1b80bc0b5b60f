package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSuite, Tables}

class TextEventsSpec extends AnyFunSuite with SparkSuite {

  test("text stats match a driver-side recomputation for sample docs") {
    val stats = Tables(spark, sfDir, "documents").limit(5).collect().map { r =>
      val tokens = r.getAs[String]("text").toLowerCase.split("\\s+").filter(_.nonEmpty)
      (r.getAs[Long]("doc_id"), tokens.length, tokens.distinct.length)
    }
    val engine = TextOps.textStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(2), r.getInt(3)))).toMap
    stats.foreach { case (id, nTok, nUniq) =>
      assert(engine(id) == ((nTok, nUniq)), s"doc $id")
    }
  }

  test("quality score stays in [0, 1]") {
    val mm = TextOps.textStats(spark, sfDir).agg(min("quality"), max("quality")).head
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("token top-k total equals corpus token occurrences for covered tokens") {
    val top = TextOps.tokenTopK(spark, sfDir, 1000).collect()
    val total = top.map(_.getLong(1)).sum
    val expected = Tables(spark, sfDir, "documents").collect()
      .map(_.getAs[String]("text").toLowerCase.split("\\s+").count(_.nonEmpty)).sum
    assert(total == expected) // vocabulary is tiny; 1000 covers everything
  }

  test("BPE pre-tokenizer conserves word occurrences and splits on space prefix") {
    val all = TextOps.bpeTokenTopK(spark, sfDir, k = 100000).collect()
    // every word of the space-separated fixture becomes exactly one token
    val expected = Tables(spark, sfDir, "documents").collect()
      .map(_.getAs[String]("text").toLowerCase.split("\\s+").count(_.nonEmpty)).sum
    assert(all.map(_.getLong(1)).sum == expected)
    // document-initial vs mid-text occurrences are distinct vocab entries
    val toks = all.map(_.getString(0)).toSet
    assert(toks.exists(t => t.startsWith(" ") && toks.contains(t.drop(1))),
      "expected both ' w' and 'w' forms in the vocabulary")
  }

  test("lang id emits one deterministic prediction per doc") {
    val a = TextOps.langId(spark, sfDir).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = TextOps.langId(spark, sfDir).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b))
    assert(a.length == Tables(spark, sfDir, "documents").count())
  }

  test("fingerprints are deterministic and non-degenerate") {
    val a = TextOps.fingerprint(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(2)))
    val b = TextOps.fingerprint(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(a.sameElements(b))
    assert(a.map(_._2).distinct.length > a.length / 2, "fingerprints should mostly differ")
  }

  test("sessions partition events and respect the gap") {
    val sess = Events.sessionize(spark, sfDir)
    val nEvents = sess.agg(sum("n_events")).head.getLong(0)
    assert(nEvents == Tables(spark, sfDir, "events").count())
    // within a user, sessions are ordered and separated by > gap
    val rows = sess.where(col("user_id") === sess.select("user_id").head.getLong(0))
      .orderBy("session_seq").collect()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("start_s") - a.getAs[Long]("end_s") > 1800)
      case _ =>
    }
  }

  test("asof join matches a driver-side latest-fact recomputation") {
    val out = Events.lastPurchaseAsof(spark, sfDir).collect()
    // driver-side truth: per user, sorted purchase times
    val purchases = Tables(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000))
      .groupBy(_._1).map { case (u, rs) => (u, rs.map(_._2).sorted) }
    assert(out.nonEmpty)
    var matched = 0
    out.foreach { r =>
      val u = r.getLong(1); val ts = r.getLong(2)
      val expect = purchases.get(u).flatMap { arr =>
        val le = arr.takeWhile(_ <= ts)
        if (le.isEmpty) None else Some(le.last)
      }
      val got = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(got == expect, s"user $u at $ts")
      if (got.isDefined) matched += 1
    }
    assert(matched > 0 && matched < out.length,
      "fixture should exercise both matched and unmatched (null) rows")
  }

  test("range join counts match a driver-side recomputation, zeros included") {
    val out = Events.clicksAfterErrors(spark, sfDir).collect()
    val clicks = Tables(spark, sfDir, "events")
      .where(col("event_type") === "click").select("ts").collect()
      .map(_.getTimestamp(0).getTime).sorted // millis resolution suffices: fixture has micros ts but 1h windows
    val errors = Tables(spark, sfDir, "events")
      .where(col("event_type") === "error").select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toMap
    assert(out.length == errors.size, "one row per error event incl. zero counts")
    out.foreach { r =>
      val t0 = errors(r.getLong(0))
      val expect = clicks.count(t => t >= t0 && t < t0 + 3600000L)
      assert(r.getLong(2) == expect, s"event ${r.getLong(0)}")
    }
    assert(out.exists(_.getLong(2) == 0) && out.exists(_.getLong(2) > 0),
      "fixture should exercise zero and non-zero windows")
    // the reason this operator exists: the binned form must plan as a
    // hash equi-join, never a nested-loop over all (point, interval) pairs
    val physical = Events.clicksAfterErrors(spark, sfDir)
      .queryExecution.executedPlan.toString()
    assert(!physical.contains("BroadcastNestedLoopJoin") &&
      !physical.contains("CartesianProduct"), physical.take(2000))
  }

  test("asof join carries the matched row's NULL payload, not an older value") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, 9L, ts(100))).toDF("lid", "k", "lts")
    val right = Seq((9L, ts(10), Some(5.0)), (9L, ts(50), None))
      .toDF("rk", "rts", "payload")
    val out = Events.asofJoin(left, right, "k", "rk", "lts", "rts").collect()
    assert(out.length == 1)
    // matched row is (ts=50, NULL) — the NULL must survive, 5.0 must not leak
    assert(out.head.getAs[java.sql.Timestamp]("rts") == ts(50))
    assert(out.head.isNullAt(out.head.fieldIndex("payload")),
      s"expected matched NULL payload, got ${out.head}")
  }

  test("range join shards a giant interval across bins (skew path) and stays exact") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // one 100h interval over 1h bins + points spread across it
    val interval = Seq((1L, ts(0), ts(360000))).toDF("iid", "w_start", "w_end")
    val points = (0 until 200).map(i => ts(i * 1800L)).toDF("p_ts")
    val joined = Events.rangeJoin(points, interval, "p_ts", "w_start", "w_end",
      binUs = 3600L * 1000000L)
    // every point < 100h matches exactly once — no per-bin duplicates
    assert(joined.count() == 200)
    // and the interval really was sharded into ~100 bin keys, so no single
    // join key carries the whole interval's matches
    val shards = interval.withColumn("bin",
      explode(expr("sequence(unix_micros(w_start) div 3600000000, (unix_micros(w_end) - 1) div 3600000000)")))
    assert(shards.count() == 100)
  }

  test("asof + range joins equal naive scans on seeded random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    (1 to 2).foreach { trial =>
      val base = 1700000000000L
      val left = (0 until 200).map(i =>
        (i.toLong, rnd.nextInt(10).toLong, ts(base + rnd.nextInt(1000000).toLong)))
      val right = rnd.shuffle((0 until 300).map(i =>
          (rnd.nextInt(10).toLong, ts(base + rnd.nextInt(1000000).toLong), rnd.nextDouble())))
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique per (key, ts)
      val lDf = left.toDF("lid", "k", "lts")
      val rDf = right.toDF("rk", "rts", "payload")

      val asof = Events.asofJoin(lDf, rDf, "k", "rk", "lts", "rts").collect()
        .map(r => (r.getLong(0), Option(r.getAs[java.sql.Timestamp]("rts"))
          .map(_.getTime))).toMap
      left.foreach { case (lid, k, lt) =>
        val expect = right.filter(r => r._1 == k && !r._2.after(lt))
          .map(_._2.getTime).sorted.lastOption
        assert(asof(lid) == expect, s"trial $trial asof row $lid")
      }
      val fwd = Events.asofJoin(lDf, rDf, "k", "rk", "lts", "rts", forward = true)
        .collect().map(r => (r.getLong(0), Option(r.getAs[java.sql.Timestamp]("rts"))
          .map(_.getTime))).toMap
      left.foreach { case (lid, k, lt) =>
        val expect = right.filter(r => r._1 == k && !r._2.before(lt))
          .map(_._2.getTime).sorted.headOption
        assert(fwd(lid) == expect, s"trial $trial forward-asof row $lid")
      }

      val intervals = lDf.select(col("lid"), col("lts").as("w_start"),
        (col("lts") + expr("INTERVAL 200 SECONDS")).as("w_end"))
      val joined = Events.rangeJoin(rDf.select(col("rts")), intervals,
          "rts", "w_start", "w_end", binUs = 200L * 1000000L)
        .groupBy("lid").count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      left.foreach { case (lid, _, lt) =>
        val expect = right.count(r =>
          !r._2.before(lt) && r._2.getTime < lt.getTime + 200000L)
        assert(joined.getOrElse(lid, 0L) == expect, s"trial $trial range row $lid")
      }
    }
  }

  test("ranked returns at most 3 strictly time-descending events per user") {
    val byUser = Events.ranked(spark, sfDir).collect().groupBy(_.getLong(0))
    byUser.values.foreach { rs =>
      assert(rs.length <= 3)
      val ts = rs.sortBy(_.getInt(1)).map(_.getAs[Long]("ts_s"))
      assert(ts.zip(ts.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hourly aggregation reconciles with raw event count") {
    val n = Events.hourly(spark, sfDir).agg(sum("n")).head.getLong(0)
    assert(n == Tables(spark, sfDir, "events").count())
  }

  test("packing manifest: offsets are the exact global running sum") {
    val budget = 512L
    val rows = TextOps.packingManifest(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // driver replay of the concat-and-cut arithmetic
    var cum = 0L
    rows.sortBy(_._1).foreach { case (id, n, start, sf, sl, ns) =>
      assert(start == cum, s"doc $id start $start != running sum $cum")
      assert(sf == start / budget, s"doc $id seq_first")
      assert(sl == (start + n - 1) / budget, s"doc $id seq_last")
      assert(ns == sl - sf + 1 && ns >= 1, s"doc $id n_seqs")
      cum += n
    }
    // some docs must straddle a window boundary on this fixture (token
    // counts are not multiples of the budget)
    assert(rows.exists(_._6 > 1), "expected at least one straddling doc")
  }
}
