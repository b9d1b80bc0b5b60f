package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.Staging

/** Structured Streaming faces of the event analytics (SURVEY.md §7 M5 —
  * extension surface; the reference has no streaming, §2.10).
  * `hourlyCounts` is plan-identical batch or streaming (q64 runs it batch
  * against q60's oracle). `sessionize` is STREAMING-ONLY: it relies on
  * event-time timeouts to flush each user's open session, and batch
  * execution never fires timeouts — the batch equivalent is
  * `operators.Events.sessionize` (window functions), which the streaming
  * spec asserts agreement with once the stream is drained.
  *
  * Scale notes: the windowed aggregation is watermark-bounded state (1 hour
  * + window size per key group); the sessionizer holds one open session per
  * user and emits on gap-timeout — state size O(active users), the standard
  * shape for million-user clickstreams.
  */
object EventStream {

  final case class Ev(user_id: Long, ts: Timestamp, value: Double)
  final case class Session(user_id: Long, start_s: Long, end_s: Long,
      n_events: Int, sum_value: Double)
  /** Internal sessionizer state (public: encoder codegen needs access). */
  final case class Open(start: Long, last: Long, n: Int, total: Double)

  /** Tumbling 1-hour counts per event_type; identical results to the batch
    * `Events.hourly` once the stream is drained. Works on batch frames too
    * (withWatermark is a no-op there). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization with explicit state: one open session per
    * user; events extend it while gaps stay ≤ `gapSec`; a longer gap (or an
    * event-time timeout once the watermark passes last + gap) closes and
    * emits the session. Append-mode `flatMapGroupsWithState`. */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800): Dataset[Session] = {
    import events.sparkSession.implicits._

    // microsecond precision to match the batch twin's unix_micros gap math
    // (Timestamp.getTime truncates to millis — a gap in (gapSec, gapSec+1ms)
    // would sessionize differently between the two faces)
    def micros(ts: Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    def touch(userId: Long, it: Iterator[Ev],
        state: GroupState[Open]): Iterator[Session] = {
      val gapUs = gapSec * 1000000L
      def close(o: Open) = Session(userId, o.start / 1000000, o.last / 1000000, o.n,
        // HALF_UP at 6dp — same rounding as the batch face's round(x, 6)
        BigDecimal(o.total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      if (state.hasTimedOut) {
        val out = state.getOption.map(close).iterator
        state.remove()
        return out
      }
      val evs = it.toArray.sortBy(e => micros(e.ts))
      val (open, closed) = evs.foldLeft((state.getOption, Vector.empty[Session])) {
        case ((cur, out), e) =>
          val t = micros(e.ts)
          cur match {
            case Some(o) if t - o.last <= gapUs =>
              // a late (out-of-order but in-watermark) event must never
              // rewind the session end or shrink its span
              (Some(Open(math.min(o.start, t), math.max(o.last, t),
                o.n + 1, o.total + e.value)), out)
            case Some(o) =>
              (Some(Open(t, t, 1, e.value)), out :+ close(o))
            case None =>
              (Some(Open(t, t, 1, e.value)), out)
          }
      }
      open.foreach { o =>
        state.update(o)
        state.setTimeoutTimestamp(o.last / 1000 + gapSec * 1000L + 1)
      }
      closed.iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(touch)
  }

  /** The fixture's max-ts row moved 30 days past the fixture max, IN THE
    * RAW PHYSICAL TYPE (nanos-long or timestamp), so a sentinel file's
    * schema byte-matches the staged fixture; the caller re-keys it. */
  private def sentinelOf(raw: DataFrame): DataFrame =
    raw.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", graft.Tables.sentinelTsPlus30d(raw.schema("ts").dataType))

  /** Writes `rows` as one parquet file into the watch directory `stage`,
    * next to the staged fixture, before the stream starts. */
  private def stageSentinel(rows: DataFrame, stage: Path, tag: String): Unit = {
    val dir = Paths.get(Staging.fresh(s"$tag-sentinel"))
    rows.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val part = Files.list(dir).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, stage.resolve("zz_sentinel.parquet"))
  }

  /** The watch directory of an events face: a copy of the fixture file
    * plus whatever `more` writes next to it (sentinels), staged once per
    * fixture ([[Staging.once]]) with the value `more` returns. Nothing
    * writes to it after `start()`, and each query checkpoints afresh, so
    * every call's batch 0 reads all of it. */
  private def stagedEvents[A](dir: String, tag: String)(more: Path => A): (String, A) = {
    val src = s"$dir/events.parquet"
    Staging.onceWith(s"$tag-src", Staging.keyOf(src)) { d =>
      val stage = Paths.get(d)
      Files.copy(Paths.get(src), stage.resolve("events.parquet"))
      more(stage)
    }
  }

  /** Stream-stream INTERVAL join — the streaming twin of the batch range
    * join (q68): two event streams (errors, clicks) off the same file
    * source, left-outer joined on the event-time range condition
    * `c_ts ∈ [e_ts, e_ts + 1h)`. Both sides carry watermarks, so Spark
    * bounds the join state from the range condition itself (a click older
    * than watermark − 1h can never match a future error and is dropped —
    * THE mechanism that makes unbounded-stream joins finite); unmatched
    * errors are emitted with nulls once the watermark passes their window
    * end. The drained output is aggregated batch-side to q68's exact
    * shape, so the streaming join shares the batch query's DuckDB
    * inequality-join oracle. Sentinel: as in [[sessionizeFromFiles]], a
    * far-future event advances both watermarks to flush the tail. Both
    * per-side sentinels are staged with the fixture before `start()`, so
    * one drain runs 2 micro-batches: batch 0 joins every event (the
    * sentinels only match each other, 30 days past any real click), and
    * the no-data batch at the sentinel watermark emits every unmatched
    * error. The rows equal a two-drain run's: batch 0 held every event
    * there too, at the same initial watermark. The watch directory and
    * the state width are staged once per fixture ([[stagedEvents]]). */
  def clicksAfterErrorsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.Tables.parquet(spark, s"$dir/events.parquet") // ts: raw layout
    val (stage, stateParts) = stagedEvents(dir, "q69") { stage =>
      // one sentinel PER SIDE: each stream's watermark only advances on
      // rows that survive its own event_type filter
      val base = sentinelOf(raw).withColumn("event_id", lit(-1L))
      stageSentinel(base.withColumn("event_type", lit("error"))
        .unionAll(base.withColumn("event_type", lit("click"))), stage, "q69")
      // interval-join state is keyed by (bin, side): a month of fixture
      // time is ~720 hot keys, and each store instance carries 4 state
      // stores (two per join side) with per-batch commit overhead — fewer,
      // fatter stores win until ROW volume demands otherwise: the join's
      // per-batch work (state writes + range probes) parallelizes by
      // store, so a fixed width of 4 capped the whole 10x run at 4 threads
      // (measured 32 s at sf1, 9x the sf0.1 time). Width scales with the
      // event count — 4 up to ~400k events, then one store per 100k,
      // capped at the session's core budget; count() is a parquet
      // metadata read. Sized on a child session so it never leaks into
      // the caller's (StreamSessions).
      math.min(32L, math.max(4L, raw.count() / 100000L)).toInt
    }
    val ss = StreamSessions.withShuffle(spark, stateParts)
    ss.conf.set(graft.Tables.NanosAsLong, "true")
    def streamOf(tpe: String) = graft.Tables.normalizeEventsTs(
        ss.readStream.schema(raw.schema).parquet(stage))
      .where(col("event_type") === tpe)
    // Spark refuses stream-stream joins without an equality predicate —
    // the batch range join's bin-bucketing (Events.rangeJoin) is exactly
    // that equality: intervals explode to their ≤2 covered 1h bins, points
    // carry their single bin, the range predicate filters within the bin.
    // Same trick, third payoff: it legalizes the streaming join AND keys
    // its state store by bin.
    val binUs = 3600L * 1000000L
    val errors = streamOf("error")
      .select(col("event_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "0 seconds")
      .withColumn("e_bin", explode(expr(
        s"sequence(unix_micros(e_ts) div $binUs, (unix_micros(e_ts) + $binUs - 1) div $binUs)")))
    val clicks = streamOf("click")
      .select(col("ts").as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
      .withColumn("c_bin", expr(s"unix_micros(c_ts) div $binUs"))
    val joined = errors.join(clicks,
      expr("e_bin = c_bin AND c_ts >= e_ts AND c_ts < e_ts + INTERVAL 1 HOUR"),
      "leftOuter")

    // FILE sink, not memory: the pre-aggregation join output is the RAW
    // error×click pair stream — at 10× events that is GBs, and a memory
    // sink is a driver collect (observed: 1.2 GB single-task result >
    // maxResultSize at sf1). The parquet sink keeps every micro-batch's
    // output distributed on disk; the batch-side aggregation below reads
    // it back like any other relation.
    val sinkDir = Staging.fresh("q69-sink")
    val ckptDir = Staging.fresh("q69-ckpt")
    val q = joined.writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckptDir)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    ss.read.schema(joined.schema).parquet(sinkDir) // on the child, writer schema (StreamSessions)
      .where(col("event_id") =!= -1L)
      .groupBy("event_id", "e_ts")
      .agg(count(col("c_ts")).as("clicks_1h"))
      .select(col("event_id"), unix_timestamp(col("e_ts")).as("ts_s"),
        col("clicks_1h"))
      .orderBy("event_id")
  }

  /** End-to-end FILE-SOURCE streaming sessionization over the events
    * fixture, returning the same shape as the batch `Events.sessionize`
    * (q62) so the driver's DuckDB oracle covers the streaming path too.
    *
    * The fixture is one static parquet file, so the run is staged: the
    * file and a sentinel file (one far-future event for user −1) go into a
    * watch directory before `start()`, and one drain runs 2 micro-batches.
    * Batch 0 reads the events and the sentinel together; its watermark
    * (sentinel − 1 h) passes every open session's `last + gap` timeout, so
    * the no-data batch that follows flushes them, which is exactly how a
    * production stream's tail sessions close. The rows equal those of a
    * run that drains the events first and the sentinel second: batch 0
    * held every event there too, `touch` sorts each user's events within
    * a batch, nothing is late at the initial watermark, and a timeout
    * emits the same closed session whichever batch fires it. `session_seq`
    * is a presentation step on the emitted sessions (row_number by start
    * time), matching the batch face's chronological numbering. Output
    * goes through a parquet FILE sink (sessions are data-sized; a memory
    * sink would collect them to the driver); a deployment would point the
    * same sink at real storage and skip the sentinel dance. The watch
    * directory is staged once per fixture ([[stagedEvents]]), and the sink
    * is read back with the sessions' schema, so a warm call runs no
    * schema-inference job. */
  def sessionizeFromFiles(spark: SparkSession, dir: String,
      gapSec: Long = 1800): DataFrame = {
    import spark.implicits._
    val raw = graft.Tables.parquet(spark, s"$dir/events.parquet") // ts: raw layout
    val (stage, _) = stagedEvents(dir, "q65")(
      stageSentinel(sentinelOf(raw).withColumn("user_id", lit(-1L)), _, "q65"))
    // State-store partition count is baked into the query at start; each
    // partition owns an HDFS-backed store instance with per-batch commit +
    // maintenance overhead, so a harness run sizes it to the state (one
    // Open per user), not to the session's shuffle width. A deployment
    // picks this by active-user count. Child session scopes the sizing.
    val ss = StreamSessions.withShuffle(spark, 8)
    ss.conf.set(graft.Tables.NanosAsLong, "true")
    val stream = graft.Tables.normalizeEventsTs(
        ss.readStream.schema(raw.schema).parquet(stage))
      .select(col("user_id"), col("ts"), col("value")).as[Ev]

    // sessions are one row per (user, session) — data-sized, so a FILE
    // sink, not memory (the q69 lesson: memory = driver collect)
    val sessions = sessionize(stream, gapSec)
    val sinkDir = Staging.fresh("q65-sink")
    val ckptDir = Staging.fresh("q65-ckpt")
    val q = sessions.writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckptDir)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_s", "end_s")
    ss.read.schema(sessions.schema).parquet(sinkDir) // on the child, writer schema (StreamSessions)
      .where(col("user_id") =!= -1L)
      .withColumn("session_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_seq"),
        col("n_events").cast("long").as("n_events"),
        col("start_s"), col("end_s"), col("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  /** q9w: stream-static enrichment — the dimension-join pattern every
    * production stream runs: the unbounded event stream joins the
    * BOUNDED customer dimension (broadcast — the dim is re-read per
    * micro-batch, so updates to it are picked up, and the stream side
    * never shuffles for the join), then aggregates per nation in
    * complete mode. No watermark or sentinel is needed: stream-static
    * inner joins are stateless (nothing on the static side ever
    * arrives late), which is exactly why this shape scales where
    * stream-stream joins need state budgets. Drained end-to-end on the
    * file source; must equal the batch join+aggregate (the oracle). */
  def enrichedNationCounts(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.Tables.parquet(spark, s"$dir/events.parquet")
    val (stage, _) = stagedEvents(dir, "q9w")(_ => ())
    // child session scopes the shuffle sizing to this query (StreamSessions)
    val ss = StreamSessions.withShuffle(spark, 4)
    ss.conf.set(graft.Tables.NanosAsLong, "true")
    val stream = ss.readStream.schema(raw.schema).parquet(stage)
      .select(col("user_id"), col("value"))
    val dim = broadcast(graft.Tables(ss, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey")))
    val agg = stream.join(dim, stream("user_id") === dim("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
    val sink = "q9w_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", Staging.fresh("q9w-ckpt"))
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // the memory sink registers its table in the stream's session
    ss.table(sink).orderBy("c_nationkey")
  }
}
