package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event analytics over the `events` table: tumbling-window aggregation,
  * per-user ranking (window functions) and gap-based sessionization —
  * the batch faces of the streaming module (graft.streaming runs the same
  * aggregations under Structured Streaming with watermarks/state).
  * The reference has none of this (SURVEY.md §2.10) — extension surface.
  */
object Events {

  /** Tumbling 1-hour windows per event_type: count/sum/avg. Window start is
    * exposed as epoch seconds (cross-engine-stable representation). */
  def hourly(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 6).as("sum_value"),
        round(avg("value"), 6).as("avg_value"))
      .orderBy("hour_s", "event_type")

  /** q8m: gap-filled hourly resample — the time-series completeness
    * operator: one row for EVERY hour of the observed span per event
    * type, zero-filled where no events landed and with the last non-empty
    * hour's avg carried forward (the interpolation a monitoring/feature
    * pipeline wants). Dense timeline = one `sequence()` explode per event
    * type off a 1-row-per-type aggregate — the dense axis is generated,
    * never shuffled; the carry-forward is a last_value window per type
    * over hours (bounded partitions: types × span). */
  def hourlyGapfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
    val span = counts.groupBy("event_type")
      .agg(min("hour_s").as("lo"), max("hour_s").as("hi"))
    val axis = span.select(col("event_type"),
      explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_s"))
    val w = Window.partitionBy("event_type").orderBy("hour_s")
      .rowsBetween(Window.unboundedPreceding, 0)
    axis.join(counts, Seq("event_type", "hour_s"), "left")
      .select(col("event_type"), col("hour_s"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("avg_value"), ignoreNulls = true).over(w).as("filled_avg"))
      .orderBy("event_type", "hour_s")
  }

  /** q73: [[hourly]]'s aggregation fed from a JSON-LINES round-trip of the
    * events table ([[graft.sources.JsonLines]]) instead of parquet —
    * shares q60's oracle, proving the JSON source end-to-end (schema-pinned
    * read, timestamp round-trip, same results as the columnar path). */
  def hourlyFromJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val stage = graft.sources.Staging.once("q73-json", dir)(
      graft.sources.JsonLines.write(ev, _))
    graft.sources.JsonLines.read(spark, stage, ev.schema)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 6).as("sum_value"),
        round(avg("value"), 6).as("avg_value"))
      .orderBy("hour_s", "event_type")
  }

  /** q7c: [[hourly]]'s aggregation fed from an ORC round-trip of the events
    * table — shares q60's oracle, proving the ORC source AND sink
    * end-to-end (schema + timestamp fidelity, same results as parquet).
    * ORC is the other first-class columnar lake format; at 100 TB the
    * reader gets the same predicate-pushdown/column-pruning treatment as
    * parquet from the ORC datasource. */
  def hourlyFromOrc(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val stage = graft.sources.Staging.once("q7c-orc", dir)(
      ev.write.mode("overwrite").orc(_))
    spark.read.orc(stage)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 6).as("sum_value"),
        round(avg("value"), 6).as("avg_value"))
      .orderBy("hour_s", "event_type")
  }

  /** Sliding 1-hour windows every 30 minutes per event_type: each event
    * lands in exactly size/slide = 2 overlapping windows (the trend-line
    * shape tumbling windows can't express). The same `window()` plan is
    * streaming-capable, like [[graft.streaming.EventStream.hourlyCounts]].
    * Cost at scale = tumbling × (size/slide): Spark expands each row to
    * its windows before the partial aggregate, so the shuffle carries
    * (rows × overlap) pre-aggregated groups, not raw rows. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("start_s", "event_type")

  /** Per-user event-to-event deltas via lag/lead: seconds since the
    * previous event, seconds to the next, and the value change from the
    * previous — the feature-engineering shape (inter-arrival times) every
    * behavioral pipeline computes. One window, three frames-free
    * physical-window functions, single shuffle on user_id. */
  def leadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .withColumn("prev_gap_s", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .withColumn("next_gap_s", lead(col("ts_s"), 1).over(w) - col("ts_s"))
      .withColumn("value_delta",
        round(col("value") - lag(col("value"), 1).over(w), 6))
      .select(col("user_id"), col("event_id"), col("ts_s"),
        col("prev_gap_s"), col("next_gap_s"), col("value_delta"))
      .orderBy("user_id", "ts_s", "event_id")
  }

  /** Per-user latest-3 events by time (ranking window function). */
  def ranked(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("user_id"), col("rn"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_s"))
      .orderBy("user_id", "rn")
  }

  /** [[ranked]] through the custom [[graft.plans.TopKPerGroup]] physical
    * operator instead of a window: partial per-partition bounded heaps →
    * exchange on user_id → final heap merge + rank emission. Same rows as
    * the window formulation (total order via the event_id tie-break), so
    * it shares q61's oracle — a DuckDB hash match over a custom SparkPlan. */
  def rankedNative(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    graft.plans.TopKPerGroup(Tables(spark, dir, "events"),
        Seq("user_id"), Seq(("ts", true), ("event_id", true)), k)
      .select(col("user_id"), col("rn"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_s"))
      .orderBy("user_id", "rn")

  /** JSON property extraction from the `props` column ({"k": <int>}):
    * per-type stats over the parsed value. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** q75: gap sessionization through Spark's NATIVE `session_window`
    * aggregation instead of the lag+running-sum window — one aggregation,
    * no analytic-window sort, and the same operator Structured Streaming
    * uses for streaming session merges. `window.end` is last-event + gap,
    * so `end_s` subtracts the gap back to the last event time; output is
    * mapped onto [[sessionize]]'s exact shape and shares q62's oracle —
    * two engines AND two formulations pinned to one result. */
  def sessionizeNative(spark: SparkSession, dir: String,
      gapSec: Long = 1800): DataFrame = {
    val sess = Tables(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        (unix_timestamp(col("session_window.end")) - gapSec).as("end_s"),
        col("n_events"), col("sum_value"))
    val bySeq = Window.partitionBy("user_id").orderBy("start_s", "end_s")
    sess.withColumn("session_seq", row_number().over(bySeq).cast("long"))
      .select("user_id", "session_seq", "n_events", "start_s", "end_s", "sum_value")
      .orderBy("user_id", "session_seq")
  }

  /** As-of join: for each left row, the single most recent right row with
    * `right.ts <= left.ts` on the same key — the time-series "latest fact
    * at event time" lookup (DuckDB/kdb ASOF JOIN; Spark has no native
    * operator). Unmatched left rows keep nulls (left-outer semantics).
    *
    * Plan shape: Spark would plan the naive inequality join as a
    * broadcast-nested-loop / cartesian — O(L·R) per key. Instead both
    * sides are UNIONed and sorted once per key by (ts, side) and the
    * right payload is carried forward with `last(ignoreNulls)` over a
    * running window: ONE exchange + one sort, O((L+R)·log(L+R)) per key
    * partition — the shape that survives 100 TB, and the same
    * merge-scan a native time-series engine runs. Right rows order
    * before left rows at equal ts, so the match is inclusive (`<=`).
    *
    * Contract: right must be unique per (key, ts) — pre-aggregate
    * otherwise (ties would be nondeterministic in any engine); column
    * names of the two sides must not collide (the right key/ts arrive
    * under their own names: the matched `rightTs` is part of the output).
    */
  /** `toleranceSec`: if set, a match farther than this from the left
    * timestamp is nulled out (the row survives with no match) — "latest
    * fact, but only if fresh enough", the staleness guard every
    * feature-store lookup needs. */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTs: String, rightTs: String,
               forward: Boolean = false,
               toleranceSec: Option[Long] = None): DataFrame = {
    val payload = right.columns.filterNot(_ == rightKey).toSeq // rightTs stays: it IS the matched-at column
    val lU = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTs))
      .withColumn("__side", lit(0))
    // the whole right row rides as ONE struct: carrying payload columns
    // independently with last(ignoreNulls) would skip a legitimately-NULL
    // column of the matched row and resurrect an older value for it —
    // the struct is non-null per right row, so the carry-forward always
    // reflects exactly the single matched row (nulls included)
    val rU = right
      .withColumn("__k", col(rightKey)).withColumn("__t", col(rightTs))
      .withColumn("__side", lit(1))
      .withColumn("__r", struct(payload.map(col): _*))
      .drop(payload: _*).drop(rightKey)
    // backward (default): scan time ascending, carry the latest right row
    // with rts <= lts. forward: scan DESCENDING — "preceding" rows are the
    // future, so the same carry-forward yields the EARLIEST right row with
    // rts >= lts (next-event / conversion-attribution semantics). Right
    // rows order before left at equal ts either way (inclusive match).
    val timeOrd = if (forward) col("__t").desc else col("__t").asc
    val w = Window.partitionBy("__k")
      .orderBy(timeOrd, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lU.unionByName(rU, allowMissingColumns = true)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 0)
    val gated = toleranceSec.fold(filled) { tol =>
      val gap = abs(unix_micros(col("__t")) -
        unix_micros(col(s"__r.$rightTs")))
      filled.withColumn("__r",
        when(gap <= tol * 1000000L, col("__r"))) // else NULL: match too stale
    }
    gated.select(left.columns.map(col) ++
      payload.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** q67: every 'view' event joined as-of to the same user's most recent
    * 'purchase' (right side pre-aggregated to one row per (user, ts) so
    * the match is deterministic). 142 of 1982 views at sf0.01 predate any
    * purchase — real null handling, not a degenerate all-match. */
  def lastPurchaseAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(round(max("value"), 6).as("purchase_value"))
    asofJoin(views, purchases, "user_id", "p_user", "ts", "p_ts")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        unix_timestamp(col("p_ts")).as("purchase_ts_s"),
        col("purchase_value"))
      .orderBy("event_id")
  }

  /** q77: backward as-of with a 24h staleness tolerance — purchases older
    * than a day no longer count as "the latest purchase context". */
  def lastPurchaseAsofFresh(spark: SparkSession, dir: String,
      toleranceSec: Long = 86400): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(round(max("value"), 6).as("purchase_value"))
    asofJoin(views, purchases, "user_id", "p_user", "ts", "p_ts",
        toleranceSec = Some(toleranceSec))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        unix_timestamp(col("p_ts")).as("purchase_ts_s"),
        col("purchase_value"))
      .orderBy("event_id")
  }

  /** q74: forward as-of — each 'view' attributed to the same user's NEXT
    * 'purchase' at or after it, with the conversion lag in seconds. */
  def nextPurchaseAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(round(max("value"), 6).as("purchase_value"))
    asofJoin(views, purchases, "user_id", "p_user", "ts", "p_ts", forward = true)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        unix_timestamp(col("p_ts")).as("purchase_ts_s"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("ts"))).as("lag_s"),
        col("purchase_value"))
      .orderBy("event_id")
  }

  /** Range (point-in-interval) join: every (point, interval) pair with
    * `start <= point.ts < end`. Spark plans the naive inequality join as a
    * broadcast-nested-loop — O(P·I) compares regardless of selectivity.
    * Here intervals are exploded to the time bins they cover and points
    * join on their (single) bin, then the exact range predicate filters
    * within the bin: an equi-join whose cost is O(matches) + O(I·span/bin).
    * A point's bin is unique, so a pair can match in at most one bin —
    * no post-join dedup. Pick `binUs` ≈ the typical interval width (an
    * interval then covers ≤ 2 bins). Contract: column names of the two
    * sides are disjoint; intervals are non-empty (`start < end`).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                pTs: String, iStart: String, iEnd: String,
                binUs: Long): DataFrame = {
    val p = points.withColumn("__pbin", floor(unix_micros(col(pTs)) / binUs))
    val i = intervals.withColumn("__ibin",
      explode(sequence(floor(unix_micros(col(iStart)) / binUs),
        floor((unix_micros(col(iEnd)) - 1) / binUs))))
    p.join(i, col("__pbin") === col("__ibin") &&
        col(pTs) >= col(iStart) && col(pTs) < col(iEnd))
      .drop("__pbin", "__ibin")
  }

  /** q68: for each 'error' event, how many 'click' events (any user) land
    * in the hour after it — a pure range join (no key equality to save
    * the plan), kept zero-count rows included. */
  def clicksAfterErrors(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("ts").as("c_ts"))
    val counts = rangeJoin(clicks, errors, "c_ts", "w_start", "w_end",
        binUs = 3600L * 1000000L)
      .groupBy("event_id").agg(count(lit(1)).as("clicks_1h"))
    errors.join(counts, Seq("event_id"), "left")
      .select(col("event_id"), unix_timestamp(col("w_start")).as("ts_s"),
        coalesce(col("clicks_1h"), lit(0L)).as("clicks_1h"))
      .orderBy("event_id")
  }

  /** qa3: interval×interval OVERLAP join — the kernel q68's point-in-
    * interval bin join cannot express: BOTH sides are spans (error
    * windows [ts, ts+1h) × purchase windows [ts, ts+30m)), overlap iff
    * lo_a < hi_b AND lo_b < hi_a. Both sides explode to their covered 1h
    * bins so the join is an equi-join on bin (the streaming-legal, state-
    * keyable shape); a span pair can now share up to TWO bins, so
    * candidate pairs are DEDUPLICATED on ids before counting — the step
    * point-interval joins get for free and interval-interval joins must
    * pay, on a relation already filtered to true overlaps. Left join
    * keeps zero-overlap windows. Bin width trades replication (≤ 2× per
    * side here) against per-bin candidates, same calculus as q68. */
  def overlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val binUs = 3600L * 1000000L
    val e = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("ts").as("e_ts"),
        unix_micros(col("ts")).as("e_lo"),
        (unix_micros(col("ts")) + lit(3600L * 1000000L)).as("e_hi"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_lo"),
        (unix_micros(col("ts")) + lit(1800L * 1000000L)).as("p_hi"))
    // `div` = integer division (Column `/` is double division)
    val eb = e.withColumn("bin",
      explode(expr(s"sequence(e_lo div $binUs, (e_hi - 1) div $binUs)")))
    val pb = p.withColumn("bin",
      explode(expr(s"sequence(p_lo div $binUs, (p_hi - 1) div $binUs)")))
    val pairs = eb.join(pb, "bin")
      .where(col("e_lo") < col("p_hi") && col("p_lo") < col("e_hi"))
      .select(col("event_id"), col("p_id")).distinct()
    val counts = pairs.groupBy("event_id").agg(count(lit(1)).as("n_purch"))
    e.join(counts, Seq("event_id"), "left")
      .select(col("event_id"), unix_timestamp(col("e_ts")).as("ts_s"),
        coalesce(col("n_purch"), lit(0L)).as("n_purch"))
      .orderBy("event_id")
  }

  /** q8o: ordered conversion funnel view → click → purchase. A user counts
    * at stage k only if the stage-k event happens STRICTLY AFTER their
    * stage-(k-1) entry time (the product-analytics semantics — unordered
    * "did all three ever" overcounts). Each stage is one user-keyed
    * aggregate plus one equi-join on user_id: k stages = k shuffles on the
    * same key, so at 100 TB AQE reuses the user_id partitioning and the
    * per-stage relations shrink monotonically (stage k+1 joins against
    * stage k's survivors only, never the full event log). */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select("user_id", "event_type", "ts")
    def firstAfter(stage: String, prev: DataFrame, prevT: String,
        out: String): DataFrame =
      ev.where(col("event_type") === stage)
        .join(prev, "user_id")
        .where(col("ts") > col(prevT))
        .groupBy("user_id").agg(min("ts").as(out))
    val view = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val click = firstAfter("click", view, "t_view", "t_click")
    val purchase = firstAfter("purchase", click, "t_click", "t_purchase")
    def stageRow(n: Int, name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("users"))
        .select(lit(n).as("stage"), lit(name).as("event_type"), col("users"))
    stageRow(1, "view", view)
      .unionByName(stageRow(2, "click", click))
      .unionByName(stageRow(3, "purchase", purchase))
      .orderBy("stage")
  }

  /** q8p: cohort retention — users grouped by first-seen day, then for
    * each day offset 0..7 the count of cohort members active that day.
    * Two user-keyed aggregates and one join; the output is bounded by
    * days × 8 regardless of event volume, and the cohort relation
    * (one row per user) broadcasts long before the event log does. Days
    * travel as epoch seconds (cross-engine-stable representation). */
  def cohortRetention(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"))
    val cohorts = ev.groupBy("user_id").agg(min("day_s").as("cohort_s"))
    ev.join(cohorts, "user_id")
      .select(col("cohort_s"),
        ((col("day_s") - col("cohort_s")) / 86400L).cast("int").as("offset_d"),
        col("user_id"))
      .where(col("offset_d") <= maxOffset)
      .groupBy("cohort_s", "offset_d")
      .agg(countDistinct("user_id").as("users"))
      .orderBy("cohort_s", "offset_d")
  }

  /** q9f: hourly anomaly score — each hour's event count z-scored against
    * the trailing 24 OBSERVED hours (exclusive of the current hour, so a
    * spike can't mask itself), per event type. The monitoring primitive a
    * pipeline runs on its own throughput. One hour-keyed aggregate + one
    * type-partitioned window; both engines compute z from the unrounded
    * trailing mean/stddev and round once at the end. Hours with no
    * trailing history (or zero variance) yield NULL z in both engines. */
  def hourlyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour_s")
      .rowsBetween(-24, -1)
    val mu = avg("n").over(w)
    val sd = stddev_samp(col("n")).over(w)
    counts.select(col("hour_s"), col("event_type"), col("n"),
        round(mu, 6).as("mu"), round(sd, 6).as("sd"),
        when(sd > 0, round((col("n") - mu) / sd, 6)).as("z"))
      .orderBy("event_type", "hour_s")
  }

  /** q9g: event-type transition matrix — count and row-probability of
    * each (from → to) consecutive pair per user (the first-order Markov
    * path-analysis primitive behind "what do users do next"). Order
    * within a user is fully pinned (ts, then event_id) so both engines
    * pair identically. One user-keyed window + one tiny (types²) agg;
    * the probability normalizer is a partition-of-types window over that
    * tiny relation. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val perFrom = Window.partitionBy("from_type")
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead("event_type", 1).over(byTime))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / sum("n").over(perFrom), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** q9k: RFM segmentation — recency / frequency / monetary per purchasing
    * user, each quartiled (ntile) into 1..4 and concatenated to the
    * classic 3-digit segment code. Rank inputs are rounded BEFORE ranking
    * and every window order carries the user_id tie-break, so both
    * engines cut identical quartiles. One user-keyed aggregate + three
    * windows over the users relation (small by construction); at corpus
    * scale the quartile cutoffs come from approx_percentile instead of a
    * global sort — q19's sketch route. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val anchor = ev.agg(
      max(unix_timestamp(date_trunc("day", col("ts")))).as("anchor_s"))
    val rfm = ev.where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_timestamp(date_trunc("day", col("ts")))).as("last_day_s"),
        count(lit(1)).as("frequency"),
        round(sum("value"), 6).as("monetary"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        ((col("anchor_s") - col("last_day_s")) / 86400L).cast("int")
          .as("recency_d"),
        col("frequency"), col("monetary"))
    val r = ntile(4).over(Window.orderBy(col("recency_d"), col("user_id")))
    val f = ntile(4).over(Window.orderBy(col("frequency").desc, col("user_id")))
    val m = ntile(4).over(Window.orderBy(col("monetary").desc, col("user_id")))
    rfm.select(col("user_id"), col("recency_d"), col("frequency"),
        col("monetary"), r.as("r"), f.as("f"), m.as("m"))
      .withColumn("segment", concat(col("r"), col("f"), col("m")))
      .orderBy("user_id")
  }

  /** q9l: hourly-volume trend per event type — closed-form OLS slope and
    * intercept via the regr_* aggregate family over (hour index, count).
    * Regression-as-aggregation: one pass, partial+final mergeable, no
    * collect — how trend detection runs at any scale. The hour axis is
    * re-based to the corpus start so intercepts stay O(counts) and the
    * 6-dp rounding grid is far above either engine's summation-order
    * noise. */
  def hourlyTrend(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val lo = counts.agg(min("hour_s").as("lo"))
    counts.crossJoin(broadcast(lo))
      .select(col("event_type"), col("n").cast("double").as("y"),
        ((col("hour_s") - col("lo")) / 3600.0).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        round(regr_slope(col("y"), col("x")), 6).as("slope_per_hour"),
        round(regr_intercept(col("y"), col("x")), 6).as("intercept"))
      .orderBy("event_type")
  }

  /** q9m: within-session association lift between event types — the
    * market-basket analysis (reference G1 family) applied to sessions as
    * baskets: support and lift for every type pair co-occurring in a
    * session. Bridges the sessionizer (q62's exact session assignment)
    * and the co-occurrence counting shape (q21/q30: equi-join on the
    * shared key + group-count, never a cross join). The pair relation is
    * bounded by types², singles/totals are broadcast scalars. */
  def sessionLift(spark: SparkSession, dir: String, gapSec: Long = 1800): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val present = Tables(spark, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("is_new").over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("user_id", "session_seq", "event_type").distinct()
    val nS = present.select("user_id", "session_seq").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val singles = present.groupBy("event_type").agg(count(lit(1)).as("c"))
    val pairs = present.as("a").join(present.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_seq") === col("b.session_seq") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(singles.select(col("event_type").as("ta"), col("c").as("ca")), "ta")
      .join(singles.select(col("event_type").as("tb"), col("c").as("cb")), "tb")
      .crossJoin(broadcast(nS))
      .select(col("ta"), col("tb"), col("n_ab"),
        round(col("n_ab") / col("n_sessions"), 6).as("support"),
        round(col("n_ab") * col("n_sessions") / (col("ca") * col("cb")), 6)
          .as("lift"))
      .orderBy("ta", "tb")
  }

  /** Gap-based sessionization (30-min inactivity): classic lag + running
    * sum of session-boundary markers, then per-session rollup. */
  def sessionize(spark: SparkSession, dir: String, gapSec: Long = 1800): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(spark, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("is_new").over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_s"),
        max(unix_timestamp(col("ts"))).as("end_s"),
        round(sum("value"), 6).as("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  /** q9x: incremental aggregate maintenance — the materialized-view
    * pattern that makes daily pipelines affordable: the aggregate is
    * stored as MERGEABLE PARTIAL STATE (count + sum, never finished
    * averages — an avg can't absorb a delta), new data aggregates to the
    * same partial shape, and the refresh merges states instead of
    * rescanning history. At 100 TB the base relation is petabyte-days of
    * history while the delta is one day: this is the difference between
    * O(delta) and O(history) per refresh. The straddling hour (present
    * in both base and delta) is the case the merge has to get right.
    * Must equal the from-scratch aggregate — which is the oracle. */
  def incrementalHourly(spark: SparkSession, dir: String,
      cutoff: String = "2024-01-16 00:00:00"): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val cutTs = to_timestamp(lit(cutoff))
    def partials(df: DataFrame): DataFrame = df
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    // the stored base state — persisted once, as an engine would keep a
    // materialized view; reruns read it instead of rebuilding
    val stage = graft.sources.Staging.once("q9x-base", dir) { out =>
      partials(ev.where(col("ts") < cutTs))
        .write.mode("overwrite").parquet(out)
    }
    Tables.parquet(spark, stage)
      .unionByName(partials(ev.where(col("ts") >= cutTs)))
      .groupBy("hour_s", "event_type")
      .agg(sum("n").as("n"), sum("sv").as("sv"))
      .select(col("hour_s"), col("event_type"), col("n"),
        round(col("sv"), 6).as("sum_value"),
        round(col("sv") / col("n"), 6).as("avg_value"))
      .orderBy("hour_s", "event_type")
  }

  /** q9y: cumulative distinct customers by order month — the growth-
    * accounting query that naive COUNT(DISTINCT) OVER cannot express
    * scalably. Each customer contributes once at their FIRST order month
    * (one customer-keyed aggregate); monthly news then cumulate under a
    * global window that runs over the |months| relation, not |orders| —
    * the aggregate-before-window shape that keeps the unpartitioned
    * window harmless at any scale. (Orders, not events: the fixture's
    * event stream saturates its user base in two days, while order dates
    * span seven years — a real acquisition curve.) */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM")).as("month"))
    val monthly = firstSeen.groupBy("month").agg(count(lit(1)).as("new_customers"))
    val w = Window.orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly.withColumn("cum_customers", sum("new_customers").over(w))
      .select(col("month"), col("new_customers"), col("cum_customers"))
      .orderBy("month")
  }

  /** q9p: SCD type-2 history build — the warehouse/feature-store kernel
    * that turns an ordered change stream into versioned validity
    * intervals, which is what point-in-time-correct training joins (the
    * q67/q74/q77 as-of family) consume. Each user's event-type sequence
    * is collapsed into runs (state "versions"): a change flag via lag,
    * a running sum numbers the versions, one group-agg takes each
    * version's start and event count, and lead() closes the interval —
    * NULL valid_to marks the current row, exactly the open-ended interval
    * an as-of join probes. All windows partition by user, so at 100 TB
    * this is one shuffle by user_id and no global window. Timestamps
    * travel as epoch MICROSECONDS (exact integers in both engines —
    * epoch seconds would collide sub-second changes, epoch_ns isn't
    * portable to engines that truncate to micros). */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val prev = lag("event_type", 1).over(w)
    val chg = when(prev.isNull || col("event_type") =!= prev, 1).otherwise(0)
    val versioned = e.withColumn("version",
      sum(chg).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
    val runs = versioned
      .groupBy(col("user_id"), col("version"), col("event_type").as("state"))
      .agg(min("ts").as("vf"), count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    runs.withColumn("vt", lead("vf", 1).over(byVersion))
      .select(col("user_id"), col("version"), col("state"),
        unix_micros(col("vf")).as("valid_from_us"),
        unix_micros(col("vt")).as("valid_to_us"),
        col("vt").isNull.as("is_current"), col("n_events"))
      .orderBy("user_id", "version")
  }

  /** qa8: merged-interval coverage (gaps-and-islands over OVERLAPPING
    * intervals). Each event opens a 30-minute activity interval; per user,
    * overlapping intervals merge into islands and the query reports how
    * many islands there are and the total covered time — the union-of-
    * intervals primitive behind "active time" metrics and retention TTLs.
    *
    * Shape: one user-partitioned window pass (running max of interval end
    * over all PRECEDING rows — the current row can't close its own island),
    * then a per-island aggregate. An island's covered span is exactly
    * max(hi)-min(lo) because, by construction, no interior gap exists. At
    * 100 TB this is one shuffle on user_id and the window state is O(1)
    * per row — the standard scalable form (no self-join, no explode). */
  def intervalCoverage(spark: SparkSession, dir: String,
      lenUs: Long = 1800L * 1000000L): DataFrame = {
    val iv = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + lit(lenUs)).as("hi"))
    val w = Window.partitionBy("user_id").orderBy("lo", "event_id")
    val prevMax = max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isStart = when(prevMax.isNull || col("lo") > prevMax, 1).otherwise(0)
    val islands = iv.withColumn("island",
      sum(isStart).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
    islands.groupBy("user_id", "island")
      .agg(count(lit(1)).as("n_iv"), min("lo").as("i_lo"), max("hi").as("i_hi"))
      .groupBy("user_id")
      .agg(sum("n_iv").as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("i_hi") - col("i_lo")).as("covered_us"))
      .orderBy("user_id")
  }

  /** qab: sequential-pattern support — for each ORDERED pair of event
    * types (a, b), the number of sessions containing an a-event strictly
    * before some b-event (SPAM/PrefixSpan's length-2 core, the ordered
    * counterpart of q9m's unordered basket lift). Sessions are (user, day).
    *
    * The trick that makes it linear: "∃ a before b in session" ⟺
    * min_ts(a) < max_ts(b), so one session×type aggregate (min/max ts)
    * replaces the quadratic event self-join; the pair enumeration then
    * runs over sessions × |types|² (|types| = 5 here), not events². At
    * 100 TB: one shuffle on the session key, and the pair join is a
    * self-join of the tiny per-session type summary on that same key —
    * AQE reuses the partitioning, nothing touches raw events twice. */
  def seqPairs(spark: SparkSession, dir: String,
      minSupport: Int = 20): DataFrame = {
    val s = Tables(spark, dir, "events")
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        col("event_type"), unix_micros(col("ts")).as("t"))
      .groupBy("user_id", "day_s", "event_type")
      .agg(min("t").as("t_min"), max("t").as("t_max"))
    val a = s.select(col("user_id"), col("day_s"),
      col("event_type").as("a"), col("t_min"))
    val b = s.select(col("user_id"), col("day_s"),
      col("event_type").as("b"), col("t_max"))
    a.join(b, Seq("user_id", "day_s"))
      .where(col("a") =!= col("b") && col("t_min") < col("t_max"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_sessions"))
      .where(col("n_sessions") >= minSupport)
      .orderBy("a", "b")
  }

  /** qag: longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom on a DENSE integer axis: for distinct active
    * days numbered rn within a user, (day_index − rn) is constant exactly
    * along a run of consecutive days, so one window pass + two aggregates
    * replace any self-join. Per user: longest streak, total active days,
    * number of streaks. Day indexes travel as epoch-day integers. */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables(spark, dir, "events")
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('day', ts)) div 86400").as("day_i"))
      .distinct()
    val rn = row_number().over(Window.partitionBy("user_id").orderBy("day_i"))
    days.withColumn("g", col("day_i") - rn)
      .groupBy("user_id", "g").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("longest_streak"),
        sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** qah: autocorrelation of the hourly event-count series at lag 1 and
    * lag 24 (the seasonality screen a forecasting pipeline runs first).
    * The series is the OUTPUT of an aggregate — thousands of rows per
    * year regardless of event volume — so the single-partition lag
    * window is a driver-scale post-processing step, not a scale risk;
    * the heavy lifting is the hour-keyed count, which shuffles once. */
  def hourlyAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val series = Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.orderBy("hour_s")
    series
      .select(col("n"), lag("n", 1).over(w).as("n1"),
        lag("n", 24).over(w).as("n24"))
      .agg(count(lit(1)).as("n_hours"),
        round(corr(col("n"), col("n1")), 6).as("lag1_corr"),
        round(corr(col("n"), col("n24")), 6).as("lag24_corr"))
  }

  /** qar: truncated exponentially-weighted moving average of the hourly
    * count series per event type — the smoothing pass behind alerting
    * baselines (q9f's z-score on a steadier center). The EWMA recursion
    * is unrolled to a 13-term weighted sum over explicit lag() columns
    * (weight (1−α)^k at lag k, renormalized over the lags that exist
    * near the series start) — deterministic in both engines because
    * every term is an explicit double product and the sum has a fixed
    * association order, unlike a recursive formulation. The window is
    * type-partitioned; the series is aggregate-output-sized. */
  def hourlyEwma(spark: SparkSession, dir: String, alpha: Double = 0.3,
      horizon: Int = 12): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hour_s")
    val counts = Tables(spark, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
    val terms = (0 to horizon).map { k =>
      val wt = math.pow(1.0 - alpha, k)
      val x = if (k == 0) col("n") else lag("n", k).over(w)
      (when(x.isNotNull, lit(wt)).otherwise(lit(0.0)),
        coalesce(x * lit(wt), lit(0.0)))
    }
    val num = terms.map(_._2).reduce(_ + _)
    val den = terms.map(_._1).reduce(_ + _)
    counts
      .select(col("hour_s"), col("event_type"), col("n").cast("long").as("n"),
        round(num / den, 6).as("ewma"))
      .orderBy("event_type", "hour_s")
  }

  /** qau: churn screen — per user: activity span, volume, days inactive
    * relative to the corpus max day (deterministic, never wall-clock),
    * and the churned flag at a 7-day threshold. One user-keyed
    * aggregate joined to a broadcast scalar; the shape every retention
    * dashboard starts from. */
  def churnFlags(spark: SparkSession, dir: String,
      churnDays: Int = 7): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val maxDay = ev.agg(max("day").as("d_max"))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min("day").as("first_day"), max("day").as("last_day"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"), col("n_events"),
        unix_timestamp(col("first_day")).as("first_day_s"),
        unix_timestamp(col("last_day")).as("last_day_s"),
        datediff(col("d_max"), col("last_day")).as("days_inactive"),
        (datediff(col("d_max"), col("last_day")) > churnDays).as("churned"))
      .orderBy("user_id")
  }

  /** qav: day-of-week × hour-of-day activity profile with per-cell
    * χ²-against-uniform contributions — the seasonality fingerprint
    * (and the denominator a scheduler uses to pick low-traffic
    * maintenance windows). The 7×24 axis is GENERATED dense (a
    * zero-count cell deviates from uniform too — dropping it biases
    * χ² down), the observed counts left-join onto it, and the expected
    * value is a broadcast scalar. Output is axis-sized regardless of
    * event volume. */
  def dowHourProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "events")
      .select((dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n"))
    val axis = spark.range(1)
      .select(explode(sequence(lit(0), lit(6))).as("dow"))
      .select(col("dow"), explode(sequence(lit(0), lit(23))).as("hr"))
    val total = counts.agg(sum("n").as("total"))
    axis.join(counts, Seq("dow", "hr"), "left")
      .select(col("dow"), col("hr"), coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("dow"), col("hr"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round(pow(col("n") - col("total") / lit(168.0), 2)
          / (col("total") / lit(168.0)), 6).as("chi2_term"))
      .orderBy("dow", "hr")
  }

  /** qb0: cart-abandonment rate per day — sessions that click but never
    * purchase AFTERWARDS (a purchase before the first click doesn't
    * rescue the session; the q8o strictly-after discipline). The
    * quadratic "purchase after click exists" reduces to
    * max(purchase_ts) > min(click_ts) — one session-keyed min/max
    * aggregate, then a day rollup. */
  def cartAbandonment(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "events")
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        col("event_type"), unix_micros(col("ts")).as("t"))
      .groupBy("user_id", "day_s")
      .agg(min(when(col("event_type") === "click", col("t"))).as("c_min"),
        max(when(col("event_type") === "purchase", col("t"))).as("p_max"))
      .where(col("c_min").isNotNull)
    s.groupBy("day_s")
      .agg(count(lit(1)).as("n_click_sessions"),
        sum(when(col("p_max").isNull || col("p_max") <= col("c_min"), 1L)
          .otherwise(0L)).as("n_abandoned"))
      .withColumn("abandon_rate",
        round(col("n_abandoned").cast("double") / col("n_click_sessions"), 6))
      .orderBy("day_s")
  }

  /** qb3: session-duration histogram on a DECIMAL-digit scale — duration
    * bins by number of digits of the span in seconds (exact integer
    * binning; a log2/log10 float bin flips at exact powers because
    * ln(8)/ln(2) < 3 in IEEE — the same cross-engine trap q9o's digit
    * extraction dodges arithmetically). Sessions are (user, day); one
    * session aggregate, one bin rollup, bounded output. */
  def sessionDurationHist(spark: SparkSession, dir: String): DataFrame = {
    val durations = Tables(spark, dir, "events")
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        unix_timestamp(col("ts")).as("t"))
      .groupBy("user_id", "day_s")
      .agg((max("t") - min("t")).as("dur_s"))
    val total = durations.agg(count(lit(1)).as("total"))
    durations
      .groupBy(length(col("dur_s").cast("string")).as("digits"))
      .agg(count(lit(1)).as("n_sessions"),
        min("dur_s").as("min_dur_s"), max("dur_s").as("max_dur_s"))
      .crossJoin(broadcast(total))
      .select(col("digits"), col("n_sessions"),
        col("min_dur_s"), col("max_dur_s"),
        round(col("n_sessions").cast("double") / col("total"), 6).as("share"))
      .orderBy("digits")
  }

  /** qai: top session-opening paths — the ordered sequence of a session's
    * first three event types as one path string, counted across sessions
    * (the entry-funnel mining view; sessions are (user, day) as in qab).
    * One session-keyed window pass ranks events, the collect stays ≤ 3
    * rows per session, and the path count is an ordinary group-by — at
    * 100 TB everything shuffles on the session key once, then on the
    * (tiny) path domain. */
  def sessionPathTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = Window
      .partitionBy("user_id", "day_s").orderBy("ts", "event_id")
    val paths = Tables(spark, dir, "events")
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .groupBy("user_id", "day_s")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        s => s.getField("event_type")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** qb6: time-weighted average of each user's `value` series — trapezoidal
    * integration over the irregular event timeline divided by the observed
    * span, the correct mean for a signal SAMPLED at uneven intervals
    * (a plain avg over-weights bursts: ten readings in one minute count
    * ten times, even if the level never changed). One user-keyed window
    * pass pairs each event with its predecessor (ties broken by event_id
    * so both engines integrate the same polyline), one aggregate sums the
    * trapezoids. Dividing area by span BEFORE rounding keeps the result
    * at the signal's own magnitude, so 6-dp rounding is far above both
    * engines' double-sum noise. Single-event users have no span and are
    * excluded (same WHERE in the oracle). */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        unix_timestamp(col("ts")).as("t"))
      .select(col("user_id"), col("value"), col("t"),
        lag("value", 1).over(w).as("pv"), lag("t", 1).over(w).as("pt"))
      .where(col("pt").isNotNull)
    e.groupBy("user_id")
      .agg(sum((col("value") + col("pv")) / 2 * (col("t") - col("pt")))
          .as("area"),
        (max("t") - min("pt")).as("span_s"),
        (count(lit(1)) + 1).as("n_events"))
      .where(col("span_s") > 0)
      .select(col("user_id"), col("n_events"), col("span_s"),
        round(col("area") / col("span_s"), 6).as("twa"))
      .orderBy("user_id")
  }
}
