package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.J batch twins — the same window()/session_window()
  * semantics the streaming operators use, run on the static events table
  * so they are DuckDB-oracle-able. Event time is exposed as BIGINT epoch
  * seconds in outputs (ns-timestamp parity rule, SURVEY.md §7.3.1).
  */
object EventsBatch extends QueryGroup {

  /** 1-hour tumbling windows per event type. */
  private val eventsTumbling: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"))
      .select(unix_timestamp(col("w.start")).as("bucket_s"), col("event_type"),
              col("n"), col("sum_v"))
      .orderBy(col("bucket_s"), col("event_type"))

  /** Per-user session windows with a 30-minute gap. Oracle reconstructs
    * sessions with the lag + cumulative-flag idiom on the same µs values
    * Spark's session_window sees. */
  private val eventsSession: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts_us"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_v"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start_s"),
              col("n_events"), col("sum_v"))
      .orderBy(col("user_id"), col("session_start_s"))

  /** The stream-stream interval join run on the batch table — the SAME
    * code path as the streaming operator (StreamingOps.purchaseClickJoin;
    * watermarks are no-ops in batch), which makes the streaming
    * semantics DuckDB-oracle-able here, not just batch-equivalence-
    * tested in StreamingSpec. */
  private val eventsIntervalJoin: QFn = (s, d) =>
    graft.streaming.StreamingOps.purchaseClickJoin(Tables.events(s, d))
      .select(col("p_id"), col("p_user"),
              unix_micros(col("c_ts")).as("c_us"), col("c_value"))
      .orderBy(col("p_id"), col("c_us"), col("c_value"))

  /** Conversion funnel signup → click → purchase: each step's timestamp
    * must follow the previous step's (first-touch attribution). Three
    * keyed min-aggregations chained by co-partitioned user_id joins —
    * every shuffle is on the user key and each stage's cardinality only
    * shrinks, so the funnel holds its shape at 100 TB event volumes.
    * Step deltas stay in exact BIGINT ns until the final division. */
  private val eventsFunnel: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"), min(col("t1")).as("t1"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(s3.agg(
        count(lit(1)).as("n_purchase_after"),
        round((sum(col("t3") - col("t1")).cast("double")
          / count(lit(1))) / 1e9, 3).as("avg_signup_to_purchase_s")))
  }

  /** Weekly cohort retention — the engagement matrix every product
    * pipeline materializes: users bucketed by first-activity week
    * (cohort), then counted per (cohort, week-offset) they were active
    * in. Two user-keyed aggregations plus one bounded (cohort, offset)
    * rollup; all week math stays in exact BIGINT ns integer division.
    * At 100 TB the cohort assignment is a single min-aggregation on the
    * user key and the matrix is tiny — nothing here scales with event
    * count except the linear scans. */
  private val eventsRetention: QFn = (s, d) => {
    val W = 604800000000000L // one week in ns
    val e = Tables.events(s, d)
      .select(col("user_id"), expr(s"ts div $W").as("week"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    e.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_week"),
              (col("week") - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Hand-rolled sessionization — the lag + cumulative-flag idiom over
    * plain windows instead of session_window(): the formulation you
    * reach for when the gap rule is custom (per-user gaps, activity-type
    * resets) and the built-in can't express it. Emits exactly the rows
    * events_session emits (same 30-min gap on the same µs values), so
    * the two formulations cross-check each other through the oracle.
    * Scale shape: both windows partition by user_id — one shuffle, no
    * global sort; state per partition is one row of look-behind. */
  private val eventsSessionizeLag: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    Tables.events(s, d)
      .select(col("user_id"), col("value"), expr("ts div 1000").as("us"))
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
             col("us") - lag(col("us"), 1).over(w) >= 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(expr("min(us) div 1000000").as("session_start_s"),
           count(lit(1)).as("n_events"),
           round(sum(col("value")), 6).as("sum_v"))
      .select(col("user_id"), col("session_start_s"), col("n_events"), col("sum_v"))
      .orderBy(col("user_id"), col("session_start_s"))
  }

  /** Z-score anomaly gate per event type — the telemetry-cleaning pass a
    * training pipeline runs over behavioral logs: group stats from EXACT
    * decimal sums (s1, s2 — so mean/sd are identical doubles on any
    * engine/partitioning), broadcast back onto the rows, flag
    * |z| beyond 3 through the quantized round(z,6) gate (the
    * pipeline_e2e threshold pattern: both engines compare the same
    * 6-dp value, so a boundary row can't flip between them). Shape:
    * one partial-agg shuffle for stats, a broadcast join (stats are
    * |event types| rows), one final agg — the fact rows ride one
    * shuffle total. */
  private val eventsAnomaly: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val st = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           (sum(expr("CAST(floor((value) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double").as("s1"),
           (sum(expr("CAST(floor((value * value) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double").as("s2"))
    e.join(broadcast(st), "event_type")
      .withColumn("z", (col("value") - col("s1") / col("n")) /
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(round(col("z"), 6) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
           round(max(col("z")), 6).as("max_z"))
      .orderBy(col("event_type"))
  }

  /** Time-series gap fill + forward fill — the resample-to-grid shape
    * every metrics/feature pipeline needs (downstream models want a
    * dense per-key hourly series, raw logs are sparse). Per user: the
    * hourly grid spans [first, last] event hour via sequence+explode
    * (bounded by span, never by corpus), missing hours join as n=0, and
    * the last observed hourly sum is carried forward with
    * last(ignoreNulls) over an hour-ordered window. Scale shape: the
    * grid explode, the join, and the fill window all partition on
    * user_id — one key-local pipeline, no global ordering anywhere.
    * Restricted to user_id < 10 to keep the oracled output small; the
    * construction is per-key and scales with keys × span. This is
    * [[GraftOps.gapFillForward]] over (user_id, hour, value). */
  private val eventsGapFill: QFn = (s, d) =>
    GraftOps.gapFillForward(
        Tables.events(s, d).filter(col("user_id") < 10L)
          .select(col("user_id"), expr("ts div 3600000000000").as("hr"), col("value")),
        col("user_id"), col("hr"), col("value"))
      .select(col("gf_key").as("user_id"), col("gf_bucket").as("hr"),
        col("n"), col("filled_sum"))
      .orderBy(col("user_id"), col("hr"))

  /** First-order Markov transitions over each user's event stream — the
    * behavioral n-gram (what follows what) that powers next-event
    * features and funnel diagnostics. lead() over the per-user
    * time-ordered window pairs each event with its successor; pair
    * counts aggregate map-side; the transition probability divides two
    * exact counts (n / row-total via a window over the ≤|types|² pair
    * table), so it is the identical double on both engines. */
  private val eventsMarkov: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tw = Window.partitionBy(col("from_type"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") / sum(col("n")).over(tw), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Market-basket co-occurrence over behavioral sessions: which event
    * types appear together in the same session (the association shape —
    * its corpus twin mines tag/topic co-occurrence when curating
    * training mixes). Sessions come from the same 30-minute-gap lag
    * construction as events_sessionize_lag; items are DISTINCT types
    * per session (presence, not frequency); pair support counts via the
    * a<b self-join on the session key. Output is ≤ |types|² rows;
    * the self-join shuffles on the (user, session) key — bounded by
    * session sizes, never corpus-quadratic. */
  private val eventsBasket: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val items = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
             col("us") - lag(col("us"), 1).over(w) >= 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("sid"), col("event_type")).distinct()
      // round-18 opt: THREE consumers re-derived this table (session
      // total + both self-join sides re-ran the sessionize window and
      // the distinct) — checkpoint the bounded (user, session, type)
      // set once (the sim_mmr device; ~|sessions|·|types| rows, never
      // event-sized)
      .localCheckpoint()
    // 1-row session total rides a broadcast (the textCollocations
    // pattern) — no driver action, stays one lazy plan
    val nSess = items.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    items.as("x")
      .join(items.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.sid") === col("y.sid") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nSess))
      .select(col("ta"), col("tb"), col("support"),
        (col("support").cast("double") / col("n_sessions")).as("support_frac"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Linear multi-touch attribution: each purchase's credit splits
    * equally across the same user's clicks in the preceding hour, and
    * credit rolls up by the CLICK's hour-of-day — "which hours drive
    * conversions". The per-purchase share 1/n is quantized to integer
    * micro-credits (floor(1e6/n + 0.5), identical IEEE both engines) so
    * the rollup sums exact int64 — the float-portability recipe for
    * "distribute 1 across n rows then re-aggregate" shapes, which raw
    * double shares would make shuffle-order-sensitive. */
  private val eventsAttribution: QFn = (s, d) => {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("u"), col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts").as("c_ts"))
    val pairs = p.join(c, Seq("u"))
      .filter(col("c_ts") > col("p_ts") - lit(hourNs) && col("c_ts") < col("p_ts"))
    val shares = pairs
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))))
      .withColumn("mc", floor(lit(1000000.0) / col("n") + 0.5).cast("long"))
    shares
      .withColumn("click_hod", expr("(c_ts div 3600000000000) % 24"))
      .groupBy(col("click_hod"))
      .agg(count(lit(1)).as("n_touches"),
           (sum(col("mc")).cast("double") / lit(1000000L)).as("credit"))
      .orderBy(col("click_hod"))
  }

  /** Inter-event latency profile per event type — the operational
    * "time between consecutive user actions" distribution (median and
    * tail) that rate models and staleness monitors read. Latencies are
    * exact int64 ns diffs from lead() over the per-user timeline;
    * percentile interpolation operates on those identical integers
    * (the agg_percentile recipe), reported in seconds at 3 dp. */
  private val eventsLatency: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("lat", col("next_ts") - col("ts"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(expr("percentile(lat, 0.5)") / 1e9, 3).as("p50_s"),
           round(expr("percentile(lat, 0.95)") / 1e9, 3).as("p95_s"))
      .orderBy(col("event_type"))
  }

  /** Seasonal-naive forecast baseline + backtest MAE — the first model
    * every volume-forecasting pipeline must beat, and the eval loop
    * that proves it: hourly event counts per type (one map-side-
    * combining groupBy), prediction for hour h = the observed count at
    * h−24 (same type — the self-equality-join on the AGGREGATED hourly
    * grid, never raw events), scored only where the 24h-back hour was
    * observed. MAE stays exact: |n−pred| is an integer, the mean is one
    * closing division of exact int64 sums. Output per type: scored
    * hours, total absolute error, MAE. */
  private val eventsForecast: QFn = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"), expr("ts div 3600000000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    hourly
      .join(hourly.select(col("event_type"), (col("h") + 24L).as("h"),
        col("n").as("pred")), Seq("event_type", "h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
           sum(abs(col("n") - col("pred"))).as("total_abs_err"))
      .select(col("event_type"), col("n_hours"), col("total_abs_err"),
        (round(col("total_abs_err").cast("double") / col("n_hours"), 6)
          + lit(0.0)).as("mae"))
      .orderBy(col("event_type"))
  }

  /** Rolling-origin 3-fold backtest of the seasonal-naive forecaster —
    * the honest eval loop events_forecast's single full-range MAE only
    * gestures at: three cutoff origins anchored to the grid's last hour
    * (hmax − 72/48/24), each scoring the NEXT 24 hours against the
    * lag-24 prediction, whose source hour h−24 ≤ origin is always
    * in-train by construction. Per (event_type, fold): scored hours,
    * total absolute error, MAE. Scale shape identical to
    * events_forecast — everything after the first aggregation is
    * grid-sized (|types| × |hours|), the 1-row hmax aggregate is a
    * broadcast, and the 3-fold expansion is a 3-element explode on the
    * grid, never on raw events. */
  private val eventsForecastBacktest: QFn = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"), expr("ts div 3600000000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    val hmax = hourly.agg(max(col("h")).as("hmax"))
    val test = hourly.crossJoin(broadcast(hmax))
      .withColumn("fold", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("origin", col("hmax") - lit(24L) * (lit(4L) - col("fold")))
      .filter(col("h") > col("origin") && col("h") <= col("origin") + 24L)
      .select(col("event_type"), col("fold"), col("h"), col("n"))
    test
      .join(hourly.select(col("event_type"), (col("h") + 24L).as("h"),
        col("n").as("pred")), Seq("event_type", "h"))
      .groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("n_hours"),
           sum(abs(col("n") - col("pred"))).as("total_abs_err"))
      .select(col("event_type"), col("fold"), col("n_hours"),
        col("total_abs_err"),
        (round(col("total_abs_err").cast("double") / col("n_hours"), 6)
          + lit(0.0)).as("mae"))
      .orderBy(col("event_type"), col("fold"))
  }

  /** Per-user rate-limit audit — the quota/burst screen telemetry
    * pipelines run before trusting event volumes (a scripted client
    * hammering one hour pollutes counts, funnels, and any model trained
    * on them): events bucketed per (user, hour), hours over the quota
    * (> 2 events/hour — the fixture's p99.8) flagged, flagged users
    * reported with their worst hour. Two key-partitioned integer
    * aggregations — (user, hour) then user — both map-side combining;
    * nothing touches raw event order or needs a window. */
  private val eventsQuota: QFn = (s, d) => {
    val hr = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 3600000000000").as("hr"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("c"))
    hr.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_hours"),
           max(col("c")).as("max_per_hour"),
           sum(when(col("c") > 2L, 1L).otherwise(0L)).as("n_over"))
      .filter(col("n_over") > 0L)
      .orderBy(col("user_id"))
  }

  /** DAU / WAU stickiness — the engagement ratio every product
    * scorecard tracks (and a drift signal for event-stream health):
    * daily active users, trailing-7-day active users, and their ratio
    * per observed day. The WAU side needs no range join or window: a
    * (user, day) activity row contributes to the 7 grid days
    * [day, day+6], so ONE 7-element explode + countDistinct gives
    * every trailing window at once — shuffles bounded by
    * 7 × |user-days|, never raw events, and the distinct-user
    * aggregation map-side combines. */
  /** Cumulative distinct users by first-seen day — the user-growth
    * curve every product/ingest dashboard opens with (and the
    * denominator for activation/retention ratios): per user the min
    * activity day, per day the new-user count, then the running total.
    * The expanding window runs over the AGGREGATED per-day table
    * (≤ |days| rows — the agg_ks single-partition-is-safe argument),
    * never events; the only data-sized operation is one
    * map-side-combining groupBy(user). All-integer day math (`ts div
    * 86400e9`), so cumulative counts are exact on any engine. */
  private val eventsCumulativeUsers: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(expr("ts div 86400000000000")).as("day"))
    val perDay = firstSeen.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy(col("day"))
  }

  private val eventsDauWau: QFn = (s, d) => {
    // eager localCheckpoint: the (user, day) activity table — bounded
    // by |users| × |days|, far below raw events — feeds both the DAU
    // and the WAU aggregate; one events scan, not two
    val du = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
      .localCheckpoint()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("n_dau"))
    val wau = du
      .select(col("user_id"),
        explode(expr("sequence(day, day + 6)")).as("g"))
      .groupBy(col("g"))
      .agg(countDistinct(col("user_id")).as("n_wau"))
    dau.join(wau, col("day") === col("g"))
      .select(col("day"), col("n_dau"), col("n_wau"),
        round(col("n_dau").cast("double") / col("n_wau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  /** RFM (recency / frequency / monetary) user segmentation — the
    * classic engagement-scoring recipe (Hughes' direct-marketing RFM; a
    * standard cohorting feature for churn/LTV models and telemetry
    * triage): per user, hours since the last event (against the corpus
    * max timestamp — exact int64 ns subtraction then `div`, never
    * float), total event count, and the exact-DECIMAL sum of purchase
    * values; each dimension scored into quintiles with ntile(5) over a
    * FULLY tie-broken order (metric, then user_id — the repo's ntile
    * closed-form law makes the bucket split engine-portable), segment =
    * concatenated "RFM" digit string. The monetary ORDER key is the
    * un-rounded DECIMAL (exact compares; a double sum's partial order
    * would be partitioning-dependent). Scale shape: one map-side-
    * combining groupBy(user) collapses events to |users| rows before
    * the three windows; the global ntile sorts ~24 B/user — the
    * text_quality_bucket posture. This rung is the declared EXACT
    * companion; past ~10⁹ users run its shipped twin
    * `events_rfm_approx` (broadcast approx_percentile cutpoints, zero
    * WindowExec, LawsSpec-bounded against this rung). This is
    * [[GraftOps.rfmSegments]] with purchases as the monetary rows and
    * hourly recency. */
  private val eventsRfm: QFn = (s, d) =>
    GraftOps.rfmSegments(Tables.events(s, d), col("user_id"), col("ts"),
        col("value"), col("event_type") === "purchase")
      .withColumnRenamed("r_units", "r_hours")
      .orderBy(col("user_id"))

  /** The RUNNABLE 100 TB twin of events_rfm (round-15 verdict item 1 —
    * the text_quality_bucket_approx recipe applied to the second of
    * the three exact-ntile rungs): the same per-user base
    * ([[GraftOps.rfmBase]]), but all three quintile scores come from
    * approx_percentile cutpoints (Greenwald-Khanna, accuracy 10⁴)
    * computed in ONE constant-memory aggregation pass over the
    * |users|-row base and broadcast into CASE arithmetic. No global sort, zero WindowExec anywhere in the
    * plan (PlanSpec-pinned). Tie semantics differ from the exact rung
    * by design: ntile splits equal values across buckets by user_id,
    * a value threshold keeps them together — LawsSpec bounds the
    * disagreement by the boundary tie mass plus the sketch's rank
    * error. Not oracled: the sketch is engine-specific — events_rfm
    * remains the oracled shape, this twin is the scale path. */
  private val eventsRfmApprox: QFn = (s, d) => {
    val base = GraftOps.rfmBase(Tables.events(s, d), col("user_id"), col("ts"),
        col("value"), col("event_type") === "purchase", 3600000000000L)
      .withColumnRenamed("r_units", "r_hours")
    val acc = 10000
    val cuts = base.agg(
      expr(s"approx_percentile(CAST(r_hours AS DOUBLE), array(0.2D, 0.4D, 0.6D, 0.8D), $acc)").as("cr"),
      expr(s"approx_percentile(CAST(frequency AS DOUBLE), array(0.8D, 0.6D, 0.4D, 0.2D), $acc)").as("cf"),
      expr(s"approx_percentile(CAST(mon_dec AS DOUBLE), array(0.8D, 0.6D, 0.4D, 0.2D), $acc)").as("cm"))
    // ascending dim (recency): score s covers (c_{(s−1)/5}, c_{s/5}];
    // descending dims (frequency, monetary): score s covers the top
    // (s−1)/5..s/5 quantile slice, ties kept in the better bucket
    import org.apache.spark.sql.Column
    def asc(v: Column, c: Column): Column = (1 to 4)
      .map(k => when(v > element_at(c, k), 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    def desc(v: Column, c: Column): Column = (1 to 4)
      .map(k => when(v < element_at(c, k), 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    base.crossJoin(broadcast(cuts))
      .withColumn("r_score", asc(col("r_hours").cast("double"), col("cr")))
      .withColumn("f_score", desc(col("frequency").cast("double"), col("cf")))
      .withColumn("m_score", desc(col("mon_dec").cast("double"), col("cm")))
      .select(col("user_id"), col("r_hours"), col("frequency"),
        round(col("mon_dec").cast("double"), 4).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
               col("m_score").cast("string")).as("segment"))
      .orderBy(col("user_id"))
  }

  /** Frequent ordered event TRIPLES within sessions — sequence mining's
    * first rung (PrefixSpan-lite; events_markov covers pairs, this adds
    * the order-3 patterns funnel diagnostics and next-action models
    * start from): 30-minute-gap sessionization (the events_sessionize_
    * lag spelling, tie-broken by event_id for a total order), each
    * in-session position paired with its next two types via lead(),
    * exact integer counts, top-10 fully tie-broken. Scale shape: both
    * windows are key-partitioned (user, then user×session); the triple
    * count is one map-side-combining groupBy over ≤|types|³ groups and
    * the top-10 is a TakeOrdered — no global sort. */
  private val eventsSequence: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
             col("us") - lag(col("us"), 1).over(w) >= 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("us"), col("event_id"))
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(ws))
      .withColumn("t3", lead(col("event_type"), 2).over(ws))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(10)
  }

  /** A/B experiment readout — the decision surface every
    * experimentation platform materializes from raw events: users are
    * assigned to arms by PORTABLE HASH of user_id (never raw-id parity
    * — sequential ids correlate with signup time; the sample_hash md5
    * recipe, so assignment is reproducible on any engine), the metric
    * is per-USER total purchase value (the unit of analysis must be
    * the randomization unit — pooling raw events would violate
    * within-user independence), and the readout is the Welch two-
    * sample t over the per-user totals (agg_ttest's exact-decimal
    * closed form: per-user totals are exact DECIMAL sums, arm-level
    * Σx / Σx² go through the per-term DECIMAL pre-cast, the t/df
    * closed form runs on engine-identical doubles). A null experiment
    * by construction — assignment hash is independent of behavior —
    * so |t| is small and `significant` false; the flag compares the
    * UNROUNDED t against 1.96, no rounded-boundary exposure. One
    * user-keyed aggregation + one 2-row arm fold: two shuffles
    * total, both key-partitioned. */
  private val eventsAbTest: QFn = (s, d) => {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      // round-18 opt: micros accumulator, rescaled through DECIMAL so
      // td carries the identical value the DECIMAL(18,6) sum held
      .agg((sum(when(col("event_type") === "purchase",
          expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)"))
        .otherwise(lit(0L))).cast("decimal(26,0)") / lit(1000000)).as("td"))
      .select(
        (graft.functions.GraftFunctions.md5Prefix48(col("user_id").cast("string"))
          % 2L).as("arm"),
        col("td").cast("double").as("t"))
    val m = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).cast("double").as("nd"),
        (sum(expr("CAST(floor((t) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double").as("sx"),
        (sum(expr("CAST(floor((t * t) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double").as("sxx"))
    def pick(c: String, a: Int) =
      max(when(col("arm") === a.toLong, col(c))).as(s"${c}$a")
    m.agg(pick("nd", 0), pick("sx", 0), pick("sxx", 0),
          pick("nd", 1), pick("sx", 1), pick("sxx", 1))
      .withColumn("m0", col("sx0") / col("nd0"))
      .withColumn("m1", col("sx1") / col("nd1"))
      // n=1 arm guard (round-11 advice): Spark double ÷0 yields
      // Inf/NaN while DuckDB yields NULL — a degenerate fixture would
      // silently diverge from the oracle. Emit NULL variance
      // explicitly on BOTH engines; every downstream stat then NULLs
      // identically by propagation, so a degenerate arm reads as an
      // unambiguous all-NULL readout, not an engine-dependent number.
      .withColumn("v0", when(col("nd0") > lit(1.0),
        (col("nd0") * col("sxx0") - col("sx0") * col("sx0"))
          / (col("nd0") * (col("nd0") - lit(1.0)))))
      .withColumn("v1", when(col("nd1") > lit(1.0),
        (col("nd1") * col("sxx1") - col("sx1") * col("sx1"))
          / (col("nd1") * (col("nd1") - lit(1.0)))))
      .withColumn("se2", col("v0") / col("nd0") + col("v1") / col("nd1"))
      .withColumn("tu", (col("m0") - col("m1")) / sqrt(col("se2")))
      .select(
        col("nd0").cast("long").as("n_a"),
        col("nd1").cast("long").as("n_b"),
        (round(col("m0"), 6) + lit(0.0)).as("mean_a"),
        (round(col("m1"), 6) + lit(0.0)).as("mean_b"),
        (round(col("m0") - col("m1"), 6) + lit(0.0)).as("mean_diff"),
        (round(col("tu"), 6) + lit(0.0)).as("t_stat"),
        (round(col("se2") * col("se2")
          / ((col("v0") / col("nd0")) * (col("v0") / col("nd0")) / (col("nd0") - lit(1.0))
           + (col("v1") / col("nd1")) * (col("v1") / col("nd1")) / (col("nd1") - lit(1.0))), 2)
          + lit(0.0)).as("df_welch"),
        (abs(col("tu")) > lit(1.96)).as("significant"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "events_ab_test" -> eventsAbTest,
    "events_quota" -> eventsQuota,
    "events_rfm" -> eventsRfm,
    "events_rfm_approx" -> eventsRfmApprox,
    "events_sequence" -> eventsSequence,
    "events_dau_wau" -> eventsDauWau,
    "events_cumulative_users" -> eventsCumulativeUsers,
    "events_tumbling" -> eventsTumbling,
    "events_session" -> eventsSession,
    "events_sessionize_lag" -> eventsSessionizeLag,
    "events_interval_join" -> eventsIntervalJoin,
    "events_funnel" -> eventsFunnel,
    "events_retention" -> eventsRetention,
    "events_anomaly" -> eventsAnomaly,
    "events_gap_fill" -> eventsGapFill,
    "events_markov" -> eventsMarkov,
    "events_basket" -> eventsBasket,
    "events_attribution" -> eventsAttribution,
    "events_latency" -> eventsLatency,
    "events_forecast" -> eventsForecast,
    "events_forecast_backtest" -> eventsForecastBacktest,
  )

  val oracles: Seq[(String, String)] = Seq(
    "events_ab_test" ->
      """WITH pu AS (
           SELECT user_id,
                  sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS td
           FROM events GROUP BY user_id),
         a AS (
           SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                   % 2) AS arm,
                  CAST(td AS DOUBLE) AS t
           FROM pu),
         m AS (
           SELECT arm, CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(t * t AS DECIMAL(18,6))) AS DOUBLE) AS sxx
           FROM a GROUP BY arm),
         p AS (
           SELECT max(CASE WHEN arm = 0 THEN nd END) AS nd0,
                  max(CASE WHEN arm = 0 THEN sx END) AS sx0,
                  max(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
                  max(CASE WHEN arm = 1 THEN nd END) AS nd1,
                  max(CASE WHEN arm = 1 THEN sx END) AS sx1,
                  max(CASE WHEN arm = 1 THEN sxx END) AS sxx1
           FROM m),
         c AS (
           SELECT nd0, nd1, sx0 / nd0 AS m0, sx1 / nd1 AS m1,
                  CASE WHEN nd0 > 1.0 THEN
                    (nd0 * sxx0 - sx0 * sx0) / (nd0 * (nd0 - 1.0)) END AS v0,
                  CASE WHEN nd1 > 1.0 THEN
                    (nd1 * sxx1 - sx1 * sx1) / (nd1 * (nd1 - 1.0)) END AS v1
           FROM p),
         e AS (SELECT nd0, nd1, m0, m1, v0, v1,
                      v0 / nd0 + v1 / nd1 AS se2 FROM c)
         SELECT CAST(nd0 AS BIGINT) AS n_a,
                CAST(nd1 AS BIGINT) AS n_b,
                round(m0, 6) + 0.0 AS mean_a,
                round(m1, 6) + 0.0 AS mean_b,
                round(m0 - m1, 6) + 0.0 AS mean_diff,
                round((m0 - m1) / sqrt(se2), 6) + 0.0 AS t_stat,
                round(se2 * se2 / ((v0 / nd0) * (v0 / nd0) / (nd0 - 1.0)
                                 + (v1 / nd1) * (v1 / nd1) / (nd1 - 1.0)), 2)
                  + 0.0 AS df_welch,
                abs((m0 - m1) / sqrt(se2)) > 1.96 AS significant
         FROM e""",
    "events_sequence" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_ns(ts) // 1000 AS us
                    FROM events),
            f AS (SELECT user_id, event_id, event_type, us,
                         CASE WHEN lag(us) OVER w IS NULL
                                OR us - lag(us) OVER w >= 1800000000
                              THEN 1 ELSE 0 END AS new_s
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sfl AS (SELECT user_id, event_id, event_type, us,
                           sum(new_s) OVER (PARTITION BY user_id
                                            ORDER BY us, event_id
                                            ROWS UNBOUNDED PRECEDING) AS sid
                    FROM f),
            tr AS (SELECT event_type AS t1,
                          lead(event_type, 1) OVER ws AS t2,
                          lead(event_type, 2) OVER ws AS t3
                   FROM sfl
                   WINDOW ws AS (PARTITION BY user_id, sid
                                 ORDER BY us, event_id))
         SELECT t1, t2, t3, count(*) AS n
         FROM tr WHERE t3 IS NOT NULL
         GROUP BY t1, t2, t3
         ORDER BY n DESC NULLS LAST, t1 ASC NULLS FIRST,
                  t2 ASC NULLS FIRST, t3 ASC NULLS FIRST
         LIMIT 10""",
    "events_rfm" ->
      """WITH per AS (
           SELECT user_id, max(epoch_ns(ts)) AS last_ns, count(*) AS frequency,
                  sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS mon_dec
           FROM events GROUP BY user_id),
            mx AS (SELECT max(epoch_ns(ts)) AS max_ns FROM events),
            b AS (SELECT user_id,
                         (max_ns - last_ns) // 3600000000000 AS r_hours,
                         frequency, mon_dec
                  FROM per CROSS JOIN mx),
            sc AS (SELECT user_id, r_hours, frequency, mon_dec,
                          CAST(ntile(5) OVER (ORDER BY r_hours ASC, user_id ASC)
                               AS BIGINT) AS r_score,
                          CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
                               AS BIGINT) AS f_score,
                          CAST(ntile(5) OVER (ORDER BY mon_dec DESC, user_id ASC)
                               AS BIGINT) AS m_score
                   FROM b)
         SELECT user_id, r_hours, frequency,
                round(CAST(mon_dec AS DOUBLE), 4) AS monetary,
                r_score, f_score, m_score,
                CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                  || CAST(m_score AS VARCHAR) AS segment
         FROM sc ORDER BY user_id ASC NULLS FIRST""",
    "events_quota" ->
      """WITH h AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr,
                           count(*) AS c
                    FROM events GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_hours,
                CAST(max(c) AS BIGINT) AS max_per_hour,
                CAST(sum(CASE WHEN c > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_over
         FROM h GROUP BY user_id
         HAVING sum(CASE WHEN c > 2 THEN 1 ELSE 0 END) > 0
         ORDER BY user_id ASC NULLS FIRST""",
    "events_cumulative_users" ->
      """WITH fs AS (SELECT user_id,
                            min(epoch_ns(ts) // 86400000000000) AS day
                     FROM events GROUP BY user_id),
            pd AS (SELECT day, count(*) AS n_new FROM fs GROUP BY day)
         SELECT day, n_new,
                CAST(sum(n_new) OVER (ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS cum_users
         FROM pd ORDER BY day ASC NULLS FIRST""",
    "events_dau_wau" ->
      """WITH du AS (SELECT DISTINCT user_id,
                            epoch_ns(ts) // 86400000000000 AS day
                     FROM events),
           dau AS (SELECT day, count(*) AS n_dau FROM du GROUP BY day),
           g AS (SELECT user_id, unnest(range(day, day + 7)) AS g FROM du),
           wau AS (SELECT g, count(DISTINCT user_id) AS n_wau FROM g GROUP BY g)
         SELECT day, n_dau, n_wau,
                round(CAST(n_dau AS DOUBLE) / n_wau, 6) AS stickiness
         FROM dau JOIN wau ON dau.day = wau.g
         ORDER BY day ASC NULLS FIRST""",
    "events_tumbling" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s, event_type,
                count(*) AS n, round(sum(value), 6) AS sum_v
         FROM events
         GROUP BY 1, 2
         ORDER BY bucket_s ASC NULLS FIRST, event_type ASC NULLS FIRST""",
    "events_session" ->
      """WITH e AS (SELECT user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
            flagged AS (
              SELECT user_id, value, us,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC)),
            sess AS (
              SELECT user_id, value, us,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY us ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged)
         SELECT user_id, min(us) // 1000000 AS session_start_s,
                count(*) AS n_events, round(sum(value), 6) AS sum_v
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id ASC NULLS FIRST, session_start_s ASC NULLS FIRST""",
    "events_sessionize_lag" ->
      """WITH e AS (SELECT user_id, value, epoch_ns(ts) // 1000 AS us FROM events),
            flagged AS (
              SELECT user_id, value, us,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC)),
            sess AS (
              SELECT user_id, value, us,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY us ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged)
         SELECT user_id, min(us) // 1000000 AS session_start_s,
                count(*) AS n_events, round(sum(value), 6) AS sum_v
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id ASC NULLS FIRST, session_start_s ASC NULLS FIRST""",
    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS week FROM events),
            c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
            a AS (SELECT DISTINCT e.user_id, c.cohort_week,
                         e.week - c.cohort_week AS week_offset
                  FROM e JOIN c ON e.user_id = c.user_id)
         SELECT cohort_week, week_offset, count(*) AS n_active
         FROM a GROUP BY cohort_week, week_offset
         ORDER BY cohort_week ASC NULLS FIRST, week_offset ASC NULLS FIRST""",
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2, min(s1.t1) AS t1
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t1
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3, min(s2.t1) AS t1
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t2
                   GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM s1) AS n_signup,
                (SELECT count(*) FROM s2) AS n_click_after,
                (SELECT count(*) FROM s3) AS n_purchase_after,
                (SELECT round((CAST(CAST(sum(t3 - t1) AS BIGINT) AS DOUBLE)
                               / count(*)) / 1e9, 3) FROM s3) AS avg_signup_to_purchase_s""",
    "events_interval_join" ->
      """WITH p AS (SELECT event_id p_id, user_id p_user, epoch_ns(ts) // 1000 AS p_us
                    FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id c_user, epoch_ns(ts) // 1000 AS c_us, value c_value
                  FROM events WHERE event_type = 'click')
         SELECT p_id, p_user, c_us, c_value
         FROM p JOIN c ON p_user = c_user
                      AND c_us >= p_us - 3600000000 AND c_us < p_us
         ORDER BY p_id ASC NULLS FIRST, c_us ASC NULLS FIRST,
                  c_value ASC NULLS FIRST""",
    "events_anomaly" ->
      """WITH st AS (SELECT event_type, count(*) AS n,
                            CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
                            CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
                     FROM events GROUP BY event_type),
            z AS (SELECT e.event_type,
                         (e.value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
                  FROM events e JOIN st ON e.event_type = st.event_type)
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN round(z, 6) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_outliers,
                round(max(z), 6) AS max_z
         FROM z GROUP BY event_type
         ORDER BY event_type ASC NULLS FIRST""",
    "events_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr, value
                    FROM events WHERE user_id < 10),
            p AS (SELECT user_id, hr, count(*) AS n, round(sum(value), 6) AS sum_v
                  FROM e GROUP BY user_id, hr),
            b AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY user_id),
            g AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM b)
         SELECT g.user_id, g.hr, CAST(coalesce(p.n, 0) AS BIGINT) AS n,
                last_value(p.sum_v IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.hr ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
         FROM g LEFT JOIN p ON g.user_id = p.user_id AND g.hr = p.hr
         ORDER BY g.user_id ASC NULLS FIRST, g.hr ASC NULLS FIRST""",
    "events_markov" ->
      """WITH s AS (SELECT user_id, event_type,
                           lead(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_ns(ts) ASC, event_id ASC) AS to_type
                    FROM events),
            c AS (SELECT event_type AS from_type, to_type, count(*) AS n
                  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                round(CAST(n AS DOUBLE)
                      / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
         FROM c
         ORDER BY from_type ASC NULLS FIRST, to_type ASC NULLS FIRST""",
    "events_basket" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
            flagged AS (
              SELECT user_id, event_type, us,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC)),
            sess AS (
              SELECT user_id, event_type,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY us ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged),
            items AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
            ns AS (SELECT count(*) AS n_sessions
                   FROM (SELECT DISTINCT user_id, sid FROM items)),
            sup AS (SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS support
                    FROM items x JOIN items y
                      ON x.user_id = y.user_id AND x.sid = y.sid
                     AND x.event_type < y.event_type
                    GROUP BY 1, 2)
         SELECT ta, tb, support,
                CAST(support AS DOUBLE) / n_sessions AS support_frac
         FROM sup CROSS JOIN ns
         ORDER BY ta ASC NULLS FIRST, tb ASC NULLS FIRST""",
    "events_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS u, epoch_ns(ts) AS p_ts
                    FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id AS u, epoch_ns(ts) AS c_ts
                  FROM events WHERE event_type = 'click'),
            pairs AS (SELECT p_id, c_ts
                      FROM p JOIN c ON p.u = c.u
                       AND c_ts > p_ts - 3600000000000 AND c_ts < p_ts),
            sh AS (SELECT c_ts,
                          CAST(floor(1000000.0 / (count(*) OVER (PARTITION BY p_id))
                                     + 0.5) AS BIGINT) AS mc
                   FROM pairs)
         SELECT (c_ts // 3600000000000) % 24 AS click_hod,
                count(*) AS n_touches,
                CAST(CAST(sum(mc) AS BIGINT) AS DOUBLE) / 1000000 AS credit
         FROM sh GROUP BY 1
         ORDER BY click_hod ASC NULLS FIRST""",
    "events_latency" ->
      """WITH l AS (SELECT event_type,
                           lead(epoch_ns(ts)) OVER (PARTITION BY user_id
                             ORDER BY epoch_ns(ts) ASC, event_id ASC)
                             - epoch_ns(ts) AS lat
                    FROM events),
            f AS (SELECT event_type, lat FROM l WHERE lat IS NOT NULL)
         SELECT event_type, count(*) AS n,
                round(quantile_cont(lat, 0.5) / 1e9, 3) AS p50_s,
                round(quantile_cont(lat, 0.95) / 1e9, 3) AS p95_s
         FROM f GROUP BY event_type
         ORDER BY event_type ASC NULLS FIRST""",
    "events_forecast" ->
      """WITH hourly AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
            scored AS (
           SELECT a.event_type, a.n, p.n AS pred
           FROM hourly a
           JOIN hourly p ON p.event_type = a.event_type
                        AND p.h + 24 = a.h)
         SELECT event_type, count(*) AS n_hours,
                CAST(sum(abs(n - pred)) AS BIGINT) AS total_abs_err,
                round(CAST(sum(abs(n - pred)) AS DOUBLE) / count(*), 6) + 0.0
                  AS mae
         FROM scored GROUP BY event_type
         ORDER BY event_type ASC NULLS FIRST""",
    "events_forecast_backtest" ->
      """WITH hourly AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
            mx AS (SELECT max(h) AS hmax FROM hourly),
            test AS (
           SELECT event_type, h, n, fold, hmax - 24 * (4 - fold) AS origin
           FROM hourly CROSS JOIN mx
                CROSS JOIN (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS fold) f
           WHERE h > hmax - 24 * (4 - fold)
             AND h <= hmax - 24 * (4 - fold) + 24),
            scored AS (
           SELECT t.event_type, t.fold, t.n, p.n AS pred
           FROM test t
           JOIN hourly p ON p.event_type = t.event_type
                        AND p.h + 24 = t.h)
         SELECT event_type, fold, count(*) AS n_hours,
                CAST(sum(abs(n - pred)) AS BIGINT) AS total_abs_err,
                round(CAST(sum(abs(n - pred)) AS DOUBLE) / count(*), 6) + 0.0
                  AS mae
         FROM scored GROUP BY event_type, fold
         ORDER BY event_type ASC NULLS FIRST, fold ASC NULLS FIRST""",
  )
}
