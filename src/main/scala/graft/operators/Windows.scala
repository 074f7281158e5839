package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.E — window functions. Every window is partitioned on a
  * high-cardinality key (custkey/user_id) so state stays bounded per
  * partition at scale; the one global window (ntile over customers) is
  * documented as a deliberate single-partition sort, acceptable only
  * because the customer dim is small relative to facts. Window order keys
  * always carry a unique tie-break (SURVEY.md §7.4).
  */
object Windows extends QueryGroup {

  /** row_number / rank / dense_rank of orders per customer by price. */
  private val winRank: QFn = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rk", rank().over(w).cast("long"))
      .withColumn("drk", dense_rank().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
              col("rn"), col("rk"), col("drk"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** lag/lead of event value per user + delta to previous. */
  private val winLagLead: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_v", lag(col("value"), 1).over(w))
      .withColumn("next_v", lead(col("value"), 1).over(w))
      .withColumn("delta_prev", col("value") - col("prev_v"))
      .select(col("event_id"), col("user_id"), col("value"),
              col("prev_v"), col("next_v"), col("delta_prev"))
      .orderBy(col("event_id"))
  }

  /** Cumulative revenue per customer in orderdate order. */
  private val winRunningSum: QFn = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      // per-element DECIMAL cast (revenueSum pattern): every prefix sum
      // is exact, so the 4dp rounding cannot straddle a boundary from
      // double accumulation error at larger scale factors
      .withColumn("running_spent",
        round(sum(expr("CAST(o_totalprice AS DECIMAL(18,6))")).over(w)
          .cast("double"), 4))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spent"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** 3-row moving average of event value per user. */
  private val winSlidingAvg: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 0)
    Tables.events(s, d)
      .withColumn("mavg3", round(avg(col("value")).over(w), 6))
      .select(col("event_id"), col("user_id"), col("mavg3"))
      .orderBy(col("event_id"))
  }

  /** RANGE frame: per status, sum of order prices within ±100 of each
    * order's price (frame defined by value bounds, so tie order inside
    * the frame cannot affect the result set). */
  private val winRangeFrame: QFn = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"))
      .rangeBetween(-100L, 100L)
    Tables.orders(s, d)
      .withColumn("band_n", count(lit(1)).over(w))
      .withColumn("band_sum", round(sum(col("o_totalprice")).over(w), 4))
      .select(col("o_orderkey"), col("o_orderstatus"), col("band_n"), col("band_sum"))
      .orderBy(col("o_orderkey"))
  }

  /** first/last event_type per user over the full frame → one row/user. */
  private val winFirstLast: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("first_et", first(col("event_type")).over(w))
      .withColumn("last_et", last(col("event_type")).over(w))
      .select(col("user_id"), col("first_et"), col("last_et")).distinct()
      .orderBy(col("user_id"))
  }

  /** ntile / percent_rank / cume_dist of customers by balance — two-pass
    * distributed ranking instead of the single-partition global window
    * (`Window.orderBy` with no partition puts the WHOLE table in one
    * task). Because the order key carries a unique tie-break
    * (c_custkey), rank()=row_number() and peers are singletons, so all
    * three functions are closed-form in (global rank r, total n):
    * ntile = the ceil/floor split formula, pr = (r-1)/(n-1), cd = r/n.
    * Plan: (1) approx-quantile range boundaries (bucketing only — they
    * affect load balance, never values); (2) per-bucket counts → bucket
    * offsets via a ≤32-row window (tiny by construction); (3) within-
    * bucket row_number + offset = exact global rank, buckets ranked in
    * parallel. Every shuffle is bounded; survives 100× the dim. */
  private val winNtilePctrank: QFn = (s, d) => {
    val cust = Tables.customer(s, d)
    val nDf = cust.agg(count(lit(1)).as("n"))
    val fracs = (1 until 32).map(i => i / 32.0).mkString(", ")
    val bounds = cust.agg(
      expr(s"percentile_approx(c_acctbal, array($fracs), 100)").as("bs"))
    val bucketed = cust.crossJoin(broadcast(bounds))
      // monotone in c_acctbal and equal values share a bucket, so
      // (bkt, c_acctbal, c_custkey) ordering == global ordering
      .withColumn("bkt", expr("size(filter(bs, b -> b <= c_acctbal))"))
      .drop("bs")
    val wOff = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bkt"), col("off"))
    val wIn = Window.partitionBy(col("bkt"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    bucketed
      .join(broadcast(offs), "bkt")
      .withColumn("r", row_number().over(wIn).cast("long") + col("off"))
      .crossJoin(broadcast(nDf))
      .withColumn("quartile", expr(
        """CASE WHEN r <= (n % 4) * (n div 4 + 1)
                THEN (r - 1) div (n div 4 + 1) + 1
                ELSE (n % 4) + (r - (n % 4) * (n div 4 + 1) - 1) div (n div 4) + 1
           END"""))
      .withColumn("pr", round((col("r") - 1.0) / (col("n") - 1.0), 6))
      .withColumn("cd", round(col("r").cast("double") / col("n"), 6))
      .select(col("c_custkey"), col("c_acctbal"), col("quartile"), col("pr"), col("cd"))
      .orderBy(col("c_custkey"))
  }

  /** Event-time RANGE frame — the per-entity sliding rate counter
    * (burst detection / rate limiting): for every event, how many
    * events and how much value this user produced in the trailing 10
    * minutes. The frame is bounded by TIME (600e9 ns on the raw bigint
    * ns timestamp), not row count, so it holds under irregular event
    * spacing; per-user partitions shuffle once and each frame is a
    * value-bounded scan of an already-sorted run. The value sum goes
    * through a DECIMAL pre-cast: events sharing a timestamp make the
    * frame's accumulation order partition-dependent, and decimal
    * addition is order-free. */
  private val winTimeRange: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"))
      .rangeBetween(-600000000000L, 0L)
    Tables.events(s, d)
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("sum_10m",
        round((sum(expr("CAST(floor((value) * 1e6 + 0.5) AS BIGINT)")).over(w).cast("decimal(26,0)") / lit(1000000)).cast("double"), 4))
      .select(col("event_id"), col("user_id"), col("n_10m"), col("sum_10m"))
      .orderBy(col("event_id"))
  }

  /** nth_value over the full per-user frame: the 2nd and 3rd event type
    * in each user's timeline (tie-broken by event_id) — one row per
    * user via distinct, the win_first_last shape extended to arbitrary
    * ordinals. NULL where the user has fewer events. */
  private val winNthValue: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("et2", nth_value(col("event_type"), 2).over(w))
      .withColumn("et3", nth_value(col("event_type"), 3).over(w))
      .select(col("user_id"), col("et2"), col("et3")).distinct()
      .orderBy(col("user_id"))
  }

  /** Gaps-and-islands: per-user consecutive-day activity streaks. The
    * classic `day − row_number()` trick — consecutive days share a
    * constant difference, so the difference IS the island id and two
    * cheap per-user aggregations replace any iterative reasoning.
    * All-integer (day index from integer ns division), per-user windows
    * only — scales as a pair of key-partitioned aggs. This is
    * [[GraftOps.streakStats]] over (user_id, day). */
  private val winStreak: QFn = (s, d) =>
    GraftOps.streakStats(
        Tables.events(s, d).select(col("user_id"), expr("ts div 86400000000000").as("day")),
        col("user_id"), col("day"))
      .select(col("sk_key").as("user_id"), col("max_streak"), col("n_streaks"),
        col("n_active_days"))
      .orderBy(col("user_id"))

  /** Bounded-horizon EWMA (α = 0.3, 10 terms) per user — the smoothing
    * primitive time-series feature pipelines run over metrics streams.
    * True EWMA is recursive (unbounded lookback); the 10-term
    * truncation bounds the dropped tail by (1−α)^10 ≈ 2.8% of the
    * weight mass and makes the operator a pure windowed expression:
    * TEN EXPLICIT lag() terms summed left-to-right — a FIXED
    * floating-point operation order on both engines (an aggregate/HOF
    * fold would be at the mercy of list construction), with the weight
    * constants α(1−α)^k embedded as 17-significant-digit literals so
    * both engines parse the identical double. Partial head windows use
    * the adjusted form (Σwᵢxᵢ / Σwᵢ over present terms). */
  private val winEwma: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val alpha = 0.3
    val weights = (0 until 10).map(k => alpha * math.pow(1 - alpha, k))
    val terms = weights.zipWithIndex.map { case (wt, k) =>
      val x = if (k == 0) col("value") else lag(col("value"), k).over(w)
      (coalesce(x * lit(wt), lit(0.0)),
       when(x.isNotNull, lit(wt)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduceLeft(_ + _)
    val den = terms.map(_._2).reduceLeft(_ + _)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("ewma", round(num / den, 6))
      .select(col("event_id"), col("user_id"), col("value"), col("ewma"))
      .orderBy(col("event_id"))
  }

  /** Running maximum + drawdown per user — the peak-tracking shape
    * (how far below its high-water mark is this series?) used for
    * budget pacing and regression detection. max() over an expanding
    * frame is order-insensitive (max is associative-commutative over
    * the frame SET), and the drawdown subtraction operates on two
    * identical doubles — deterministic without any quantization. */
  private val winDrawdown: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("peak", max(col("value")).over(w))
      .select(col("event_id"), col("user_id"), col("value"), col("peak"),
        round(col("peak") - col("value"), 6).as("drawdown"))
      .orderBy(col("event_id"))
  }

  /** Ratio-to-report + partitioned cume_dist: each order's share of its
    * customer's total spend (the classic `ratio_to_report` spelling —
    * partition-total via an unordered window sum over the DECIMAL cast,
    * then one division) and its cumulative-distribution position within
    * the customer under a fully tie-broken (price, orderkey) order.
    * Both windows hash-partition by customer — no global ordering
    * anywhere, so the shape scales with the key cardinality. Customer
    * subset keeps the declared output bounded; the window math is
    * identical for any slice. */
  private val winShare: QFn = (s, d) => {
    val src = Tables.orders(s, d).filter(col("o_custkey") <= 400)
    val wTot = Window.partitionBy(col("o_custkey"))
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    src
      .withColumn("tot",
        (sum(expr("CAST(floor((o_totalprice) * 1e6 + 0.5) AS BIGINT)")).over(wTot).cast("decimal(26,0)") / lit(1000000)).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        (round(col("o_totalprice") / col("tot"), 6) + lit(0.0)).as("share"),
        (round(cume_dist().over(wOrd), 6) + lit(0.0)).as("cd"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "win_rank" -> winRank,
    "win_lag_lead" -> winLagLead,
    "win_running_sum" -> winRunningSum,
    "win_sliding_avg" -> winSlidingAvg,
    "win_range_frame" -> winRangeFrame,
    "win_first_last" -> winFirstLast,
    "win_ntile_pctrank" -> winNtilePctrank,
    "win_time_range" -> winTimeRange,
    "win_nth_value" -> winNthValue,
    "win_streak" -> winStreak,
    "win_ewma" -> winEwma,
    "win_drawdown" -> winDrawdown,
    "win_share" -> winShare,
  )

  val oracles: Seq[(String, String)] = Seq(
    "win_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST)) t
         WHERE rn <= 3
         ORDER BY o_custkey ASC NULLS FIRST, rn ASC NULLS FIRST""",
    "win_lag_lead" ->
      """SELECT event_id, user_id, value,
                lag(value, 1) OVER w AS prev_v,
                lead(value, 1) OVER w AS next_v,
                value - lag(value, 1) OVER w AS delta_prev
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         ORDER BY event_id ASC NULLS FIRST""",
    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS running_spent
         FROM orders
         ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""",
    "win_sliding_avg" ->
      """SELECT event_id, user_id,
                round(avg(value) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
         FROM events
         ORDER BY event_id ASC NULLS FIRST""",
    "win_range_frame" ->
      """SELECT o_orderkey, o_orderstatus,
                count(*) OVER w AS band_n,
                round(sum(o_totalprice) OVER w, 4) AS band_sum
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
                      RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
         ORDER BY o_orderkey ASC NULLS FIRST""",
    "win_first_last" ->
      """SELECT DISTINCT user_id,
                first_value(event_type) OVER w AS first_et,
                last_value(event_type) OVER w AS last_et
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY user_id ASC NULLS FIRST""",
    "win_nth_value" ->
      """SELECT DISTINCT user_id,
                nth_value(event_type, 2) OVER w AS et2,
                nth_value(event_type, 3) OVER w AS et3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY user_id ASC NULLS FIRST""",
    "win_time_range" ->
      """SELECT event_id, user_id,
                count(*) OVER w AS n_10m,
                round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 4) AS sum_10m
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
                      RANGE BETWEEN 600000000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id ASC NULLS FIRST""",
    "win_ntile_pctrank" ->
      """SELECT c_custkey, c_acctbal,
                ntile(4) OVER w AS quartile,
                round(percent_rank() OVER w, 6) AS pr,
                round(cume_dist() OVER w, 6) AS cd
         FROM customer
         WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
         ORDER BY c_custkey ASC NULLS FIRST""",
    "win_ewma" -> {
      // the SAME doubles the Spark side uses, as 17-sig-digit literals
      // CAST: DuckDB parses fixed-point literals as DECIMAL; the cast
      // pins the identical double the Spark lit() holds
      val ws = (0 until 10).map(k => "CAST(" + String.format(java.util.Locale.ROOT,
        "%.17g", Double.box(0.3 * math.pow(0.7, k))) + " AS DOUBLE)")
      val num = ws.zipWithIndex.map { case (wt, k) =>
        val x = if (k == 0) "value" else s"lag(value, $k) OVER w"
        s"coalesce($x * $wt, 0.0)"
      }.mkString(" + ")
      val den = ws.zipWithIndex.map { case (wt, k) =>
        val x = if (k == 0) "value" else s"lag(value, $k) OVER w"
        s"(CASE WHEN $x IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      s"""SELECT event_id, user_id, value,
                round(($num) / ($den), 6) AS ewma
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC)
         ORDER BY event_id ASC NULLS FIRST"""
    },
    "win_drawdown" ->
      """SELECT event_id, user_id, value,
                max(value) OVER w AS peak,
                round(max(value) OVER w - value, 6) AS drawdown
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY event_id ASC NULLS FIRST""",
    "win_streak" ->
      """WITH days AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
                       FROM events),
            isl AS (SELECT user_id, day,
                           day - row_number() OVER (PARTITION BY user_id
                                                    ORDER BY day ASC) AS grp
                    FROM days),
            st AS (SELECT user_id, grp, count(*) AS len
                   FROM isl GROUP BY user_id, grp)
         SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak,
                count(*) AS n_streaks,
                CAST(sum(len) AS BIGINT) AS n_active_days
         FROM st GROUP BY user_id
         ORDER BY user_id ASC NULLS FIRST""",
    "win_share" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                round(o_totalprice /
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                           OVER (PARTITION BY o_custkey) AS DOUBLE), 6)
                  + 0.0 AS share,
                round(cume_dist() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice ASC, o_orderkey ASC), 6)
                  + 0.0 AS cd
         FROM orders
         WHERE o_custkey <= 400
         ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""",
  )
}
