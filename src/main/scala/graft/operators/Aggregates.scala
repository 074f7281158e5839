package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.functions._

/** SURVEY.md §2.D — aggregations. All shapes are hash aggregations with
  * automatic partial (map-side) + final phases, the form that scales
  * linearly with data and shuffles only the group cardinality. Float
  * determinism policy per SURVEY.md §7.4: plain sum/avg/count on the same
  * rows is probe-verified bit-exact vs DuckDB; anything with engine-varying
  * accumulation order (stddev/var/percentile) is rounded to 6dp both sides.
  */
object Aggregates extends QueryGroup {

  /** Flagship (TPC-H Q1 analog): pricing summary per (returnflag,
    * linestatus). Money sums and their averages accumulate integer
    * MICROS — floor(x·1e6 + 0.5) AS BIGINT, the Q22/sql_q1 portable
    * recipe (round 17; was per-element DECIMAL(18,6) casts): a raw
    * double sum over ~25k rows per group is accumulation-order
    * dependent, so its bit pattern changes with partitioning; the int64
    * sum is exact, order-free, and one IEEE multiply-floor per row
    * where the decimal path allocated a Decimal per row and summed on
    * the widened-precision path. Both engines compute the same doubles,
    * hence the same integers — parity is by construction. Bound: int64
    * micros hold to ~9.2e18 µ ≈ $9.2e12 per group; past that (a 100
    * TB-scale group) lift the accumulator to sum(CAST(u AS
    * DECIMAL(38,0))) — the per-row floor stays integer. The bound is
    * GUARDED in code, not just documented (round-18 ADVICE item 3):
    * [[graft.Tables]] refuses non-ANSI sessions at the table choke
    * point, and under ANSI an overflowing group raises
    * ARITHMETIC_OVERFLOW (pinned in LoaderSpec) instead of wrapping
    * silently. Averages divide
    * the micros sum as a double (identical division both engines), then
    * round 6dp. sum_qty stays a double sum — quantities are small
    * integers, exactly representable. */
  val pricingSummary: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(expr("CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)"))
          .cast("double") / 1e6, 4).as("sum_base_price"),
        round(sum(expr(
            "CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e6 + 0.5) AS BIGINT)"))
          .cast("double") / 1e6, 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(sum(expr("CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)"))
          .cast("double") / 1e6 / count(lit(1)), 6).as("avg_price"),
        round(sum(expr("CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT)"))
          .cast("double") / 1e6 / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Exact distinct (expand + two-phase agg) per order priority. */
  private val aggDistinctExact: QFn = (s, d) => {
    // round-19 opt (the profile_columns device, §2): TWO countDistincts
    // in one aggregate plan via Expand — a 2× fan-out of the joined fact
    // before the shuffle. One branch per distinct column plans without
    // Expand (partial dedup on (priority, key) map-side); the broadcast
    // orders build is shared between branches by ReuseExchange. Exact
    // counts, identical rows.
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    def branch(key: String, as: String) =
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col(key)).as(as))
    branch("l_partkey", "n_parts")
      .join(branch("l_suppkey", "n_supps"), Seq("o_orderpriority"))
      .orderBy(col("o_orderpriority"))
  }

  /** HLL sketch distinct — approximate, not portable → no oracle
    * (SURVEY.md §2.D agg_approx_distinct). */
  private val aggApproxDistinct: QFn = (s, d) => {
    // round-18 opt: the built-in approx_count_distinct at rsd 0.01
    // declares 1,639 long BUFFER COLUMNS per group (one per register
    // word) — the generated update loop spans a 1,640-field row and
    // the partial/final exchange ships that row per group. hll_distinct
    // (graft.functions.HllSketchAgg) runs the IDENTICAL sketch through
    // Spark's own HyperLogLogPlusPlusHelper — same hash, registers and
    // estimator, so the estimate is bit-for-bit the built-in's (pinned
    // in TextSigSpec) — with the words in ONE compact binary buffer.
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("hll_distinct(user_id, 0.01D)").as("approx_users"))
      .orderBy(col("event_type"))
  }

  /** sum(DISTINCT) per flag. */
  private val aggSumDistinct: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(sum_distinct(col("l_quantity")).as("sum_dist_qty"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP with grouping_id — subtotal rows carry NULL group keys. */
  private val aggRollup: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
           grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** CUBE over (status, priority). */
  private val aggCube: QFn = (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  /** Explicit GROUPING SETS ((status), (priority)) via SQL. */
  private val aggGroupingSets: QFn = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                    grouping_id() AS gid
             FROM graft_orders_gs
             GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
             ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST,
                      o_orderpriority ASC NULLS FIRST""")
  }

  /** Deterministic collect: sorted distinct priorities per status
    * (collect_list order is nondeterministic → distinct + sort_array,
    * SURVEY.md §7.4). Joined to one string because the driver's pandas
    * sort-then-hash cannot sort array cells (round-1 checker ERR). */
  private val aggCollect: QFn = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
      .groupBy(col("o_orderstatus"))
      .agg(array_join(sort_array(collect_list(col("o_orderpriority"))), ",").as("prios"))
      .orderBy(col("o_orderstatus"))

  /** Pivot on a fixed value list (stable columns) — event counts per user. */
  private val aggPivot: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("user_id"), col("click").as("n_click"), col("error").as("n_error"),
              col("purchase").as("n_purchase"), col("signup").as("n_signup"),
              col("view").as("n_view"))
      .orderBy(col("user_id"))

  /** min/max/stddev/variance per event type (rounded — accumulation-order
    * sensitive). */
  private val aggStats: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("min_v"), max(col("value")).as("max_v"),
           round(stddev_samp(col("value")), 6).as("sd_v"),
           round(var_samp(col("value")), 6).as("var_v"),
           count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Exact interpolated percentiles (sort-based) of n_chars per lang. */
  private val aggPercentile: QFn = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
           round(expr("percentile(n_chars, 0.9)"), 6).as("p90"))
      .orderBy(col("lang"))

  /** Sketch percentiles via approx_percentile (Greenwald-Khanna
    * QuantileSummaries with compression 1000 — rank-error bounded) —
    * the constant-memory scale path the exact sort-based percentile
    * cannot take at 100 TB. Approximate → no oracle, like
    * agg_approx_distinct. */
  private val aggApproxQuantiles: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)").as("q"))
      .select(col("event_type"),
        col("q")(0).as("p50"), col("q")(1).as("p90"), col("q")(2).as("p99"))
      .orderBy(col("event_type"))

  /** Mergeable HLL sketches (Apache DataSketches via Spark's built-in
    * hll_sketch_agg / hll_union_agg / hll_sketch_estimate): per-source
    * user sketches plus the union-merged global estimate — the
    * partitioned-rollup distinct-count shape, where the sketch (not raw
    * keys) is what moves between rollup levels at 100 TB. Approximate →
    * no oracle; LawsSpec asserts the union estimate equals the
    * directly-built global sketch and both sit within 5% of exact. */
  private val aggHllMerge: QFn = (s, d) => {
    val per = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
           countDistinct(col("user_id")).as("exact_users"))
    per.select(col("event_type"),
        expr("CAST(hll_sketch_estimate(sk) AS BIGINT)").as("est_users"),
        col("exact_users"))
      .orderBy(col("event_type"))
  }

  /** Conditional aggregation (the FILTER-clause family): count_if and
    * filtered sums computed in ONE pass over the table — the shape that
    * replaces N self-joins with one scan at 100 TB (the same rewrite
    * agg_pivot's oracle uses). Money sums through DECIMAL pre-casts. */
  private val aggFiltered: QFn = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_total"),
        expr("count_if(o_totalprice > 300000.0)").as("n_big"),
        expr("count_if(o_orderstatus = 'O')").as("n_open"),
        round(sum(when(col("o_totalprice") > 300000.0,
            expr("CAST(o_totalprice AS DECIMAL(18,6))")))
          .cast("double"), 4).as("big_total"),
      ).orderBy(col("o_orderpriority"))

  /** Argmax without a join-back: max-of-struct per group picks the row
    * with the highest price (ties → highest orderkey) in a single hash
    * aggregate. The standard two-pass alternative (groupBy max + equi-
    * join back) scans and shuffles twice; this shape shuffles one
    * fixed-width struct per group. The oracle derives the same winner
    * with a window row_number (DESC price, DESC key) — an independent
    * formulation of the same argmax. */
  private val aggArgmax: QFn = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(GraftOps.argmax(col("o_totalprice"), col("o_orderkey")).as("m"),
           count(lit(1)).as("n_orders"))
      .select(col("o_custkey"),
              col("m.o_totalprice").as("best_price"),
              col("m.o_orderkey").as("best_order"),
              col("n_orders"))
      .orderBy(col("o_custkey"))

  /** Deterministic mode per group: most frequent quantity, ties broken
    * toward the smallest value (plain `mode()` leaves ties undefined in
    * both engines). Two bounded aggregations — value-counts then a
    * per-group top-1 window over at most 50 distinct quantities. */
  private val aggMode: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** Skewness / excess kurtosis per group — computed from EXACT integer
    * power sums (quantities are integral 1..50, so Σq..Σq⁴ fit BIGINT
    * exactly: 50⁴·6e5 ≈ 3.8e12), then folded to central moments in
    * double with the identical expression tree on both engines. This
    * sidesteps two cross-engine traps at once: built-in skewness/
    * kurtosis use DIFFERENT definitions (population vs sample-corrected)
    * in Spark vs DuckDB, and raw double power sums would be
    * accumulation-order dependent. m2^1.5 is written m2·sqrt(m2) —
    * sqrt is IEEE-correctly-rounded on both engines, pow is not. */
  private val aggMoments: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("q", col("l_quantity").cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
           sum(col("q") * col("q")).as("s2"),
           sum(col("q") * col("q") * col("q")).as("s3"),
           sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
      .select(col("l_returnflag"), col("n"),
        expr("""round((s3/CAST(n AS DOUBLE)
                        - 3.0*(s1/CAST(n AS DOUBLE))*(s2/CAST(n AS DOUBLE))
                        + 2.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                      / ((s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                         * sqrt(s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))), 6) + 0.0""")
          .as("skew"),
        expr("""round((s4/CAST(n AS DOUBLE)
                        - 4.0*(s1/CAST(n AS DOUBLE))*(s3/CAST(n AS DOUBLE))
                        + 6.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s2/CAST(n AS DOUBLE))
                        - 3.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                      / ((s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                         * (s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))) - 3.0, 6) + 0.0""")
          .as("ex_kurt"))
      .orderBy(col("l_returnflag"))

  /** Correlation / covariance per group — the feature-relationship
    * profile a dataset report computes (does discount move with
    * quantity?). Built-in corr/covar_samp/covar_pop on both engines
    * share the standard sample/population definitions; accumulation
    * order sensitivity handled like agg_stats: round 6 both sides.
    * `+ 0.0` folds -0.0 → +0.0: DuckDB's round can return -0.0 for a
    * tiny negative covariance while Spark's (BigDecimal) returns +0.0,
    * which hash-differs despite comparing equal. */
  private val aggCorr: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0)).as("corr_qty_price"),
           (round(covar_samp(col("l_discount"), col("l_tax")), 6) + lit(0.0)).as("cov_disc_tax"),
           (round(covar_pop(col("l_discount"), col("l_tax")), 6) + lit(0.0)).as("covp_disc_tax"))
      .orderBy(col("l_returnflag"))

  /** Boolean aggregation (bool_and / bool_or — ALL / ANY): data-quality
    * invariant checks aggregated per group in one pass, the assert-at-
    * scale shape ("does every row satisfy X? does any violate Y?"). */
  private val aggBool: QFn = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(expr("bool_and(o_totalprice > 0.0)").as("all_positive"),
           expr("bool_or(o_totalprice > 500000.0)").as("any_over_500k"),
           expr("bool_and(o_orderstatus IN ('O','F','P'))").as("all_valid_status"),
           count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** Weighted means per group — the reweighting shape every corpus
    * pipeline needs (quality-weighted averages, token-weighted stats):
    * ratio of two sums, each accumulated exactly via the per-element
    * DECIMAL pre-cast so the division is performed on identical inputs
    * on any engine/partitioning. */
  private val aggWeighted: QFn = (s, d) => {
    // round-18 opt: int64-micros accumulators (the pricing-summary /
    // agg_linreg idiom) replace the per-row DECIMAL(18,6) casts; the
    // exact integer sum is rescaled through DECIMAL so the closing
    // double equals the old decimal-sum cast bit for bit (same
    // unscaled integer, correctly-rounded conversion — parity
    // re-proven at sf0.01 and sf0.1). Safe here because every operand
    // (price·qty ≤ 5e6, disc·qty ≤ 5, qty ≤ 50) is well under the
    // magnitude where the float product's error could reach the 0.5 µ
    // rounding boundary.
    def usum(e: String) =
      (sum(expr(s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)"))
        .cast("decimal(26,0)") / lit(1000000)).cast("double")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(usum("l_extendedprice * l_quantity")
          / usum("l_quantity"), 6).as("wavg_price"),
        round(usum("l_discount * l_quantity")
          / usum("l_quantity"), 6).as("wavg_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity metric (its corpus twin scores topic/source
    * diversity when mixing training data). Probabilities come from
    * exact integer counts, so the p·ln p terms are identical doubles on
    * both engines; the ≤|event types|-term sum is post-round tolerant
    * like the other log-sum queries. `+ 0.0` folds the single-type
    * case: p=1 gives -sum(+0.0) = -0.0, which both engines produce but
    * round differently (the signed-zero convention). */
  private val aggEntropy: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val cnt = e.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("user_id")).agg(sum(col("c")).as("tc"))
    cnt.join(tot, "user_id")
      .withColumn("plogp",
        (col("c").cast("double") / col("tc")) *
          log(col("c").cast("double") / col("tc")))
      .groupBy(col("user_id"))
      .agg((round(-sum(col("plogp")), 6) + lit(0.0)).as("entropy"),
           count(lit(1)).as("n_types"))
      .orderBy(col("user_id"))
  }

  /** Per-group simple linear regression (price ~ quantity) — the
    * drift/trend primitive analytics suites expose as REGR_SLOPE /
    * REGR_INTERCEPT / REGR_R2. Built-in regr_* aggregates accumulate
    * co-moments in engine-specific order, which is NOT bit-stable at
    * 6 dp for slope/intercept magnitudes here, so the five raw sums
    * (Σx, Σy, Σxy, Σx², Σy²) are accumulated exactly via the DECIMAL
    * pre-cast (the agg_weighted pattern — one map-side-combining pass,
    * portable across engines and partitionings) and the closed-form
    * slope/intercept/r² are computed from those identical doubles with
    * the identical operation order on both engines. */
  private val aggLinreg: QFn = (s, d) => {
    // round-18 opt: four of the five raw sums accumulate int64 MICROS
    // (the pricing-summary idiom — one IEEE multiply+floor per row
    // instead of a per-row Decimal allocation on the widened-precision
    // sum path), then rescale the exact integer through DECIMAL so the
    // closing double is the correctly-rounded value of S/1e6 — the
    // same double the DECIMAL(18,6) sum cast produced (the decimal sum
    // holds the identical unscaled integer; parity re-proven at sf0.01
    // and sf0.1). The per-row floor equals the decimal half-up cast
    // because every operand is ≤ 5e6 with ≤ 2 dp provenance: the
    // accumulated IEEE error of x·1e6 is ≤ ~1e-3, never near the 0.5
    // boundary. syy STAYS on the DECIMAL pre-cast: p² ≈ 1e10 → micros
    // 1e16/row would overflow int64 within a 1000-row group, and at
    // that magnitude the float product's error exceeds the 0.5 µ
    // boundary, so the floor idiom is neither safe nor exact there.
    def dsum(e: String) = sum(expr(s"CAST($e AS DECIMAL(18,6))")).cast("double")
    def usum(e: String) =
      (sum(expr(s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)"))
        .cast("decimal(26,0)") / lit(1000000)).cast("double")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("nd"),
           usum("l_quantity").as("sx"),
           usum("l_extendedprice").as("sy"),
           usum("l_quantity * l_extendedprice").as("sxy"),
           usum("l_quantity * l_quantity").as("sxx"),
           dsum("l_extendedprice * l_extendedprice").as("syy"))
      .select(col("l_returnflag"), col("nd").cast("long").as("n"),
        (round((col("nd") * col("sxy") - col("sx") * col("sy"))
          / (col("nd") * col("sxx") - col("sx") * col("sx")), 6) + lit(0.0)).as("slope"),
        (round((col("sy") - (col("nd") * col("sxy") - col("sx") * col("sy"))
            / (col("nd") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("nd"), 6)
          + lit(0.0)).as("intercept"),
        (round((col("nd") * col("sxy") - col("sx") * col("sy"))
            * (col("nd") * col("sxy") - col("sx") * col("sy"))
          / ((col("nd") * col("sxx") - col("sx") * col("sx"))
            * (col("nd") * col("syy") - col("sy") * col("sy"))), 6) + lit(0.0)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Gini coefficient of document length per language — the corpus-
    * inequality diagnostic (a high-Gini language means a few huge docs
    * dominate the token budget; mix curation watches this). Computed
    * from the rank formulation G = (2·Σrᵢxᵢ − (n+1)·Σx) / (n·Σx) where
    * ranks come from the (n_chars, doc_id)-total-ordered window —
    * EVERY term is exact int64 (lengths are integers), so the single
    * closing division is the only float op and is identical on any
    * engine/partitioning. One window + one aggregation, both
    * partitioned by the group key. */
  private val aggGini: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
           sum(col("n_chars")).as("sx"),
           sum(col("rk") * col("n_chars")).as("srx"))
      .select(col("lang"), col("n"),
        (round((lit(2L) * col("srx") - (col("n") + lit(1L)) * col("sx"))
          .cast("double") / (col("n") * col("sx")), 6) + lit(0.0)).as("gini"))
      .orderBy(col("lang"))
  }

  /** Herfindahl–Hirschman concentration index of user activity per
    * event type — "is this event type driven by a few power users?"
    * (the dominance diagnostic; its corpus twin flags a source whose
    * token mass concentrates in few documents). HHI = Σcᵤ² / (Σcᵤ)²
    * over integer counts — numerator and denominator are exact int64,
    * the single division is the only float op. */
  private val aggHhi: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("c") * col("c")).as("ssq"),
           sum(col("c")).as("tot"))
      .select(col("event_type"), col("n_users"),
        (round(col("ssq").cast("double") / (col("tot") * col("tot")), 6) + lit(0.0))
          .as("hhi"))
      .orderBy(col("event_type"))

  /** Benford first-digit screen over order totals — the forensic
    * data-quality check (fabricated or truncated monetary data departs
    * from the log-uniform first-digit law). The first significant
    * digit comes from the INTEGER-CENTS string (never from double
    * formatting, which differs across engines); observed shares are
    * exact-count fractions and the Benford expectation ln(1+1/d)/ln(10)
    * is the identical libm value on both engines. Per-digit rows — no
    * cross-digit float fold anywhere. */
  private val aggBenford: QFn = (s, d) =>
    Tables.orders(s, d)
      .select(substring(
        expr("CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)"),
        1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(
        Tables.orders(s, d).agg(count(lit(1)).as("n_total"))))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n_total"), 6).as("p_obs"),
        (round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 6)
          + lit(0.0)).as("p_benford"))
      .orderBy(col("digit"))

  /** Lag-1 autocorrelation of event values per type — the serial-
    * dependence diagnostic (is this metric stream i.i.d. or trending/
    * seasonal?). Pairs (xₜ, xₜ₊₁) come from lead() over the per-user
    * timeline; the correlation is the agg_linreg closed form over
    * exact DECIMAL co-moment sums of the paired series, so the output
    * is identical on any engine/partitioning. */
  private val aggAutocorr: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // round-18 opt: int64-micros accumulators (the agg_linreg idiom)
    // replace the per-row DECIMAL(18,6) casts; exact integer sum,
    // rescaled through DECIMAL so the closing double equals the old
    // decimal-sum cast bit for bit. Bounds checked on the fixture:
    // value ≤ 560.21 (2 dp), so x·y ≤ 3.2e5 → 3.2e11 µ/row and ≤ 1e5
    // rows/group → ≤ 3.2e16 per sum, far under the int64 line; the
    // float product's error (≤ 3.2e11·2⁻⁵² ≈ 7e-5 µ) never reaches
    // the 0.5 µ rounding boundary. Parity re-proven at both SFs.
    def dsum(e: String) =
      (sum(expr(s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)"))
        .cast("decimal(26,0)") / lit(1000000)).cast("double")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value").as("x"))
      .withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("nd"),
           dsum("x").as("sx"), dsum("y").as("sy"),
           dsum("x * y").as("sxy"),
           dsum("x * x").as("sxx"), dsum("y * y").as("syy"))
      .select(col("event_type"), col("nd").cast("long").as("n_pairs"),
        (round((col("nd") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("nd") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("nd") * col("syy") - col("sy") * col("sy"))), 6)
          + lit(0.0)).as("autocorr_lag1"))
      .orderBy(col("event_type"))
  }

  /** Pearson chi-squared independence test between event type and a
    * value bucket (floor(value/50) → 10 buckets) — the categorical-
    * association screen (is the value distribution the same across
    * event types?). Observed counts, row/column marginals, and N are
    * one contingency pass (map-side-combining groupBy over ≤ r×c
    * cells); expected = rowtot·coltot/N divides exact integers, so
    * every per-cell (O−E)²/E double is engine-identical, and the cell
    * terms are nano-quantized (⌊t·10⁹+0.5⌋, the text_js_divergence
    * device) before the final sum so the unordered reduction is
    * integer-exact on any partitioning. Output: one row — cells, dof,
    * chi2. */
  private val aggChisq: QFn = (s, d) => {
    val o = Tables.events(s, d)
      .select(col("event_type").as("et"),
        floor(col("value") / lit(50.0)).cast("long").as("bkt"))
      .groupBy(col("et"), col("bkt")).agg(count(lit(1)).as("o"))
      // round-18 opt: FOUR consumers (both marginals, the total, and
      // the join probe) re-derived this contingency table — checkpoint
      // the |cells|-bounded aggregate once (the profile_freshness idiom)
      .localCheckpoint()
    val rt = o.groupBy(col("et")).agg(sum(col("o")).as("rt"))
    val ct = o.groupBy(col("bkt")).agg(sum(col("o")).as("ct"))
    val n = o.agg(sum(col("o")).as("n"))
    o.join(broadcast(rt), "et").join(broadcast(ct), "bkt").crossJoin(broadcast(n))
      // rt cast to double BEFORE the product: a long·long marginal
      // product can overflow at petabyte row counts; double·long → double
      // is the overflow-safe spelling and DuckDB mirrors it op-for-op
      .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
      .withColumn("ti", floor(col("term") * lit(1e9) + lit(0.5)).cast("long"))
      .agg(count(lit(1)).as("n_cells"),
           (countDistinct(col("et")) - 1).as("dof_r"),
           (countDistinct(col("bkt")) - 1).as("dof_c"),
           sum(col("ti")).as("tsum"))
      .select(col("n_cells"), (col("dof_r") * col("dof_c")).as("dof"),
        (round(col("tsum").cast("double") / lit(1e9), 6) + lit(0.0)).as("chi2"))
  }

  /** Welch two-sample t-test between click and purchase values — the
    * A/B-test / drift significance screen, [[GraftOps.welchT]] over the
    * event value (int64-micros Σx and Σx², a conditional-max fold of
    * the two type rows, closed-form t and Welch–Satterthwaite df; a
    * type with fewer than 2 rows raises). Nothing but six numbers
    * crosses the final stage. */
  private val aggTtest: QFn = (s, d) =>
    GraftOps.welchT(Tables.events(s, d), col("event_type"), col("value"),
        "click", "purchase")
      .select(col("n_a").as("n_click"), col("n_b").as("n_purchase"),
        col("mean_diff"), col("t_stat"), col("df_welch"))

  /** Two-sample Kolmogorov–Smirnov distance between the click and
    * purchase value distributions on a centi-unit grid — the
    * distribution-drift screen (is this batch's value distribution the
    * same as the reference batch's?). Values quantize to integer
    * centi-buckets (⌊v·100⌋, ≤ ~60k grid points), per-bucket type
    * counts come from ONE map-side-combining groupBy, and the CDF gap
    * is the all-integer |c1·n2 − c2·n1| maximized over buckets — a
    * single bounded-width window over the AGGREGATED grid (never the
    * raw rows), then one closing division. Grid KS equals exact KS
    * evaluated at grid boundaries; max error is the largest
    * within-bucket probability mass (≤1e-2-quantile scale here).
    * Every intermediate is int64, so any partitioning yields the
    * identical answer. This is [[GraftOps.ksDistance]] at scale 100,
    * which raises if either type has no row. */
  private val aggKs: QFn = (s, d) =>
    GraftOps.ksDistance(Tables.events(s, d), col("event_type"), col("value"),
      "click", "purchase")

  /** Population stability index between the first and second time
    * halves of the event stream — the batch spelling of the
    * stream_drift monitor (and the third drift screen after agg_ks /
    * agg_chisq; PSI is the one production scorecards actually track).
    * The time split is the all-integer midpoint mn + (mx−mn) div 2
    * (overflow-safe on ns epochs), bucket counts for both halves come
    * from ONE map-side-combining groupBy with conditional sums, both
    * sides Laplace-smooth identically ((c+½)/(tot+½k)), and each
    * bucket's (p−q)·ln(p/q) term — nonnegative by construction — is
    * pico-quantized (⌊t·10¹²+0.5⌋, the agg_chisq device) before the
    * unordered fold so partitioning cannot reorder a float sum. */
  private val aggPsi: QFn = (s, d) => {
    val ev = Tables.events(s, d).select(col("ts"), col("value"))
    val mm = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val counts = ev.crossJoin(broadcast(mm))
      .select(floor(col("value") / lit(50.0)).cast("long").as("bkt"),
              (col("ts") < expr("mn + (mx - mn) div 2")).as("is_ref"))
      .groupBy(col("bkt"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("rn"),
           sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cn"))
    val tot = counts.agg(sum(col("rn")).as("nr"), sum(col("cn")).as("nc"),
                         count(lit(1)).as("k"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", (col("cn").cast("double") + lit(0.5))
        / (col("nc").cast("double") + lit(0.5) * col("k")))
      .withColumn("q", (col("rn").cast("double") + lit(0.5))
        / (col("nr").cast("double") + lit(0.5) * col("k")))
      .withColumn("ti", floor((col("p") - col("q")) * log(col("p") / col("q"))
        * lit(1e12) + lit(0.5)).cast("long"))
      .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
           max(col("k")).as("n_buckets"), sum(col("ti")).as("tsum"))
      .select(col("n_ref"), col("n_cur"), col("n_buckets"),
        (round(col("tsum").cast("double") / lit(1e12), 6) + lit(0.0)).as("psi"))
  }

  /** Median absolute deviation per language — the robust dispersion
    * stat (MAD; Hampel's outlier identifier) quality monitors prefer
    * over stddev, which one corrupt mega-document can drag arbitrarily:
    * med = exact interpolated percentile of n_chars, dev = |x − med|,
    * mad = median of dev, plus the count of docs past the classic
    * 3σ-equivalent gate dev > 3·1.4826·mad (written as the single
    * literal 4.4478 so both engines do ONE double multiply on identical
    * operands). Determinism: percentile interpolation runs on identical
    * integers (agg_percentile's portability argument), dev on the
    * resulting identical doubles; the raw (unrounded) med/mad feed the
    * math, rounding is output-only. Scale shape: the standard
    * two-extra-pass robust-stats recipe — each pass is one map-side-
    * combining groupBy(lang); the dev table is localCheckpointed once
    * (3 narrow columns) because both the mad fit and the outlier count
    * re-read it; at 100 TB swap the exact percentiles for
    * approx_percentile (agg_approx_quantiles' constant-memory path)
    * without changing the plan shape — text_quality_bucket_approx is
    * the proven in-repo cutpoint recipe. This is [[GraftOps.madStats]]
    * at the default gate. */
  private val aggMad: QFn = (s, d) =>
    GraftOps.madStats(Tables.documents(s, d), col("lang"), col("n_chars"))
      .select(col("g").as("lang"), col("n").as("n_docs"), col("median"),
        col("mad"), col("n_outliers"))
      .orderBy(col("lang"))

  /** Exact distinct counting via mergeable fixed-width bitmaps — the
    * at-scale replacement for COUNT(DISTINCT) when the approximate
    * answer (agg_approx_distinct) is not acceptable: every key sets one
    * bit in a 32768-bit bucket bitmap (`bitmap_bucket_number` /
    * `bitmap_bit_position`), partial aggregation ORs bitmaps map-side,
    * and the shuffle then carries (group, bucket, ≤4 KB bitmap) rows —
    * bounded by the KEY RANGE, never the row count — instead of every
    * raw distinct key the way Expand-based exact distinct does. The
    * two-level fold (construct per bucket, sum of bitmap_count over
    * buckets) is exactly how warehouse engines implement exact
    * count-distinct rollups; the bitmaps themselves are mergeable
    * state, so the same pass can feed incremental/grouping-set
    * rollups. The oracle is the plain COUNT(DISTINCT) — equality
    * proves the bitmap path exact, not approximate. This is
    * [[GraftOps.bitmapDistinct]], which raises on a NULL or negative
    * key instead of miscounting it. */
  private val aggBitmapDistinct: QFn = (s, d) =>
    // GraftOps shifts the key 1-based (fixture orderkeys start at 0; the
    // bitmap position/bucket functions are defined on positive inputs —
    // the shift is part of the declared recipe and mirrored in the oracle)
    GraftOps.bitmapDistinct(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_orderkey"))
      .select(col("g").as("l_returnflag"), col("n_distinct").as("n_orders"),
        col("n_buckets"))
      .orderBy(col("l_returnflag"))

  /** Audience-overlap matrix via mergeable bitmaps — agg_bitmap_distinct
    * extended from sizes to SET ALGEBRA (the ads/analytics "how many
    * users did BOTH" question, the workload bitmap indexes exist for):
    * per-(event_type, bucket) user bitmaps built once (the same
    * 32768-bit bucket recipe), every pairwise union computed by OR-ing
    * the two types' bucket bitmaps — Spark ships no bitmap_and, so the
    * intersection is INCLUSION-EXCLUSION (|A∩B| = |A|+|B|−|A∪B|), still
    * exact integer arithmetic throughout. Jaccard is emitted as exact
    * parts-per-million via integer division (a small-int ratio like
    * odd/128 sits exactly on a 6-dp rounding boundary, where Spark's
    * HALF_UP and the oracle's half-even disagree — the text_bpe_apply
    * ppm idiom). Scale: bitmap rows are bounded by |types|×|buckets|
    * (never row count) and localCheckpoint'd once for the two consumers;
    * the pair expansion multiplies THAT bounded table by |types|−1. */
  private val aggBitmapIntersect: QFn = (s, d) => {
    val bm = Tables.events(s, d)
      .select(col("event_type"),
        expr("bitmap_bucket_number(user_id + 1)").as("bucket"),
        expr("bitmap_bit_position(user_id + 1)").as("pos"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .localCheckpoint()
    val sizes = bm.groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n"))
    val pairs = sizes.select(col("event_type").as("ta"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("event_type").as("tb"), col("n").as("n_b")))
      .filter(col("ta") < col("tb"))
    // each pair picks up BOTH sides' bitmaps as a UNION of two
    // equi-joins — an OR-of-equalities join condition would force a
    // nested loop (the shape every PlanSpec join assertion pins against)
    val pk = pairs.select(col("ta"), col("tb"))
    val uni = pk.join(bm, col("event_type") === col("ta"))
      .select(col("ta"), col("tb"), col("bucket"), col("bm"))
      .union(pk.join(bm, col("event_type") === col("tb"))
        .select(col("ta"), col("tb"), col("bucket"), col("bm")))
      .groupBy(col("ta"), col("tb"), col("bucket"))
      .agg(expr("bitmap_or_agg(bm)").as("u"))
      .groupBy(col("ta"), col("tb"))
      .agg(sum(expr("bitmap_count(u)")).as("n_union"))
    pairs.join(uni, Seq("ta", "tb"))
      .withColumn("n_overlap", col("n_a") + col("n_b") - col("n_union"))
      // true int64 division (DIV), never a truncated double quotient —
      // a quotient rounding up to the next integer would off-by-one ppm
      .withColumn("jaccard_ppm", expr("(n_overlap * 1000000) DIV n_union"))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        col("n_overlap"), col("n_union"), col("jaccard_ppm"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Ordered string aggregation — the ANSI `LISTAGG … WITHIN GROUP`
    * surface (SQL:2016; what report/BI SQL emits for "concatenate the
    * group's values in order"): per order priority the distinct status
    * set as one comma-joined ordered string. agg_collect builds the
    * same thing as an ARRAY via sort_array(collect_set(…)); this is the
    * scalar-string statement spelling, newly native in Spark 4 — and the
    * WITHIN GROUP order is what makes it deterministic (an unordered
    * listagg is partitioning-dependent and would never oracle). The
    * distinct pre-aggregation bounds every group's string at |domain|;
    * never listagg an unbounded value column at scale — the result row
    * IS the group, so a hot group makes a hot string. */
  private val aggListagg: QFn = (s, d) => {
    val ps = Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderstatus")).distinct()
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .join(ps.groupBy(col("o_orderpriority"))
        .agg(expr("listagg(o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)")
          .as("statuses"),
          count(lit(1)).as("n_statuses")),
        Seq("o_orderpriority"))
      .orderBy(col("o_orderpriority"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "agg_pricing_summary" -> pricingSummary,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "agg_bitmap_intersect" -> aggBitmapIntersect,
    "agg_listagg" -> aggListagg,
    "agg_mad" -> aggMad,
    "agg_distinct_exact" -> aggDistinctExact,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_sum_distinct" -> aggSumDistinct,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_collect" -> aggCollect,
    "agg_pivot" -> aggPivot,
    "agg_stats" -> aggStats,
    "agg_percentile" -> aggPercentile,
    "agg_approx_quantiles" -> aggApproxQuantiles,
    "agg_hll_merge" -> aggHllMerge,
    "agg_filtered" -> aggFiltered,
    "agg_corr" -> aggCorr,
    "agg_bool" -> aggBool,
    "agg_argmax" -> aggArgmax,
    "agg_mode" -> aggMode,
    "agg_moments" -> aggMoments,
    "agg_weighted" -> aggWeighted,
    "agg_entropy" -> aggEntropy,
    "agg_linreg" -> aggLinreg,
    "agg_gini" -> aggGini,
    "agg_hhi" -> aggHhi,
    "agg_benford" -> aggBenford,
    "agg_autocorr" -> aggAutocorr,
    "agg_chisq" -> aggChisq,
    "agg_ttest" -> aggTtest,
    "agg_ks" -> aggKs,
    "agg_psi" -> aggPsi,
  )

  val oracles: Seq[(String, String)] = Seq(
    // agg_bitmap_intersect: the oracle computes overlap/union from plain
    // distinct sets — equality proves the bitmap inclusion-exclusion
    // path exact; ppm via DuckDB's // integer division (matches DIV)
    "agg_bitmap_intersect" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
            sz AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1),
            ov AS (SELECT a.event_type AS ta, b.event_type AS tb,
                          count(*) AS n_overlap
                   FROM u a JOIN u b ON a.user_id = b.user_id
                                    AND a.event_type < b.event_type
                   GROUP BY 1, 2)
         SELECT sa.event_type AS ta, sb.event_type AS tb,
                sa.n AS n_a, sb.n AS n_b,
                CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
                sa.n + sb.n - CAST(coalesce(ov.n_overlap, 0) AS BIGINT)
                  AS n_union,
                (CAST(coalesce(ov.n_overlap, 0) AS BIGINT) * 1000000)
                  // (sa.n + sb.n - CAST(coalesce(ov.n_overlap, 0) AS BIGINT))
                  AS jaccard_ppm
         FROM sz sa
         JOIN sz sb ON sa.event_type < sb.event_type
         LEFT JOIN ov ON ov.ta = sa.event_type AND ov.tb = sb.event_type
         ORDER BY ta ASC NULLS FIRST, tb ASC NULLS FIRST""",
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS n_orders,
                count(DISTINCT (l_orderkey // 32768) + 1) AS n_buckets
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_listagg" ->
      """WITH ps AS (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders),
            ag AS (SELECT o_orderpriority,
                          string_agg(o_orderstatus, ',' ORDER BY o_orderstatus)
                            AS statuses,
                          count(*) AS n_statuses
                   FROM ps GROUP BY o_orderpriority),
            n AS (SELECT o_orderpriority, count(*) AS n_orders
                  FROM orders GROUP BY o_orderpriority)
         SELECT n.o_orderpriority, n.n_orders, ag.statuses, ag.n_statuses
         FROM n JOIN ag ON n.o_orderpriority = ag.o_orderpriority
         ORDER BY n.o_orderpriority ASC NULLS FIRST""",
    "agg_mad" ->
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
                      FROM documents GROUP BY lang),
            dv AS (SELECT d.lang, med, abs(n_chars - med) AS dev
                   FROM documents d JOIN med USING (lang)),
            md AS (SELECT lang, quantile_cont(dev, 0.5) AS mad
                   FROM dv GROUP BY lang)
         SELECT dv.lang, count(*) AS n_docs,
                round(max(dv.med), 6) + 0.0 AS median,
                round(max(md.mad), 6) + 0.0 AS mad,
                CAST(sum(CASE WHEN dev > 4.4478 * md.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM dv JOIN md USING (lang)
         GROUP BY dv.lang
         ORDER BY lang ASC NULLS FIRST""",
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty,
                round(CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6, 4) AS sum_base_price,
                round(CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6, 4) AS sum_disc_price,
                round(avg(l_quantity), 6) AS avg_qty,
                round(CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / count(*), 6) AS avg_price,
                round(CAST(sum(CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / count(*), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "agg_distinct_exact" ->
      """SELECT o_orderpriority,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
    "agg_sum_distinct" ->
      """SELECT l_returnflag, sum(DISTINCT l_quantity) AS sum_dist_qty
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS n, grouping(l_returnflag, l_linestatus) AS gid
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid ASC, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                grouping(o_orderstatus, o_orderpriority) AS gid
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                grouping(o_orderstatus, o_orderpriority) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",
    "agg_collect" ->
      """SELECT o_orderstatus,
                string_agg(o_orderpriority, ',' ORDER BY o_orderpriority ASC) AS prios
         FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) t
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS FIRST""",
    "agg_pivot" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS n_click,
                count(*) FILTER (WHERE event_type = 'error') AS n_error,
                count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
                count(*) FILTER (WHERE event_type = 'view') AS n_view
         FROM events GROUP BY user_id
         ORDER BY user_id ASC NULLS FIRST""",
    "agg_stats" ->
      """SELECT event_type, min(value) AS min_v, max(value) AS max_v,
                round(stddev_samp(value), 6) AS sd_v,
                round(var_samp(value), 6) AS var_v,
                count(*) AS n
         FROM events GROUP BY event_type
         ORDER BY event_type ASC NULLS FIRST""",
    "agg_filtered" ->
      """SELECT o_orderpriority,
                count(*) AS n_total,
                count(*) FILTER (WHERE o_totalprice > 300000.0) AS n_big,
                count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                           FILTER (WHERE o_totalprice > 300000.0) AS DOUBLE), 4) AS big_total
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
    "agg_corr" ->
      """SELECT l_returnflag, count(*) AS n,
                round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
                round(covar_samp(l_discount, l_tax), 6) + 0.0 AS cov_disc_tax,
                round(covar_pop(l_discount, l_tax), 6) + 0.0 AS covp_disc_tax
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_bool" ->
      """SELECT o_orderpriority,
                bool_and(o_totalprice > 0.0) AS all_positive,
                bool_or(o_totalprice > 500000.0) AS any_over_500k,
                bool_and(o_orderstatus IN ('O','F','P')) AS all_valid_status,
                count(*) AS n
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
    "agg_argmax" ->
      """SELECT o_custkey, o_totalprice AS best_price, o_orderkey AS best_order, n_orders
         FROM (SELECT o_custkey, o_totalprice, o_orderkey,
                      row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn,
                      count(*) OVER (PARTITION BY o_custkey) AS n_orders
               FROM orders) t
         WHERE rn = 1 ORDER BY o_custkey ASC NULLS FIRST""",
    "agg_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, cnt
         FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt,
                      row_number() OVER (PARTITION BY l_returnflag
                                         ORDER BY count(*) DESC, l_quantity ASC) AS rn
               FROM lineitem GROUP BY l_returnflag, l_quantity) t
         WHERE rn = 1 ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_moments" ->
      """WITH ps AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
                  CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
                  CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
                  CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                round((s3/CAST(n AS DOUBLE)
                        - 3.0*(s1/CAST(n AS DOUBLE))*(s2/CAST(n AS DOUBLE))
                        + 2.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                      / ((s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                         * sqrt(s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))), 6) + 0.0 AS skew,
                round((s4/CAST(n AS DOUBLE)
                        - 4.0*(s1/CAST(n AS DOUBLE))*(s3/CAST(n AS DOUBLE))
                        + 6.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s2/CAST(n AS DOUBLE))
                        - 3.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                      / ((s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))
                         * (s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)))) - 3.0, 6) + 0.0 AS ex_kurt
         FROM ps ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_entropy" ->
      """WITH cnt AS (SELECT user_id, event_type, count(*) AS c
                      FROM events GROUP BY user_id, event_type),
            tot AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS tc
                    FROM cnt GROUP BY user_id),
            p AS (SELECT cnt.user_id,
                         (CAST(c AS DOUBLE) / tc) * ln(CAST(c AS DOUBLE) / tc) AS plogp
                  FROM cnt JOIN tot ON cnt.user_id = tot.user_id)
         SELECT user_id, round(-sum(plogp), 6) + 0.0 AS entropy,
                count(*) AS n_types
         FROM p GROUP BY user_id
         ORDER BY user_id ASC NULLS FIRST""",
    "agg_weighted" ->
      """SELECT l_returnflag,
                round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      / CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6) AS wavg_price,
                round(CAST(sum(CAST(l_discount * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      / CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6) AS wavg_disc,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_percentile" ->
      """SELECT lang,
                round(quantile_cont(n_chars, 0.5), 6) AS p50,
                round(quantile_cont(n_chars, 0.9), 6) AS p90
         FROM documents GROUP BY lang
         ORDER BY lang ASC NULLS FIRST""",
    "agg_linreg" ->
      """WITH m AS (
           SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(nd AS BIGINT) AS n,
                round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6) + 0.0 AS slope,
                round((sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) / nd, 6) + 0.0 AS intercept,
                round((nd * sxy - sx * sy) * (nd * sxy - sx * sy)
                      / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) + 0.0 AS r2
         FROM m ORDER BY l_returnflag ASC NULLS FIRST""",
    "agg_gini" ->
      """WITH r AS (SELECT lang, n_chars,
                           CAST(row_number() OVER (PARTITION BY lang
                             ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rk
                    FROM documents),
            a AS (SELECT lang, count(*) AS n,
                         CAST(sum(n_chars) AS BIGINT) AS sx,
                         CAST(sum(rk * n_chars) AS BIGINT) AS srx
                  FROM r GROUP BY lang)
         SELECT lang, n,
                round(CAST(2 * srx - (n + 1) * sx AS DOUBLE) / (n * sx), 6) + 0.0
                  AS gini
         FROM a ORDER BY lang ASC NULLS FIRST""",
    "agg_hhi" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS c
                    FROM events GROUP BY 1, 2),
            a AS (SELECT event_type, count(*) AS n_users,
                         CAST(sum(c * c) AS BIGINT) AS ssq,
                         CAST(sum(c) AS BIGINT) AS tot
                  FROM c GROUP BY event_type)
         SELECT event_type, n_users,
                round(CAST(ssq AS DOUBLE) / (tot * tot), 6) + 0.0 AS hhi
         FROM a ORDER BY event_type ASC NULLS FIRST""",
    "agg_benford" ->
      """WITH dg AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                               AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
                     FROM orders),
            c AS (SELECT digit, count(*) AS n_obs FROM dg GROUP BY digit),
            t AS (SELECT count(*) AS n_total FROM orders)
         SELECT digit, n_obs,
                round(CAST(n_obs AS DOUBLE) / n_total, 6) AS p_obs,
                round(ln(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit)
                      / ln(CAST(10.0 AS DOUBLE)), 6) + 0.0 AS p_benford
         FROM c CROSS JOIN t
         ORDER BY digit ASC NULLS FIRST""",
    "agg_autocorr" ->
      """WITH p AS (SELECT event_type, value AS x,
                           lead(value) OVER (PARTITION BY user_id
                             ORDER BY epoch_ns(ts) ASC, event_id ASC) AS y
                    FROM events),
            f AS (SELECT event_type, x, y FROM p WHERE y IS NOT NULL),
            m AS (SELECT event_type,
                         CAST(count(*) AS DOUBLE) AS nd,
                         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                         CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                         CAST(sum(CAST(y * y AS DECIMAL(18,6))) AS DOUBLE) AS syy
                  FROM f GROUP BY event_type)
         SELECT event_type, CAST(nd AS BIGINT) AS n_pairs,
                round((nd * sxy - sx * sy)
                      / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), 6) + 0.0
                  AS autocorr_lag1
         FROM m ORDER BY event_type ASC NULLS FIRST""",
    "agg_chisq" ->
      """WITH o AS (SELECT event_type AS et,
                           CAST(floor(value / 50.0) AS BIGINT) AS bkt,
                           count(*) AS o
                    FROM events GROUP BY 1, 2),
            rt AS (SELECT et, sum(o) AS rt FROM o GROUP BY et),
            ct AS (SELECT bkt, sum(o) AS ct FROM o GROUP BY bkt),
            nn AS (SELECT sum(o) AS n FROM o),
            cells AS (SELECT o.et, o.bkt, o.o,
                             CAST(rt.rt AS DOUBLE) * ct.ct / nn.n AS e
                      FROM o JOIN rt USING (et) JOIN ct USING (bkt) CROSS JOIN nn),
            t AS (SELECT et, bkt,
                         CAST(floor((o - e) * (o - e) / e * 1e9 + 0.5) AS BIGINT) AS ti
                  FROM cells)
         SELECT count(*) AS n_cells,
                (count(DISTINCT et) - 1) * (count(DISTINCT bkt) - 1) AS dof,
                round(CAST(sum(ti) AS DOUBLE) / 1e9, 6) + 0.0 AS chi2
         FROM t""",
    "agg_ttest" ->
      """WITH m AS (
           SELECT event_type,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY event_type),
            p AS (
           SELECT max(CASE WHEN event_type = 'click' THEN nd END) AS nd1,
                  max(CASE WHEN event_type = 'click' THEN sx END) AS sx1,
                  max(CASE WHEN event_type = 'click' THEN sxx END) AS sxx1,
                  max(CASE WHEN event_type = 'purchase' THEN nd END) AS nd2,
                  max(CASE WHEN event_type = 'purchase' THEN sx END) AS sx2,
                  max(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx2
           FROM m),
            c AS (
           SELECT nd1, nd2, sx1 / nd1 AS m1, sx2 / nd2 AS m2,
                  (nd1 * sxx1 - sx1 * sx1) / (nd1 * (nd1 - 1.0)) AS v1,
                  (nd2 * sxx2 - sx2 * sx2) / (nd2 * (nd2 - 1.0)) AS v2
           FROM p),
            e AS (SELECT nd1, nd2, m1, m2, v1, v2,
                         v1 / nd1 + v2 / nd2 AS se2 FROM c)
         SELECT CAST(nd1 AS BIGINT) AS n_click,
                CAST(nd2 AS BIGINT) AS n_purchase,
                round(m1 - m2, 6) + 0.0 AS mean_diff,
                round((m1 - m2) / sqrt(se2), 6) + 0.0 AS t_stat,
                round(se2 * se2 / ((v1 / nd1) * (v1 / nd1) / (nd1 - 1.0)
                                 + (v2 / nd2) * (v2 / nd2) / (nd2 - 1.0)), 2)
                  + 0.0 AS df_welch
         FROM e""",
    "agg_ks" ->
      """WITH b AS (
           SELECT CAST(floor(value * 100.0) AS BIGINT) AS bkt,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c2
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1),
            f AS (SELECT bkt,
                         CAST(sum(c1) OVER (ORDER BY bkt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS f1,
                         CAST(sum(c2) OVER (ORDER BY bkt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS f2
                  FROM b),
            n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                         CAST(sum(c2) AS BIGINT) AS n2 FROM b)
         SELECT n1, n2,
                round(CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
                  + 0.0 AS ks_stat
         FROM f CROSS JOIN n
         GROUP BY n1, n2""",
    "agg_psi" ->
      """WITH mm AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
                     FROM events),
            b AS (SELECT CAST(floor(value / 50.0) AS BIGINT) AS bkt,
                         (epoch_ns(ts) < mn + (mx - mn) // 2) AS is_ref
                  FROM events CROSS JOIN mm),
            c AS (SELECT bkt,
                         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
                              AS BIGINT) AS rn,
                         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
                              AS BIGINT) AS cn
                  FROM b GROUP BY bkt),
            t AS (SELECT CAST(sum(rn) AS BIGINT) AS nr,
                         CAST(sum(cn) AS BIGINT) AS nc,
                         count(*) AS k FROM c),
            x AS (SELECT nr, nc, k,
                         (CAST(cn AS DOUBLE) + 0.5)
                           / (CAST(nc AS DOUBLE) + 0.5 * k) AS p,
                         (CAST(rn AS DOUBLE) + 0.5)
                           / (CAST(nr AS DOUBLE) + 0.5 * k) AS q
                  FROM c CROSS JOIN t),
            y AS (SELECT nr, nc, k,
                         CAST(floor((p - q) * ln(p / q) * 1e12 + 0.5)
                              AS BIGINT) AS ti
                  FROM x)
         SELECT max(nr) AS n_ref, max(nc) AS n_cur, max(k) AS n_buckets,
                round(CAST(sum(ti) AS DOUBLE) / 1e12, 6) + 0.0 AS psi
         FROM y""",
  )
}
