package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C — joins.
  * Scale design: dimension tables (region/nation/customer) get explicit
  * `broadcast()` hints → broadcast-hash join, no shuffle of the fact side.
  * Fact-fact joins (lineitem⨝orders) shuffle on the join key → sort-merge,
  * the shape that scales to 100 TB with AQE skew splitting. Non-equi joins
  * are capped by selective pushdown filters on BOTH sides before the
  * nested-loop product (SURVEY.md §4: no unbounded cross products).
  */
object Joins extends QueryGroup {

  /** customer⨝nation⨝region, dims broadcast: customers + avg balance per
    * (region, nation). */
  private val joinBroadcast: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           round(avg(col("c_acctbal")), 6).as("avg_bal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Money-exact revenue sum: per-element double product (identical in
    * both engines) cast to DECIMAL(18,6) BEFORE aggregation, so the sum
    * is order-independent — a plain double sum over 100k+ rows diverges
    * from the oracle at the 4th decimal once plans reorder accumulation
    * (seen at sf0.1 with the bucketed plan; SURVEY.md §7.4 policy). */
  private[operators] def revenueSum: Column =
    // round-18 opt: int64-micros accumulator (the pricing-summary
    // idiom) with an exact DECIMAL rescale — same double bit for bit
    // (the product has 4 dp provenance, far inside the 0.5 µ bound)
    round((sum(expr(
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e6 + 0.5) AS BIGINT)"))
      .cast("decimal(26,0)") / lit(1000000)).cast("double"), 4)

  // DELIBERATELY not the micros spelling of its Column twin above
  // (round-19, ADVICE r18): this string is the DUCKDB oracle's recipe,
  // and DuckDB's decimal-division/again-to-double semantics for the
  // S/1e6 rescale are not probe-verified the way the DECIMAL(18,6)
  // per-row cast is (SURVEY §7.3); at micros magnitudes past 2^53 a
  // naive double rescale would diverge. The twins' equality therefore
  // rests on the 0.5 µ rounding bound (4 dp provenance) plus the parity
  // gate that re-proves it at every SF each round — and on overflow the
  // engines now FAIL DIFFERENTLY but both loudly: Spark raises
  // ARITHMETIC_OVERFLOW (ANSI required at the Tables choke point),
  // DuckDB widens to HUGEINT.
  private[operators] val revenueSumSql =
    "round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4)"

  /** lineitem⨝orders on orderkey — large-large, shuffle/sort-merge:
    * revenue per order priority. */
  private val joinShuffle: QFn = (s, d) => {
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(revenueSum.as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** customer LEFT JOIN orders — customers with no orders keep NULL
    * aggregates (count=0, total=0). */
  private val joinOuterLeft: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           // per-element DECIMAL cast before summing (the revenueSum
           // pattern): double sums are accumulation-order dependent and
           // bit-diverge from the oracle once partitioning varies
           round(coalesce(
             (sum(expr("CAST(floor((o_totalprice) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double"),
             lit(0.0)), 4).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  /** orders FULL OUTER customer on custkey, row-level with NULLs kept. */
  private val joinOuterFull: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 350000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "full")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  /** RIGHT OUTER — the mirrored preserve-side: a filtered orders slice
    * right-joined to customer keeps every customer row; planner-wise
    * Spark canonicalizes this to the left-outer with sides swapped, so
    * the scale properties of join_outer_left carry over unchanged. */
  private val joinOuterRight: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 350000.0)
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): both sides
    * derive a nullable key — negative-balance customers and every-7th
    * nation lose theirs — and the null-safe join matches the NULL
    * group too (each NULL customer pairs with each NULL dim row).
    * Plans as a regular hash join on the null-safe-canonicalized key,
    * so the scale shape equals a plain equi-join; the alternative
    * (OR-of-IS-NULL predicates) would degenerate to a nested loop. */
  private val joinNullsafe: QFn = (s, d) => {
    val c = Tables.customer(s, d)
      .withColumn("nk", when(col("c_acctbal") >= 0.0, col("c_nationkey")))
    val dim = Tables.nation(s, d)
      .withColumn("nk", when(col("n_nationkey") % 7 =!= 0, col("n_nationkey")))
      .select(col("nk"), col("n_name"))
    c.join(dim, c("nk") <=> dim("nk"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           round((sum(expr("CAST(floor((c_acctbal) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double"), 4)
             .as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** EXISTS — customers having ≥1 urgent order over 250k. */
  private val joinSemi: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** NOT EXISTS — customers with no order over 400k. */
  private val joinAnti: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Bounded cross join: region × distinct order status (5×3 rows). */
  private val joinCross: QFn = (s, d) => {
    val r = Tables.region(s, d).select(col("r_name"))
    val st = Tables.orders(s, d).select(col("o_orderstatus")).distinct()
    r.crossJoin(st).orderBy(col("r_name"), col("o_orderstatus"))
  }

  /** Non-equi (theta) join: parts whose size falls strictly below the
    * line's quantity, both sides pre-filtered selective (≥49) so the
    * nested-loop product stays bounded at any SF. */
  private val joinTheta: QFn = (s, d) => {
    val l = Tables.lineitem(s, d).filter(col("l_quantity") >= 49.0)
      .select(col("l_quantity"))
    val p = Tables.part(s, d).filter(col("p_size") >= 49)
      .select(col("p_size"))
    l.join(broadcast(p), p("p_size").cast("double") < l("l_quantity"))
      .groupBy(col("l_quantity"), col("p_size"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("l_quantity"), col("p_size"))
  }

  /** Interval join: for each purchase event, count events by the same user
    * in the following hour. Equi key (user_id) + range condition on raw
    * bigint-ns time — planner runs it as a shuffled equi join with the
    * range as post-filter, which partitions cleanly at scale. */
  private val joinRangeTime: QFn = (s, d) => {
    val a = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_event_id"), col("user_id").as("a_user_id"),
              col("ts").as("a_ts"))
    val b = Tables.events(s, d)
      .select(col("user_id").as("b_user_id"), col("ts").as("b_ts"))
    val hourNs = 3600L * 1000L * 1000L * 1000L
    a.join(b,
        a("a_user_id") === b("b_user_id") &&
        b("b_ts") > a("a_ts") && b("b_ts") <= a("a_ts") + lit(hourNs), "left")
      .groupBy(col("a_event_id"))
      .agg(count(col("b_ts")).as("n_next_hour"))
      .orderBy(col("a_event_id"))
  }

  /** The custom whole-operator band join (graft.plans.RangeJoinExec —
    * logical node + Strategy + physical sweep, SURVEY §4 ladder rung c)
    * driven through the declared surface: same semantics as
    * join_range_time's band but INNER, executed by the per-key
    * sliding-window sweep instead of SMJ + post-join filter. The oracle
    * is plain SQL; PlanSpec asserts the physical node is present and
    * LawsSpec asserts row equality with the builtin composition. */
  private val joinRangeExec: QFn = (s, d) => {
    val hourNs = 3600L * 1000L * 1000L * 1000L
    val a = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_event_id"), col("user_id").as("a_user_id"),
              col("ts").as("a_ts"))
    val b = Tables.events(s, d)
      .select(col("user_id").as("b_user_id"), col("ts").as("b_ts"))
    graft.plans.RangeJoin.rangeJoin(a, b,
        "a_user_id", "b_user_id", "a_ts", "b_ts", 0L, hourNs)
      .groupBy(col("a_event_id"))
      .agg(count(lit(1)).as("n_next_hour"))
      .orderBy(col("a_event_id"))
  }

  /** As-of join (backward): for each purchase, the value of the same
    * user's most recent click strictly before it. Implemented without a
    * quadratic join: single window over the event stream with an
    * IGNORE NULLS last() over rows preceding — the scalable as-of pattern
    * (sort once per user, no pair enumeration). Spark has no native batch
    * as-of join; this composition is the §4-preferred form. */
  private val joinAsof: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("click_value", when(col("event_type") === "click", col("value")))
      .withColumn("prev_click_value", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prev_click_value"))
      .orderBy(col("event_id"))
  }

  /** As-of join with a STALENESS TOLERANCE — the feature-store
    * point-in-time rule (a training row may only join a feature
    * observed before it AND not older than the freshness SLA; serving
    * a stale feature silently is the classic trainer/server skew bug):
    * join_asof's window composition extended to carry the matched
    * click's timestamp, an exact integer staleness in seconds, and a
    * `fresh_value` that refuses matches older than the 1 h tolerance.
    * Purchases with no prior click keep NULL everywhere — the honest
    * "no feature available" answer, distinct from "feature too old"
    * (staleness present, fresh_value NULL). Same single per-user
    * window — sort once per key, no pair enumeration, the §4-preferred
    * as-of shape; the tolerance is a pure row predicate after the
    * window, so the scale story is unchanged. */
  private val joinAsofTol: QFn = (s, d) => {
    val tolS = 3600L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("click_value", when(col("event_type") === "click", col("value")))
      .withColumn("click_ts", when(col("event_type") === "click", col("ts")))
      .withColumn("prev_click_value", last(col("click_value"), ignoreNulls = true).over(w))
      .withColumn("prev_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("staleness_s",
        expr("(ts - prev_click_ts) div 1000000000"))
      .select(col("event_id"), col("user_id"), col("prev_click_value"),
        col("staleness_s"),
        when(col("staleness_s") <= tolS, col("prev_click_value")).as("fresh_value"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of join — the LABEL join of a training pipeline (the
    * backward direction fetches features known at t; this direction
    * fetches the outcome: for each click, the same user's NEXT purchase
    * at or after it, plus the lead time and a 7-day attribution-horizon
    * flag — "did this click convert, and within the window we're allowed
    * to learn from"). Same single per-user window as join_asof with the
    * frame reversed (rows FOLLOWING + first() IGNORE NULLS) — sort once
    * per key, no pair enumeration; the horizon is a pure row predicate
    * after the window. lead_s is exact integer seconds on the raw bigint
    * ns timestamps; the labeled flag's FALSE-on-no-match is the same
    * three-valued-logic spelling on both engines (FALSE AND NULL =
    * FALSE). */
  private val joinAsofFwd: QFn = (s, d) => {
    val horizonS = 7L * 24 * 3600
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("purch_value", when(col("event_type") === "purchase", col("value")))
      .withColumn("purch_ts", when(col("event_type") === "purchase", col("ts")))
      .withColumn("next_purchase_value",
        first(col("purch_value"), ignoreNulls = true).over(w))
      .withColumn("next_purchase_ts",
        first(col("purch_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .withColumn("lead_s", expr("(next_purchase_ts - ts) div 1000000000"))
      .select(col("event_id"), col("user_id"), col("next_purchase_value"),
        col("lead_s"),
        (col("lead_s").isNotNull && col("lead_s") <= horizonS).as("labeled"))
      .orderBy(col("event_id"))
  }

  /** NEAREST as-of — the third as-of mode, completing the triad
    * (join_asof looks back, join_asof_fwd looks forward; this takes
    * whichever purchase is CLOSER in time, either side, within a ±1h
    * tolerance — the sensor-fusion / feature-alignment rule when the
    * signal is symmetric around the observation). Both candidates come
    * from the SAME per-user sort join_asof already pays — one backward
    * frame (last purchase before) and one forward frame (first after) —
    * then the pick is a pure row CASE: backward wins ties (the earlier
    * observation, a deterministic rule spelled identically in both
    * engines' three-valued logic: an out-of-tolerance or absent side
    * never blocks the other). offset_s is SIGNED exact integer seconds
    * (negative = matched purchase precedes the click); unmatched clicks
    * stay rows with matched=false — the trainer decides, not the join.
    * Scale: one window sort per user partition, no pair enumeration,
    * no second shuffle. */
  private val joinAsofNearest: QFn = (s, d) => {
    val tolS = 3600L
    val wB = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wF = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("pv", when(col("event_type") === "purchase", col("value")))
      .withColumn("pt", when(col("event_type") === "purchase", col("ts")))
      .withColumn("prev_v", last(col("pv"), ignoreNulls = true).over(wB))
      .withColumn("prev_t", last(col("pt"), ignoreNulls = true).over(wB))
      .withColumn("next_v", first(col("pv"), ignoreNulls = true).over(wF))
      .withColumn("next_t", first(col("pt"), ignoreNulls = true).over(wF))
      .filter(col("event_type") === "click")
      .withColumn("back_s", expr("(ts - prev_t) div 1000000000"))
      .withColumn("fwd_s", expr("(next_t - ts) div 1000000000"))
      .withColumn("sel",
        when(col("back_s").isNotNull && col("back_s") <= tolS &&
             (col("fwd_s").isNull || col("fwd_s") > tolS
               || col("back_s") <= col("fwd_s")), lit("b"))
        .when(col("fwd_s").isNotNull && col("fwd_s") <= tolS, lit("f")))
      .select(col("event_id"), col("user_id"),
        when(col("sel") === "b", col("prev_v"))
          .when(col("sel") === "f", col("next_v")).as("nearest_value"),
        when(col("sel") === "b", -col("back_s"))
          .when(col("sel") === "f", col("fwd_s")).as("offset_s"),
        col("sel").isNotNull.as("matched"))
      .orderBy(col("event_id"))
  }

  /** The as-of mode of the custom RangeJoinExec sweep (pickLatest):
    * for each purchase, the most recent click strictly before it within
    * a 10-year lag window — join_asof's semantics on these fixtures
    * (INNER: purchases with no prior click drop; (user_id, ts) is
    * unique in the events fixture, so "latest" is unambiguous — with
    * tied timestamps the sweep's pick follows the child sort, and a
    * caller needing a total order should disambiguate the time column
    * first). Same oracle rows as the window composition restricted to
    * non-null matches; LawsSpec asserts that equality directly. */
  private val joinAsofExec: QFn = (s, d) => {
    val tenYearsNs = 10L * 366 * 24 * 3600 * 1000 * 1000 * 1000
    val a = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_event_id"), col("user_id").as("a_user_id"),
              col("ts").as("a_ts"))
    val b = Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("user_id").as("b_user_id"), col("ts").as("b_ts"),
              col("value").as("b_value"))
    graft.plans.RangeJoin.asofJoin(a, b,
        "a_user_id", "b_user_id", "a_ts", "b_ts", tenYearsNs)
      .select(col("a_event_id").as("event_id"), col("a_user_id").as("user_id"),
              col("b_value").as("prev_click_value"))
      .orderBy(col("event_id"))
  }

  /** Star join over the full dimension chain: lineitem⨝supplier⨝nation⨝
    * region, revenue per region — the fact table streams through three
    * broadcast-hash joins with no shuffle until the final aggregation
    * (smallest-first join order; SURVEY.md §4). Completes query coverage
    * of all ten fixture tables. */
  private val joinStar: QFn = (s, d) => {
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(revenueSum.as("revenue"),
           countDistinct(col("s_suppkey")).as("n_suppliers"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"))
  }

  /** Skew-salting idiom: the big side tags each row with one of 8 salts
    * (any per-row hash — never in the output), the dimension side is
    * replicated once per salt, and the join key becomes (key, salt) — a
    * hot key's rows now land on 8 reducers instead of one. AQE's runtime
    * skew split covers most cases; explicit salting is the hand tool for
    * pathological keys, and the aggregated result is provably identical
    * to the unsalted join (each big-side row matches exactly one replica). */
  private val joinSalted: QFn = (s, d) => {
    val salts = 8
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .withColumn("salt", pmod(xxhash64(col("l_extendedprice")), lit(salts)).cast("int"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    // round-19 opt (guide §3.1 "pick the strategy deliberately"): the
    // planner's size estimate survives the 8× Generate unchanged, so it
    // broadcast the EXPLODED replica table — a single-threaded driver
    // collect+build of salts×|orders| rows that is also semantically
    // backwards (salting exists to spread a SHUFFLED join's hot keys
    // over reducers; a broadcast join has no reducers). The explicit
    // shuffled-hash hint restores the declared shape: both sides
    // partition by (key, salt) and the replica side builds per-partition
    // hash tables in parallel, no sort. Same rows, provably (each
    // big-side row still matches exactly one replica).
    l.join(o.hint("shuffle_hash"),
        l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(revenueSum.as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus"))
  }

  /** Runtime bloom-filter join — Spark's row-level runtime filtering
    * (the companion to scan_dpp's partition-level pruning): a bloom
    * filter built from the selective creation side (urgent orders) is
    * injected as a semi-join reduction on the fact scan, so most
    * lineitem rows die AT THE SCAN instead of riding the shuffle to the
    * join — on a 100 TB fact this is the difference between shuffling
    * the table and shuffling the ~20% that can match. Runs in a FORKED
    * session so the demo thresholds (broadcast off to force a shuffle
    * join — broadcast joins don't need bloom filters; application-side
    * threshold 0 so the small fixture qualifies) cannot leak into
    * sibling queries: conf is read at optimization time, which happens
    * at the caller's action. PlanSpec asserts might_contain reached the
    * fact side. */
  private val joinBloom: QFn = (s, d) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ord = Tables.orders(s2, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Tables.lineitem(s2, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(revenueSum.as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Fuzzy-match join — the entity-resolution screen (same product
    * under two near-identical names): part-name pairs within
    * Levenshtein distance 2 over an explicitly capped key range, the
    * dedup_ngram_jaccard posture (an O(n²) EXACT companion whose
    * ground truth calibrates the scaled detector). At corpus scale the
    * same verify runs inside BLOCKS — candidates from a cheap blocking
    * key (length bucket + sorted-token fingerprint, or the minhash
    * bands already built for dedup) — never the raw cross product;
    * the cap here IS the block. levenshtein() is codegen'd on both
    * engines and the distance is an exact integer. */
  private val joinFuzzy: QFn = (s, d) => {
    val p = Tables.part(s, d).filter(col("p_partkey") < 300)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"))
    p.select(col("pk").as("pa"), col("nm").as("na"))
      .join(p.select(col("pk").as("pb"), col("nm").as("nb")), col("pa") < col("pb"))
      .withColumn("dist", levenshtein(col("na"), col("nb")))
      .filter(col("dist") <= 2)
      .select(col("pa"), col("pb"), col("dist").cast("long").as("dist"))
      .orderBy(col("pa"), col("pb"))
  }

  /** Blocked fuzzy entity canonicalization — join_fuzzy's promised
    * at-scale variant, run over the FULL part table with no key cap:
    * every part resolves to the minimum p_partkey among its Levenshtein
    * ≤ 2 name-neighbors (self included, so every row survives), plus
    * the count of non-self neighbor rows. Blocking key = (tail token of
    * the name, length band): candidates must share the last
    * space-separated token AND a ⌊len/3⌋ band, with each name
    * REPLICATED into ⌊len/3⌋ and ⌊(len+2)/3⌋ (distinct — at most 2
    * buckets). Floor monotonicity makes the band probe lossless for
    * |Δlen| ≤ 2: for la ≤ lb ≤ la+2, ⌊la/3⌋ ≤ ⌊lb/3⌋ ≤ ⌊(la+2)/3⌋ and
    * the outer two differ by ≤ 1, so ⌊lb/3⌋ hits one of a's two
    * buckets — and any Levenshtein ≤ 2 pair has |Δlen| ≤ 2. The verify
    * is exact Levenshtein, so precision is 1 by construction;
    * tail-token recall is empirical (100% on the fixtures — LawsSpec
    * asserts equality with the exact all-pairs canonical map on the
    * capped range). Scale shape: rows collapse to DISTINCT names before
    * the quadratic step, the pair product is Σ_bucket v_b² over the
    * name vocabulary after one shuffle on the blocking key — never
    * rows² — and the output is one row per entity, not per pair. The
    * oracle mirrors the identical blocking row-level (equal by
    * construction: the match relation is a function of the name). The
    * construction is [[GraftOps.fuzzyCanonicalize]] at band 3, distance
    * 2, which raises on a NULL name; its vocabulary collapse runs
    * sub-second at sf0.1, where the row-level form benched 77 s. */
  private val joinFuzzyBlocked: QFn = (s, d) =>
    GraftOps.fuzzyCanonicalize(Tables.part(s, d), col("p_partkey"), col("p_name"))
      .select(col("id").as("pk"), col("canon_id").as("canon_pk"), col("n_fuzzy"))
      .orderBy(col("pk"))

  val queries: Seq[(String, QFn)] = Seq(
    "join_broadcast" -> joinBroadcast,
    "join_shuffle" -> joinShuffle,
    "join_outer_left" -> joinOuterLeft,
    "join_outer_right" -> joinOuterRight,
    "join_outer_full" -> joinOuterFull,
    "join_nullsafe" -> joinNullsafe,
    "join_semi" -> joinSemi,
    "join_anti" -> joinAnti,
    "join_cross" -> joinCross,
    "join_theta" -> joinTheta,
    "join_range_time" -> joinRangeTime,
    "join_range_exec" -> joinRangeExec,
    "join_asof" -> joinAsof,
    "join_asof_tol" -> joinAsofTol,
    "join_asof_fwd" -> joinAsofFwd,
    "join_asof_nearest" -> joinAsofNearest,
    "join_asof_exec" -> joinAsofExec,
    "join_salted" -> joinSalted,
    "join_star" -> joinStar,
    "join_bloom" -> joinBloom,
    "join_fuzzy" -> joinFuzzy,
    "join_fuzzy_blocked" -> joinFuzzyBlocked,
  )

  val oracles: Seq[(String, String)] = Seq(
    "join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
                round(avg(c_acctbal), 6) AS avg_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "join_shuffle" ->
      s"""SELECT o_orderpriority,
                $revenueSumSql AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
    "join_bloom" ->
      s"""SELECT o_orderpriority,
                $revenueSumSql AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
    "join_outer_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
                round(coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey
         ORDER BY c_custkey ASC NULLS FIRST""",
    "join_nullsafe" ->
      """WITH c AS (SELECT c_acctbal,
                           CASE WHEN c_acctbal >= 0.0 THEN c_nationkey END AS nk
                    FROM customer),
            dim AS (SELECT CASE WHEN n_nationkey % 7 <> 0 THEN n_nationkey END AS nk,
                           n_name
                    FROM nation)
         SELECT n_name, count(*) AS n_customers,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_bal
         FROM c JOIN dim ON c.nk IS NOT DISTINCT FROM dim.nk
         GROUP BY n_name
         ORDER BY n_name ASC NULLS FIRST""",
    "join_outer_right" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM (SELECT * FROM orders WHERE o_totalprice > 350000.0) o
         RIGHT JOIN customer ON o_custkey = c_custkey
         ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""",
    "join_outer_full" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer
         FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 350000.0) o
           ON c_custkey = o_custkey
         ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT' AND o_totalprice > 250000.0)
         ORDER BY c_custkey ASC NULLS FIRST""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
         ORDER BY c_custkey ASC NULLS FIRST""",
    "join_cross" ->
      """SELECT r_name, o_orderstatus
         FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
         ORDER BY r_name ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""",
    "join_theta" ->
      """SELECT l_quantity, p_size, count(*) AS n_pairs
         FROM (SELECT l_quantity FROM lineitem WHERE l_quantity >= 49.0) l
         JOIN (SELECT p_size FROM part WHERE p_size >= 49) p
           ON CAST(p_size AS DOUBLE) < l_quantity
         GROUP BY l_quantity, p_size
         ORDER BY l_quantity ASC NULLS FIRST, p_size ASC NULLS FIRST""",
    "join_range_time" ->
      """SELECT a.event_id AS a_event_id, count(b.ts) AS n_next_hour
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         LEFT JOIN events b
           ON a.user_id = b.user_id
          AND epoch_ns(b.ts) > epoch_ns(a.ts)
          AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 3600000000000
         GROUP BY a.event_id
         ORDER BY a_event_id ASC NULLS FIRST""",
    "join_range_exec" ->
      """SELECT a.event_id AS a_event_id, count(*) AS n_next_hour
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         JOIN events b
           ON a.user_id = b.user_id
          AND epoch_ns(b.ts) > epoch_ns(a.ts)
          AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 3600000000000
         GROUP BY a.event_id
         ORDER BY a_event_id ASC NULLS FIRST""",
    "join_asof_exec" ->
      """WITH a AS (SELECT event_id, user_id, epoch_ns(ts) AS at
                    FROM events WHERE event_type = 'purchase'),
            b AS (SELECT user_id, epoch_ns(ts) AS bt, value
                  FROM events WHERE event_type = 'click'),
            m AS (SELECT a.event_id, a.user_id, b.value,
                         row_number() OVER (PARTITION BY a.event_id
                                            ORDER BY b.bt DESC) AS rn
                  FROM a JOIN b
                    ON a.user_id = b.user_id
                   AND b.bt < a.at
                   AND b.bt >= a.at - 316224000000000000)
         SELECT event_id, user_id, value AS prev_click_value
         FROM m WHERE rn = 1
         ORDER BY event_id ASC NULLS FIRST""",
    "join_asof" ->
      """SELECT event_id, user_id, prev_click_value FROM (
           SELECT event_id, user_id, event_type,
                  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_click_value
           FROM events) t
         WHERE event_type = 'purchase'
         ORDER BY event_id ASC NULLS FIRST""",
    "join_asof_fwd" ->
      """SELECT event_id, user_id, next_purchase_value, lead_s,
                (lead_s IS NOT NULL AND lead_s <= 604800) AS labeled
         FROM (
           SELECT event_id, user_id, event_type,
                  first_value(CASE WHEN event_type = 'purchase' THEN value END
                              IGNORE NULLS) OVER w AS next_purchase_value,
                  (first_value(CASE WHEN event_type = 'purchase'
                                    THEN epoch_ns(ts) END IGNORE NULLS) OVER w
                   - epoch_ns(ts)) // 1000000000 AS lead_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         ) t
         WHERE event_type = 'click'
         ORDER BY event_id ASC NULLS FIRST""",
    "join_asof_nearest" ->
      """SELECT event_id, user_id,
                CASE sel WHEN 'b' THEN prev_v WHEN 'f' THEN next_v END
                  AS nearest_value,
                CASE sel WHEN 'b' THEN -back_s WHEN 'f' THEN fwd_s END
                  AS offset_s,
                (sel IS NOT NULL) AS matched
         FROM (
           SELECT event_id, user_id, back_s, fwd_s, prev_v, next_v,
                  CASE
                    WHEN back_s IS NOT NULL AND back_s <= 3600
                     AND (fwd_s IS NULL OR fwd_s > 3600 OR back_s <= fwd_s)
                    THEN 'b'
                    WHEN fwd_s IS NOT NULL AND fwd_s <= 3600 THEN 'f'
                  END AS sel
           FROM (
             SELECT event_id, user_id, event_type,
                    (epoch_ns(ts) -
                     last_value(CASE WHEN event_type = 'purchase'
                                     THEN epoch_ns(ts) END IGNORE NULLS)
                       OVER wb) // 1000000000 AS back_s,
                    (first_value(CASE WHEN event_type = 'purchase'
                                      THEN epoch_ns(ts) END IGNORE NULLS)
                       OVER wf - epoch_ns(ts)) // 1000000000 AS fwd_s,
                    last_value(CASE WHEN event_type = 'purchase' THEN value END
                               IGNORE NULLS) OVER wb AS prev_v,
                    first_value(CASE WHEN event_type = 'purchase' THEN value END
                                IGNORE NULLS) OVER wf AS next_v
             FROM events
             WINDOW wb AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           ) inner_t
           WHERE event_type = 'click'
         ) t
         ORDER BY event_id ASC NULLS FIRST""",
    "join_asof_tol" ->
      """SELECT event_id, user_id, prev_click_value,
                (epoch_ns(ts) - epoch_ns(prev_click_ts)) // 1000000000
                  AS staleness_s,
                CASE WHEN (epoch_ns(ts) - epoch_ns(prev_click_ts))
                          // 1000000000 <= 3600
                     THEN prev_click_value END AS fresh_value
         FROM (
           SELECT event_id, user_id, event_type, ts,
                  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_click_value,
                  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_click_ts
           FROM events) t
         WHERE event_type = 'purchase'
         ORDER BY event_id ASC NULLS FIRST""",
    "join_star" ->
      s"""SELECT r_name,
                $revenueSumSql AS revenue,
                count(DISTINCT s_suppkey) AS n_suppliers,
                count(*) AS n_lines
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name
         ORDER BY r_name ASC NULLS FIRST""",
    "join_salted" ->
      s"""SELECT o_orderstatus,
                $revenueSumSql AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus ASC NULLS FIRST""",
    "join_fuzzy" ->
      """WITH p AS (SELECT p_partkey AS pk, p_name AS nm FROM part
                    WHERE p_partkey < 300)
         SELECT a.pk AS pa, b.pk AS pb,
                CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
         FROM p a JOIN p b ON a.pk < b.pk
         WHERE levenshtein(a.nm, b.nm) <= 2
         ORDER BY pa ASC NULLS FIRST, pb ASC NULLS FIRST""",
    "join_fuzzy_blocked" ->
      """WITH p AS (SELECT p_partkey AS pk, p_name AS nm,
                           split_part(p_name, ' ', -1) AS lw,
                           length(p_name) AS len
                    FROM part),
            banded AS (SELECT pk, nm, lw, unnest(list_distinct(
                                [len // 3, (len + 2) // 3])) AS band
                       FROM p),
            cand AS (SELECT a.pk AS pa, b.pk AS pb
                     FROM banded a JOIN banded b
                       ON a.lw = b.lw AND a.band = b.band
                     WHERE levenshtein(a.nm, b.nm) <= 2)
         SELECT pa AS pk, min(pb) AS canon_pk,
                count(DISTINCT CASE WHEN pb <> pa THEN pb END) AS n_fuzzy
         FROM cand GROUP BY pa
         ORDER BY pk ASC NULLS FIRST""",
  )
}
