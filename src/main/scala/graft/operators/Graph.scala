package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the trade network the relational tables imply:
  * vertices = nations, weighted edges = (supplier nation → customer
  * nation) with weight = number of lineitems shipped along that pair.
  * Complements the dedup family's connected components (LlmText
  * labelProp*) with the other classic iterative-join graph kernel.
  *
  * Scale shape: the edge list is built once with the join_star recipe
  * (fact-fact join on orderkey, nation/customer/supplier dims
  * broadcast), aggregated down to ≤|V|² weighted edges. PageRank then
  * iterates rank⋈edges→groupBy(dst) — each round is one bounded
  * equality shuffle over the EDGE table, never the facts; rank state
  * is |V| rows. The 3-round unroll stays one Catalyst plan (the
  * labelPropEdges posture; at larger diameters/budgets use the
  * checkpoint-per-round variant documented there).
  *
  * Float policy: edge probabilities p = w/outw divide exact integer
  * counts (identical doubles everywhere); each round's rank is rounded
  * to 9 dp before reuse (the embed_pca re-round technique) so the
  * ≤|V|-term contribution sums can't accumulate cross-engine or
  * cross-partitioning last-bit drift; damping constants are written as
  * explicit double casts on both sides so neither engine does decimal
  * arithmetic. */
object Graph extends QueryGroup {

  /** (src nation, dst nation, w = lineitem count) weighted edges.
    * `private[graft]` so ApiSpec can feed the same edges to
    * GraftOps.pageRank and assert equality with the declared query. */
  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** The weighted edge table built ONCE per (fixture fingerprint,
    * construction version) — a ScratchParquet artifact: six consumers
    * (degree, pagerank, triangles, jaccard, components, and components'
    * law harness) read the same ≤|V|² parquet rows, and later sessions
    * and JVMs skip the fact-fact aggregation entirely. The parquet scan
    * leaf truncates lineage and reads a stored schema, so the call
    * starts no job. Keyed on the lineitem fingerprint so a regenerated
    * fixture evicts and rebuilds. */
  private[graft] def tradeEdgesCached(s: SparkSession, d: String): DataFrame =
    ScratchParquet.ensure(s, "trade_edges", d, Tables.fingerprint(d, "lineitem"))(
      tradeEdges(s, d))

  /** Degree/strength profile per nation: out/in distinct partners and
    * total edge weights — the graph-summary pass run before any
    * iterative kernel (skew check: a hub nation predicts a skewed
    * PageRank shuffle). */
  private val graphDegree: QFn = (s, d) => {
    // the shared checkpointed edge table: referenced by both the out-
    // and in-side aggregates — without materialization the fact-fact
    // edge build would run once PER reference (fatal at scale)
    val e = tradeEdgesCached(s, d)
    val out = e.groupBy(col("src").as("nationkey"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_w"))
    val in = e.groupBy(col("dst").as("nationkey"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_w"))
    Tables.nation(s, d).select(col("n_nationkey").as("nationkey"), col("n_name"))
      .join(out, Seq("nationkey"), "left")
      .join(in, Seq("nationkey"), "left")
      .select(col("nationkey"), col("n_name"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
      .orderBy(col("nationkey"))
  }

  /** Weighted PageRank, damping 0.85, 3 unrolled power iterations —
    * [[GraftOps.pageRank]] over the persisted edge artifact (each
    * iteration re-reads ≤|V|² parquet rows, not the fact join) and the
    * nation vertex set. */
  private val graphPagerank: QFn = (s, d) =>
    GraftOps.pageRank(tradeEdgesCached(s, d), col("src"), col("dst"), col("w"),
        Tables.nation(s, d), col("n_nationkey"))
      .select(col("id").as("nationkey"), col("pagerank"))
      .orderBy(col("pagerank").desc, col("nationkey"))

  /** Per-node triangle participation over the undirected trade graph —
    * the clustering/cohesion kernel (third classic after degree and
    * PageRank). Edges are symmetrized to canonical u<v pairs (self
    * loops dropped), and triangles enumerated a<b<c by the standard
    * two-hop join: e(a,b)⋈e(b,c)⋈e(a,c) — each triangle counted
    * exactly once, then exploded to its three corners. Scale shape:
    * both joins are equality shuffles on the EDGE table (never facts);
    * at real scale the same plan runs with degree-based edge
    * orientation (orient toward the higher-(degree,id) endpoint)
    * which bounds the wedge fan-out by arboricity — with |V|=25 the
    * canonical id orientation is that plan. This is
    * [[GraftOps.triangleCounts]] (one localCheckpoint of the undirected
    * edges, referenced three times) left-joined onto the nations. */
  private val graphTriangles: QFn = (s, d) =>
    Tables.nation(s, d).select(col("n_nationkey").as("nationkey"), col("n_name"))
      .join(GraftOps.triangleCounts(tradeEdgesCached(s, d), col("src"), col("dst"))
          .withColumnRenamed("node", "nationkey"),
        Seq("nationkey"), "left")
      .select(col("nationkey"), col("n_name"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy(col("nationkey"))

  /** Neighbor-set Jaccard similarity between node pairs — the classic
    * link-prediction screen (do two nations trade with the same
    * partners?). Undirected adjacency from the symmetrized edge list
    * (localCheckpointed once — referenced three times: two wedge sides
    * + degrees); common-neighbor counts come from the two-hop equality
    * self-join grouped by the (a<b) pair; |N(a)∪N(b)| is the exact
    * inclusion–exclusion deg(a)+deg(b)−common, so J is one division of
    * exact integers. Shuffles touch only the EDGE table. Top 20 pairs,
    * fully tie-broken. */
  private val graphJaccard: QFn = (s, d) => {
    val adjBase = tradeEdgesCached(s, d)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
              greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = adjBase.select(col("u").as("n"), col("v").as("x"))
      .union(adjBase.select(col("v").as("n"), col("u").as("x")))
      .localCheckpoint()
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val common = adj.select(col("n").as("a"), col("x"))
      .join(adj.select(col("n").as("b"), col("x").as("x2")), col("x") === col("x2"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nc"))
    common
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
        col("nc"),
        (round(col("nc").cast("double")
               / (col("da") + col("db") - col("nc")), 6) + lit(0.0)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Connected components over the SPARSE trade graph — the graph-family
    * spelling of the clustering kernel the dedup family runs on document
    * pair graphs (same [[LlmText.labelProp]] machinery, so the two
    * surfaces are provably one algorithm). The dense trade graph is a
    * single component at every SF (near-complete), so the rung uses the
    * sql_recursive sparsification: each nation keeps its top-2 partners
    * by weight (row_number, ties by dst), edges symmetrized and
    * distinct'd. Six min-label rounds (diameter margin over the BFS
    * depth sql_recursive certifies; GraphSpec pins the fixed point —
    * round 7 changes nothing); isolated nations fall through the final
    * left join as their own singleton components. Scale shape: the
    * fact-fact edge AGGREGATION runs once and is localCheckpointed (the
    * family idiom); each round is one equality join + one aggregation
    * shuffle over the ≤2|V| checkpointed edge rows; comp_size is a
    * |V|-row window, never a second pass over facts. At unknown
    * diameters use [[LlmText.labelPropUntilFixed]] (checkpoint-per-
    * round, stops at the fixed point). */
  /** Symmetrized top-2-partner sparse edge list (the sql_recursive
    * sparsification), localCheckpointed — `private[graft]` so LawsSpec
    * can pin the 6-round fixed point on the same edges. */
  private[graft] def sparseSymEdges(s: SparkSession, d: String): DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)
    val top2 = tradeEdgesCached(s, d)
      .filter(col("src") =!= col("dst"))
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 2)
      .select(col("src"), col("dst"))
    top2.union(top2.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
  }

  /** Per-node clustering coefficient — the local-density companion to
    * graph_triangles (same exact triangle enumeration, normalized by the
    * node's wedge count): cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), deg over
    * the undirected distinct adjacency, cc pinned 0 for deg ≤ 1 (no
    * wedge to close; both engines' division guard spelled the same).
    * The ratio divides exact integers — one double division on
    * identical operands, 6-dp rounded (+0.0 normalizes −0). Scale
    * shape: identical to graph_triangles — every join touches only the
    * checkpointed EDGE table; degree is a |V|-row aggregate; at large
    * graphs the same degree-based orientation bound applies. This is
    * [[GraftOps.clusteringCoefficient]] left-joined onto the nations
    * (a nation with no edge reads deg 0, cc 0). */
  private val graphClustering: QFn = (s, d) =>
    Tables.nation(s, d).select(col("n_nationkey").as("nationkey"), col("n_name"))
      .join(GraftOps.clusteringCoefficient(tradeEdgesCached(s, d), col("src"), col("dst"))
          .withColumnRenamed("node", "nationkey"),
        Seq("nationkey"), "left")
      .select(col("nationkey"), col("n_name"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        coalesce(col("cc"), lit(0.0)).as("cc"))
      .orderBy(col("nationkey"))

  private val graphComponents: QFn = (s, d) => {
    val sym = sparseSymEdges(s, d)
    // round-19 measured NEGATIVE (do not re-try): broadcasting the
    // ≤|V|-row label table per round (bcastLabels=true) looked like the
    // §3.1 move but REGRESSED 0.65 s → 1.5–2.7 s — the label table is
    // LOOP-VARYING, so the hint replaced one reusable edges-side
    // broadcast with six sequential blocking BroadcastExchange builds.
    // The planner's original choice (broadcast the checkpointed edge
    // union once, reuse it every round) was already right.
    val lab = LlmText.labelProp(sym, iters = 6)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    Tables.nation(s, d).select(col("n_nationkey").as("v"), col("n_name"))
      .join(lab, Seq("v"), "left")
      .select(col("v").as("nationkey"), col("n_name"),
        coalesce(col("lab"), col("v")).as("component"))
      .withColumn("comp_size", count(lit(1)).over(wc))
      .orderBy(col("nationkey"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "graph_degree" -> graphDegree,
    "graph_components" -> graphComponents,
    "graph_pagerank" -> graphPagerank,
    "graph_triangles" -> graphTriangles,
    "graph_jaccard" -> graphJaccard,
    "graph_clustering" -> graphClustering,
  )

  private val edgeCte =
    """e AS (SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2)"""

  val oracles: Seq[(String, String)] = Seq(
    "graph_components" -> {
      // mirror of labelPropEdges' self-loop form: one label-table
      // reference per round; integer min is order-independent → exact
      def round(i: Int): String =
        s"""l${i + 1} AS MATERIALIZED (SELECT e.src AS v, min(l.lab) AS lab
                          FROM sym e JOIN l$i l ON l.v = e.dst
                          GROUP BY e.src)"""
      s"""WITH $edgeCte,
            top2 AS (SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY w DESC, dst ASC) AS rn
                FROM e WHERE src <> dst) t WHERE rn <= 2),
            sym0 AS (SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM top2
                UNION ALL SELECT dst AS src, src AS dst FROM top2) u),
            sym AS MATERIALIZED (SELECT src, dst FROM sym0
                UNION ALL SELECT DISTINCT src, src AS dst FROM sym0),
            l0 AS (SELECT v, v AS lab
                   FROM (SELECT DISTINCT src AS v FROM sym) t),
            ${round(0)}, ${round(1)}, ${round(2)},
            ${round(3)}, ${round(4)}, ${round(5)},
            comp AS (SELECT n.n_nationkey AS nationkey, n.n_name,
                            coalesce(l6.lab, n.n_nationkey) AS component
                     FROM nation n LEFT JOIN l6 ON l6.v = n.n_nationkey)
         SELECT nationkey, n_name, component,
                count(*) OVER (PARTITION BY component) AS comp_size
         FROM comp
         ORDER BY nationkey ASC NULLS FIRST"""
    },
    "graph_degree" ->
      s"""WITH $edgeCte,
            o AS (SELECT src AS nationkey, count(*) AS out_deg,
                         CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY src),
            i AS (SELECT dst AS nationkey, count(*) AS in_deg,
                         CAST(sum(w) AS BIGINT) AS in_w FROM e GROUP BY dst)
         SELECT n.n_nationkey AS nationkey, n.n_name,
                CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
                CAST(coalesce(o.out_w, 0) AS BIGINT) AS out_w,
                CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
                CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w
         FROM nation n
         LEFT JOIN o ON n.n_nationkey = o.nationkey
         LEFT JOIN i ON n.n_nationkey = i.nationkey
         ORDER BY nationkey ASC NULLS FIRST""",
    "graph_pagerank" ->
      s"""WITH $edgeCte,
            ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
            ew AS (SELECT e.src, e.dst, CAST(w AS DOUBLE) / outw AS p
                   FROM e JOIN ow ON e.src = ow.src),
            r0 AS (SELECT n_nationkey AS id, CAST(1.0 AS DOUBLE) / 25 AS r FROM nation),
            r1 AS (SELECT n_nationkey AS id,
                          round(CAST(0.15 AS DOUBLE) / 25 + CAST(0.85 AS DOUBLE)
                                * coalesce(c.c, CAST(0.0 AS DOUBLE)), 9) AS r
                   FROM nation LEFT JOIN (
                     SELECT dst, sum(r * p) AS c FROM ew JOIN r0 ON ew.src = r0.id
                     GROUP BY dst) c ON n_nationkey = c.dst),
            r2 AS (SELECT n_nationkey AS id,
                          round(CAST(0.15 AS DOUBLE) / 25 + CAST(0.85 AS DOUBLE)
                                * coalesce(c.c, CAST(0.0 AS DOUBLE)), 9) AS r
                   FROM nation LEFT JOIN (
                     SELECT dst, sum(r * p) AS c FROM ew JOIN r1 ON ew.src = r1.id
                     GROUP BY dst) c ON n_nationkey = c.dst),
            r3 AS (SELECT n_nationkey AS id,
                          round(CAST(0.15 AS DOUBLE) / 25 + CAST(0.85 AS DOUBLE)
                                * coalesce(c.c, CAST(0.0 AS DOUBLE)), 9) AS r
                   FROM nation LEFT JOIN (
                     SELECT dst, sum(r * p) AS c FROM ew JOIN r2 ON ew.src = r2.id
                     GROUP BY dst) c ON n_nationkey = c.dst)
         SELECT id AS nationkey, round(r, 6) + 0.0 AS pagerank
         FROM r3
         ORDER BY pagerank DESC NULLS LAST, nationkey ASC NULLS FIRST""",
    "graph_triangles" ->
      s"""WITH $edgeCte,
            ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                   FROM e WHERE src <> dst),
            tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                    FROM ue e1
                    JOIN ue e2 ON e1.v = e2.u
                    JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
            pn AS (SELECT unnest([a, b, c]) AS nationkey FROM tri),
            pc AS (SELECT nationkey, count(*) AS n_triangles FROM pn GROUP BY 1)
         SELECT n.n_nationkey AS nationkey, n.n_name,
                CAST(coalesce(pc.n_triangles, 0) AS BIGINT) AS n_triangles
         FROM nation n LEFT JOIN pc ON n.n_nationkey = pc.nationkey
         ORDER BY nationkey ASC NULLS FIRST""",
    "graph_clustering" ->
      s"""WITH $edgeCte,
            ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                   FROM e WHERE src <> dst),
            deg AS (SELECT nationkey, count(*) AS deg FROM (
                      SELECT u AS nationkey FROM ue
                      UNION ALL SELECT v AS nationkey FROM ue) a
                    GROUP BY 1),
            tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                    FROM ue e1
                    JOIN ue e2 ON e1.v = e2.u
                    JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
            pn AS (SELECT unnest([a, b, c]) AS nationkey FROM tri),
            pc AS (SELECT nationkey, count(*) AS n_triangles FROM pn GROUP BY 1)
         SELECT n.n_nationkey AS nationkey, n.n_name,
                CAST(coalesce(deg.deg, 0) AS BIGINT) AS deg,
                CAST(coalesce(pc.n_triangles, 0) AS BIGINT) AS n_triangles,
                CASE WHEN coalesce(deg.deg, 0) >= 2
                     THEN round(2.0 * CAST(coalesce(pc.n_triangles, 0) AS DOUBLE)
                                / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6) + 0.0
                     ELSE 0.0 END AS cc
         FROM nation n
         LEFT JOIN deg ON n.n_nationkey = deg.nationkey
         LEFT JOIN pc ON n.n_nationkey = pc.nationkey
         ORDER BY nationkey ASC NULLS FIRST""",
    "graph_jaccard" ->
      s"""WITH $edgeCte,
            ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                   FROM e WHERE src <> dst),
            adj AS (SELECT u AS n, v AS x FROM ue
                    UNION ALL SELECT v AS n, u AS x FROM ue),
            deg AS (SELECT n, count(*) AS deg FROM adj GROUP BY n),
            cm AS (SELECT a1.n AS a, a2.n AS b, count(*) AS nc
                   FROM adj a1 JOIN adj a2 ON a1.x = a2.x
                   WHERE a1.n < a2.n
                   GROUP BY a1.n, a2.n)
         SELECT cm.a, cm.b, nc,
                round(CAST(nc AS DOUBLE) / (da.deg + db.deg - nc), 6) + 0.0
                  AS jaccard
         FROM cm
         JOIN deg da ON cm.a = da.n
         JOIN deg db ON cm.b = db.n
         ORDER BY jaccard DESC NULLS LAST, cm.a ASC NULLS FIRST,
                  cm.b ASC NULLS FIRST
         LIMIT 20""",
  )
}
