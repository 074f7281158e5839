package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, input_file_name, max, min, when}

/** Physical-plan assertions (SURVEY.md §4): pushdown, pruning, join
  * strategy, and top-k shapes must be the ones that survive a 100×
  * scale-up — not just any plan that returns the right rows. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  // toString truncates long field lists (PushedFilters past ~100 chars);
  // the formatted mode prints them whole — use it when the assertion
  // targets a filter that isn't first in the pushed list
  private def planFull(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("scan_pruned pushes the shipdate range into the parquet scan") {
    val p = plan("scan_pruned")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // column pruning: only the 3 projected columns reach the scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"), p)
  }

  test("join_broadcast uses broadcast-hash joins for the dims") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_shuffle falls back to a shuffle join when neither side is broadcastable") {
    // at sf0.001 the planner rightly broadcasts the small side; the shape
    // that matters at 100 TB is what it picks once broadcast is off
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = SparkEntry.queries("join_shuffle")(spark, TestSpark.sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("topk_global plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("agg_pricing_summary is a two-phase hash aggregate") {
    val p = plan("agg_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("scan_dpp injects a runtime partition filter from the dim side") {
    val p = plan("scan_dpp")
    assert(p.contains("dynamicpruning"), p)
  }

  test("sim_knn_ivf probe partition-prunes the persisted cells scan") {
    val p = plan("sim_knn_ivf")
    // the cells read must carry a runtime partition filter on the cell
    // key — only nprobe of ncells partitions are read from disk
    assert(p.contains("dynamicpruning"), p)
  }

  test("dedup family never plans a quadratic join") {
    // locks in the round-2/3 scale fixes: candidate generation must stay
    // an equality-bucket shuffle (minhash bands, simhash chunks, anchor
    // cells, label-prop rounds) — a regression to an unconditioned pair
    // product shows up as CartesianProduct or an unexpected
    // BroadcastNestedLoopJoin
    for (q <- Seq("dedup_exact", "dedup_near_minhash", "dedup_simhash",
                  "dedup_clusters", "dedup_clusters_all")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
    // dedup_embcos legitimately broadcasts two BOUNDED centroid sets as
    // nested-loop products inside the pair-graph build (round-7
    // hierarchy): anchors × ⌈n¼⌉ coarse centroids (the anchor→coarse
    // map) and vectors × coarse centroids (the 3-nearest-coarse
    // ranking), each rendered once per side of the cells self-join → ≤4
    // in the build subtree. The LIVE part of the plan — everything
    // before the persisted pair graph's InMemoryRelation rendering —
    // must contain NO nested-loop join at all (it only reads the
    // cache), so a genuinely regressed extra BNLJ can't hide behind the
    // relation's rendered subtree regardless of which suite populated
    // the cache first (round-6 advice: the old flat ceiling was
    // order-dependent). CartesianProduct is never acceptable anywhere.
    val p0 = plan("dedup_embcos")
    assert(!p0.contains("CartesianProduct"), p0)
    // once another suite has materialized the cached pair graph, its
    // AQE-finalized relation renders BOTH "== Final Plan ==" and
    // "== Initial Plan ==" sections — the initial section repeats the
    // same join tree, so counting would double. Keep everything before
    // the (single) initial-plan rendering.
    val p = p0.split("== Initial Plan ==").head
    val cut = p.indexOf("InMemoryRelation")
    val live = if (cut >= 0) p.substring(0, cut) else ""
    val build = if (cut >= 0) p.substring(cut) else p
    assert(!live.contains("BroadcastNestedLoopJoin"),
      s"live dedup_embcos subtree must read the cached pair graph, not re-join:\n$p0")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(build).size
    assert(bnlj <= 4, s"dedup_embcos pair-graph build has $bnlj BroadcastNestedLoopJoins:\n$p0")
  }

  test("GraftOps.minhashNearDupPairs verifies per-doc gram sets, never per-gram rows") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
    val pairs = graft.api.GraftOps.minhashNearDupPairs(
      Tables.documents(spark, TestSpark.sf), col("doc_id"), col("text"))
    val p = pairs.queryExecution.sparkPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, p.toString)
    val joins = p.collect { case j: BaseJoinExec => j }
    // the band self-join keys on (band, s0, s1); the verify joins key on
    // a candidate's doc id alone — no join carries a gram (hash or text)
    val keys = joins.flatMap(j => j.leftKeys ++ j.rightKeys)
      .flatMap(_.references.map(_.name)).toSet
    assert(joins.nonEmpty && keys.subsetOf(Set("band", "s0", "s1", "da", "db")),
      s"join keys $keys:\n$p")
  }

  test("sink_bucketed joins the bucketed tables without a shuffle exchange") {
    import org.apache.spark.sql.functions.col
    // materialize the bucketed tables (also runs the full oracled query)
    SparkEntry.queries("sink_bucketed")(spark, TestSpark.sf).collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_lineitem_bucketed")
        .join(spark.table("graft_orders_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      // bucket-aligned scans: the join reads buckets directly, no Exchange
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(p.contains("SelectedBucketsCount"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("runtime bloom filter is injected for a selective fact-dim shuffle join") {
    import org.apache.spark.sql.functions._
    // the row-level complement to scan_dpp's partition-level pruning: when
    // the dim side of a shuffle join is selective, InjectRuntimeFilter
    // builds a bloom filter from it and applies might_contain on the fact
    // scan, so non-matching fact rows die before the shuffle. Thresholds
    // scaled down for fixture-sized sides — the mechanism is the one that
    // fires at 100 TB sizes with the defaults.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = Tables.lineitem(spark, TestSpark.sf)
        .select(col("l_suppkey"), col("l_extendedprice"))
      val dim = Tables.supplier(spark, TestSpark.sf)
        .filter(col("s_acctbal") > 9000.0)
        .select(col("s_suppkey"))
      val j = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import org.apache.spark.sql.functions._
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // thresholds scaled down so the fixture-sized hot key qualifies —
      // the mechanism under test is the same one that splits a hot key's
      // shuffle partition at 100 TB
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hot = spark.range(60000).select(lit(1L).as("k"), col("id").as("payload"))
      val cold = spark.range(64).select((col("id") + 2L).as("k"), col("id").as("payload"))
      val fact = hot.unionAll(cold)
      val dim = spark.range(128).select(col("id").as("k"), col("id").as("dv"))
      // no aggregation downstream: a consumer that required the join's
      // hash partitioning would veto the split (splitting breaks the
      // co-partitioning guarantee)
      val j = fact.join(dim, "k").select(col("k"), col("payload"), col("dv"))
      val got = j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
      // round-11: the split must be semantically invisible — the bag
      // equals the same join under default planning (forked session so
      // the lowered thresholds can't reach it; it broadcasts, which is
      // fine — any plan yields the reference bag)
      val s2 = spark.newSession()
      val hot2 = s2.range(60000).select(lit(1L).as("k"), col("id").as("payload"))
      val cold2 = s2.range(64).select((col("id") + 2L).as("k"), col("id").as("payload"))
      val dim2 = s2.range(128).select(col("id").as("k"), col("id").as("dv"))
      val exp = hot2.unionAll(cold2).join(dim2, "k")
        .select(col("k"), col("payload"), col("dv")).collect()
      assert(got.map(_.toString).sorted.toSeq == exp.map(_.toString).sorted.toSeq,
        "skew-split result bag drifted from the default plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sink_compact actually reduces the file count, without a shuffle") {
    // run the query (writes both layouts), then check the directories:
    // coalesce must have concatenated the 64 fragments into ≤4 files
    SparkEntry.queries("sink_compact")(spark, TestSpark.sf).collect()
    def parquetFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val fragDir = operators.Scans.ensureCompactFragments(spark, TestSpark.sf)
    val frag = parquetFiles(fragDir)
    val comp = parquetFiles(s"${Tables.scratchDir}/sink_compact/compacted")
    assert(frag == 64, s"expected 64 fragmented files, got $frag")
    assert(comp <= 4 && comp >= 1, s"expected <=4 compacted files, got $comp")
    // the compaction read→write itself must be narrow: no Exchange in the
    // coalesced write plan
    val rewrite = spark.read.parquet(fragDir).coalesce(4)
    assert(!rewrite.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("sink_sorted files carry pairwise-disjoint key ranges") {
    // the zone-map claim made executable: repartitionByRange +
    // sortWithinPartitions must give every output file a key range that
    // overlaps no other file's — that disjointness is exactly what lets
    // a key predicate skip whole files at read time. Measured from the
    // written layout itself via input_file_name().
    SparkEntry.queries("sink_sorted")(spark, TestSpark.sf).collect()
    val ranges = spark.read
      .parquet(s"${Tables.scratchDir}/sink_sorted")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_shipdate")).as("lo"), max(col("l_shipdate")).as("hi"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("lo"),
                 r.getAs[java.time.LocalDateTime]("hi")))
      .sortBy(_._1.toString)
    assert(ranges.length > 1, "need >1 file to prove disjointness")
    ranges.foreach { case (lo, hi) => assert(!hi.isBefore(lo)) }
    ranges.sliding(2).foreach {
      case Array((_, hiPrev), (loNext, _)) =>
        assert(!loNext.isBefore(hiPrev),
          s"file ranges overlap: prev hi $hiPrev > next lo $loNext")
      case _ =>
    }
  }

  test("sql_subquery rewrites EXISTS to semi and NOT EXISTS to anti joins") {
    val p = plan("sql_subquery")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    // the uncorrelated scalar threshold is evaluated once, not per row
    assert(p.contains("Subquery") || p.contains("scalar-subquery"), p.take(2000))
  }

  test("sql_q5 broadcasts the dim chain — only the fact-fact join shuffles") {
    val p = plan("sql_q5")
    // customer/supplier/nation/region all arrive as broadcasts
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3, p.take(3000))
  }

  test("scan_manifest actually skips files and the pruned read is lossless") {
    val base = operators.Scans.ensureManifestLayout(spark, TestSpark.sf)
    val man = spark.read.parquet(s"$base/manifest")
    val total = man.count()
    val selected = man.filter(col("lo") <= 5000L && col("hi") >= 1000L).count()
    assert(total > 1, "need >1 file for skipping to mean anything")
    assert(selected < total,
      s"manifest pruned nothing: $selected of $total files selected")
    // losslessness: the pruned-read aggregate equals the full-scan one
    val fullN = spark.read.parquet(s"$base/data")
      .filter(col("l_orderkey") >= 1000L && col("l_orderkey") <= 5000L)
      .count()
    val pruned = SparkEntry.queries("scan_manifest")(spark, TestSpark.sf).collect()(0)
    assert(pruned.getAs[Long]("n") == fullN)
  }

  test("sink_manifest_append leaves the base generation untouched and still prunes") {
    val base = operators.Scans.ensureManifestLayout(spark, TestSpark.sf)
    def mtimes(dir: String): Map[String, Long] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val beforeData = mtimes(s"$base/data")
    val beforeMan = mtimes(s"$base/manifest")
    val out = SparkEntry.queries("sink_manifest_append")(spark, TestSpark.sf)
      .collect()(0)
    // append-only: the base data files AND base manifest are byte-stable
    assert(mtimes(s"$base/data") == beforeData, "append rewrote base data")
    assert(mtimes(s"$base/manifest") == beforeMan, "append rewrote base manifest")
    // the composed manifest still skips files
    val dd = operators.Scans.ensureManifestDelta(spark, TestSpark.sf)
    val man = spark.read.parquet(s"$base/manifest")
      .unionByName(spark.read.parquet(s"$dd/manifest"))
    val total = man.count()
    val sel = man.filter(col("lo") <= 5000L && col("hi") >= 1000L).count()
    assert(sel < total, s"composed manifest pruned nothing: $sel of $total")
    // appended result = base-generation result + delta rows in range
    val baseN = SparkEntry.queries("scan_manifest")(spark, TestSpark.sf)
      .collect()(0).getAs[Long]("n")
    val deltaN = spark.read.parquet(s"$dd/data")
      .filter(col("l_orderkey") >= 1000L && col("l_orderkey") <= 5000L).count()
    assert(out.getAs[Long]("n") == baseN + deltaN)
  }

  test("sink_zorder files carry disjoint z-ranges and box BOTH natural keys") {
    // the multi-dimensional zone-map claim made executable: (1) the
    // range-partitioned z-sort gives every file a z-range overlapping
    // no other file's; (2) unlike a single-column sort — which leaves
    // the OTHER column's per-file min/max spanning the whole domain —
    // the space-filling curve keeps the average per-file width of BOTH
    // normalized keys well under the global width, which is what lets
    // a predicate on either column skip files.
    SparkEntry.queries("sink_zorder")(spark, TestSpark.sf).collect()
    val ranges = spark.read
      .parquet(s"${Tables.scratchDir}/sink_zorder")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("zval")).as("zlo"), max(col("zval")).as("zhi"),
           min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
           min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"))
      .collect()
      .map(r => (r.getAs[Long]("zlo"), r.getAs[Long]("zhi"),
                 r.getAs[Long]("plo"), r.getAs[Long]("phi"),
                 r.getAs[Long]("slo"), r.getAs[Long]("shi")))
      .sortBy(_._1)
    assert(ranges.length > 1, "need >1 file to prove disjointness")
    ranges.sliding(2).foreach {
      case Array((_, hiPrev, _, _, _, _), (loNext, _, _, _, _, _)) =>
        assert(loNext >= hiPrev,
          s"file z-ranges overlap: prev hi $hiPrev > next lo $loNext")
      case _ =>
    }
    val gP = (ranges.map(_._4).max - ranges.map(_._3).min).toDouble
    val gS = (ranges.map(_._6).max - ranges.map(_._5).min).toDouble
    val avgP = ranges.map(t => (t._4 - t._3).toDouble).sum / ranges.length
    val avgS = ranges.map(t => (t._6 - t._5).toDouble).sum / ranges.length
    assert(avgP <= 0.8 * gP, s"partkey not boxed: avg width $avgP of $gP")
    assert(avgS <= 0.8 * gS, s"suppkey not boxed: avg width $avgS of $gS")
  }

  test("agg_argmax is a single aggregate — no join-back to the base table") {
    val p = plan("agg_argmax")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("text_bigram_lm broadcasts the vocabulary-sized count tables") {
    val p = plan("text_bigram_lm")
    // both model joins (bigram counts, left-context counts) must be
    // broadcasts — a sort-merge join here would shuffle the full token
    // stream twice at 100 TB
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("embed_norm stays in one codegen stage with no shuffle before the sort") {
    val p = plan("embed_norm")
    // the normalization itself is shuffle-free: the only Exchange allowed
    // is the rangepartitioning for the final ORDER BY
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("embed_pca scatter stage partial-aggregates before its only shuffle") {
    // the d² expansion must collapse map-side: a partial HashAggregate on
    // (i, j) ahead of the exchange keeps the shuffle at tasks×4096 rows
    // regardless of corpus size; the 1-row means broadcast is the only
    // nested-loop join allowed, and a CartesianProduct never is
    // (the declared query's own plan is just the collected eigenvector —
    // assert on the corpus-touching scatter stage directly)
    val p = operators.LlmVector.pcaScatter(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("sql_q3 plans the selective segment dim as a broadcast with partial aggregation") {
    // the SQL surface must compile to the same scale shapes as the DSL:
    // filtered customer dim broadcast into the fact join, revenue
    // aggregated map-side before the group-key shuffle, top-10 as
    // TakeOrderedAndProject rather than a global sort
    val p = plan("sql_q3")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_bloom injects a runtime bloom filter on the fact scan") {
    // row-level runtime filtering, the companion to scan_dpp's
    // partition-level pruning: the selective creation side aggregates a
    // bloom_filter_agg, and the fact scan carries might_contain — rows
    // die at the scan, not after the shuffle
    val p = plan("join_bloom")
    assert(p.contains("might_contain"), p)
    assert(p.contains("bloom_filter_agg"), p)
  }

  test("dedup_incremental probes the band index with an equality join only") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql_ddl catalog-table read plans like the path read: pushdown + pruning") {
    // a table created via CREATE TABLE ... USING parquet must scan with
    // the same FileScan shape as a direct path/view read — the p_size
    // predicate pushed to parquet, ReadSchema pruned to the 3 referenced
    // columns — or the catalog indirection would cost at scale
    val p = plan("sql_ddl")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(p_size,25)"), p)
    assert(p.contains("ReadSchema: struct<p_brand:string,p_size:int,p_retailprice:double"), p)
  }

  test("sql_insert post-insert catalog read keeps pushdown + pruning") {
    // after two INSERT INTO batches, the read-back by catalog name must
    // still scan with the pushed o_totalprice predicate and a 2-column
    // ReadSchema — appends must not degrade the scan shape
    val p = plan("sql_insert")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(o_totalprice,1000.0)"), p)
    assert(p.contains("ReadSchema: struct<o_orderstatus:string,o_totalprice:double"), p)
  }

  test("sql_recursive plans the engine-owned recursion (UnionLoopExec)") {
    // WITH RECURSIVE must lower to Spark's UnionLoop execution — the
    // ENGINE iterates the tiny edge list; a rewrite that re-ran the
    // fact-fact edge aggregation per hop would be fatal at scale
    val p = plan("sql_recursive")
    assert(p.contains("UnionLoop"), p)
  }

  test("join_nullsafe plans as a hash join, not a nested loop") {
    // <=> must canonicalize into the join key (knownfloatingpointnormalized
    // coalesce form); an OR-of-IS-NULL rewrite would fall back to
    // BroadcastNestedLoopJoin and die at scale
    val p = plan("join_nullsafe")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("graph_pagerank iterates over the materialized edge table, not the facts") {
    // the 3 unrolled rounds each reference the edge list; the edge table
    // is a ScratchParquet artifact (round 17; was a localCheckpoint), so
    // the served plan must leaf at the ≤V²-row artifact scan — a
    // lineitem scan here means the fact-fact edge build would re-run
    // once per iteration (fatal at 100 TB)
    val p = plan("graph_pagerank")
    assert(!p.contains("lineitem"), p)
    assert(p.contains("trade_edges=") || p.contains("InMemoryTableScan"),
      s"expected the persisted edge-table leaf:\n$p")
  }

  test("join_range_exec plans the custom RangeJoinExec sweep, one exchange per side") {
    val p = plan("join_range_exec")
    assert(p.contains("RangeJoin "), p) // RangeJoinExec renders sans "Exec"
    // the band must NOT be a post-join filter over an SMJ pair blow-up
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("RangeJoinExec's exchanges are AQE-managed (docstring claim executable)") {
    // the operator declares SMJ's child contract precisely so
    // EnsureRequirements inserts ordinary shuffle exchanges that AQE
    // then re-plans at runtime; after execution the final adaptive plan
    // must show materialized ShuffleQueryStages feeding the custom node
    // through AQEShuffleRead (coalesced at this tiny SF) — proof the
    // custom operator did NOT opt its inputs out of adaptive execution
    val df = SparkEntry.queries("join_range_exec")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"), p)
    assert(p.contains("RangeJoin "), p)
    assert(p.contains("ShuffleQueryStage"), p)
    assert(p.contains("AQEShuffleRead"), p)
  }

  test("agg_ks windows over the aggregated grid, never the raw rows") {
    // the single-partition window is safe ONLY because its input is the
    // centi-bucket aggregate (≤ ~60k rows), not the event stream: a
    // HashAggregate (the grid groupBy) must sit BELOW the Window
    val df = SparkEntry.queries("agg_ks")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val wIdx = p.indexOf("Window")
    assert(wIdx > 0, p)
    assert(p.indexOf("HashAggregate", wIdx) > 0,
      "no aggregate below the window:\n" + p)
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("frame-sig build is one fused pass: no exchange, no per-char rows") {
    // round-18: the fused frame_sigs32 kernel replaced the per-char
    // generator + two collapsing aggregates — the sig construction must
    // now be a single codegen span (scan → filter → generate over the
    // per-FRAME sig array) with NO exchange and NO aggregate at all.
    // Asserted on the sig CONSTRUCTION plan — the declared rungs read
    // the per-fingerprint materialization (multi-consumer-lineage
    // recipe), so the generator no longer appears in their plans.
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"))
    val p = graft.operators.LlmVector.frameSigs(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("frame_sigs32"), p)
    assert(!p.contains("Exchange"),
      "the fused sig build must not shuffle:\n" + p)
    assert(!p.contains("HashAggregate"),
      "the fused sig build needs no aggregate:\n" + p)
    assert(p.contains("*("), "fused sig build should stay in codegen:\n" + p)
  }

  test("sql_lateral decorrelates: one keyed aggregate, no per-row rescan") {
    // the correlated lateral aggregate must rewrite to groupBy(o_custkey)
    // + an equality join; a plan that re-evaluates the subquery per outer
    // row shows up as a nested-loop/cartesian and dies at scale
    val p = plan("sql_lateral")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_max(o_orderdate"), p) // the ONE orders pass
  }

  test("agg_bitmap_distinct shuffles bitmaps, not raw distinct keys") {
    // map-side partial bitmap_construct_agg must sit below the first
    // exchange — the shuffle then carries (group, bucket, bitmap) rows
    // bounded by the key range; the second level folds bitmap_count
    val p = plan("agg_bitmap_distinct")
    assert(p.contains("partial_bitmap_construct_agg"), p)
    assert(p.contains("bitmapCount"), p)
    assert(!p.contains("Expand"), p) // not the rewrite-to-Expand distinct
  }

  test("dedup_url is one scan + one aggregation: no joins, no windows") {
    // canonicalization must stay a pure row function inside the scan
    // stage; the dedup itself is a single map-side-combining groupBy
    val p = plan("dedup_url")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min(doc_id"), p)
  }

  test("graph_clustering reads the checkpointed edges, not the facts") {
    val p = plan("graph_clustering")
    assert(!p.contains("lineitem"), p)
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("scan_time_travel version 0 binds strictly fewer files than version 1") {
    // snapshot isolation made executable at the file level: the delta
    // append added data files, so the v1 file list must be a strict
    // superset of v0's — and both reads must stay manifest-bounded
    import org.apache.spark.sql.functions.input_file_name
    val base = graft.operators.Scans.ensureManifestLayout(spark, TestSpark.sf)
    val dd = graft.operators.Scans.ensureManifestDelta(spark, TestSpark.sf)
    def files(manifests: Seq[String]): Set[String] = {
      val man = manifests.map(spark.read.parquet(_)).reduce(_ unionByName _)
      man.filter(col("lo") <= 5000L && col("hi") >= 1000L)
        .select("path").collect().map(_.getString(0)).toSet
    }
    val v0 = files(Seq(s"$base/manifest"))
    val v1 = files(Seq(s"$base/manifest", s"$dd/manifest"))
    assert(v0.subsetOf(v1) && v0.size < v1.size, s"v0=$v0 v1=$v1")
  }

  test("scan_delete_merge applies the delete file as a broadcast anti join") {
    // equality deletes are KB-sized key files — the reader must apply
    // them as a broadcast LeftAnti, never a shuffled join of the data
    val p = plan("scan_delete_merge")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("sim_mmr rounds 2-3 iterate over the checkpointed relevance table") {
    // the (|q|·|pool|)-row rel table is localCheckpointed after the one
    // corpus×query pass; the three greedy rounds must re-read IT — an
    // embeddings parquet scan in the final plan means the cross join
    // re-runs per round (the graph_pagerank lineage rule)
    val p = plan("sim_mmr")
    assert(!p.contains("embeddings"), p)
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("sql_params binds literals before analysis: pushdown sees the values") {
    // the bound parameters must reach the scan as ordinary pushed
    // filters — a binding that survived to execution as a placeholder
    // would block pushdown and break the plan-equals-inlined claim.
    // Assert on the scan node's untruncated PushedFilters metadata
    // (the rendered plan string truncates the list and matching bare
    // value fragments like "= O)" is brittle against formatter changes).
    import org.apache.spark.sql.execution.FileSourceScanExec
    val qe = SparkEntry.queries("sql_params")(spark, TestSpark.sf).queryExecution
    val pushed = qe.sparkPlan.collect {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
    }.mkString(" ")
    assert(pushed.contains("EqualTo(o_orderstatus,O)"), pushed)
    assert(pushed.contains("GreaterThan(o_totalprice,1000.0)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"), pushed)
  }

  test("sql_q18 HAVING subquery is one keyed aggregate feeding a semi join") {
    // the IN (SELECT ... GROUP BY ... HAVING sum > k) filter must plan
    // as a single aggregate over lineitem + a LeftSemi on orderkey — a
    // per-outer-row re-execution would surface as a nested-loop join
    val p = plan("sql_q18")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the HAVING aggregate is map-side combined before its exchange
    assert(p.contains("partial_sum"), p)
  }

  test("sql_q21 EXISTS/NOT EXISTS plan as semi/anti joins, no nested loop") {
    // both correlated subqueries target the lineitem fact the outer
    // query scans; Catalyst must rewrite EXISTS -> LeftSemi and
    // NOT EXISTS -> LeftAnti on the l_orderkey equi-key, carrying the
    // <> and date conjuncts as join-residual conditions — a per-row
    // re-execution would surface as a nested-loop/cartesian join
    val p = plan("sql_q21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql_q2 correlated scalar aggregate decorrelates to one keyed min + join") {
    // RewriteCorrelatedScalarSubquery must turn the per-part min
    // subquery into a single partkey-keyed aggregate over the filtered
    // offers joined back on the correlation key — a per-outer-row
    // re-execution would surface as a nested-loop/cartesian join
    val p = plan("sql_q2")
    assert(p.contains("partial_min(l_extendedprice"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql_values inline table is a broadcast LocalTableScan, no I/O") {
    // a literal VALUES dim must never touch the scan/shuffle path: it
    // plans as a LocalRelation (LocalTableScan) broadcast into the join
    val p = plan("sql_values")
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("multimodal_frame_dedup sig join tolerates a non-broadcast build side") {
    // the buckets table (one row per distinct frame signature) is
    // frame-count-bounded — data-sized, not metadata-sized. An explicit
    // broadcast() hint here was round 9's one scale-killer: a hint
    // overrides autoBroadcastJoinThreshold, so with broadcast disabled a
    // regressed hint re-surfaces as BroadcastHashJoin. The unhinted join
    // must fall back to a shuffle join on sig.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = SparkEntry.queries("multimodal_frame_dedup")(spark, TestSpark.sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sink_vacuum deleted exactly the unreferenced files, retained reads intact") {
    // run the rung (idempotent: vacuums on first call, read-only after)
    val out = SparkEntry.queries("sink_vacuum")(spark, TestSpark.sf).collect()
    // before/after rows agree on every non-phase column
    assert(out.length == 2)
    assert(out(0).toSeq.drop(1) == out(1).toSeq.drop(1),
      s"retained read changed across vacuum: ${out.toSeq}")
    val base = graft.operators.Scans.ensureVacuumLayout(spark, TestSpark.sf)
    // every file the retained manifest references is still on disk
    val kept = spark.read.parquet(s"$base/manifest/v2")
      .select(col("path")).collect().map(r => s"$base/${r.getString(0)}")
    assert(kept.nonEmpty)
    kept.foreach(p => assert(new java.io.File(p).exists(), s"referenced file vacuumed: $p"))
    // the expired manifests are gone
    assert(!new java.io.File(s"$base/manifest/v0").exists())
    assert(!new java.io.File(s"$base/manifest/v1").exists())
    // the audit log is non-empty, disjoint from the reference set, and
    // every logged deletion really happened
    val logged = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/_VACUUM_LOG")),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    assert(logged.nonEmpty, "vacuum reclaimed nothing")
    val keptSet = kept.toSet
    logged.foreach { p =>
      assert(!keptSet.contains(p), s"vacuum logged a referenced file: $p")
      assert(!new java.io.File(p).exists(), s"logged but not deleted: $p")
    }
    // only historical generations were reclaimed: every logged path is
    // a gen0/gen1 artifact, none a gen2 one
    logged.foreach(p => assert(!p.contains("/gen2/"), s"compacted file vacuumed: $p"))
  }

  test("sql_analyze: ANALYZE stats reach the catalog and CBO shrinks the filter estimate") {
    // run the rung (lands the table, collects table + column stats)
    SparkEntry.queries("sql_analyze")(spark, TestSpark.sf).collect()
    // the catalog really holds statistics
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft_cbo_orders")
      .collect().map(_.toString).mkString("\n")
    assert(desc.contains("Statistics"), desc)
    // CBO-enabled session: the exact row count flows into plan stats.
    // Plan statistics are computed lazily against SQLConf.get, which
    // reads the ACTIVE session — set it explicitly (newSession doesn't)
    // and restore after.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    try {
      val tbl = s2.table("graft_cbo_orders")
      val full = tbl.queryExecution.optimizedPlan.stats
      val trueN = Tables.orders(spark, TestSpark.sf).count()
      assert(full.rowCount.contains(BigInt(trueN)),
        s"catalog rowCount ${full.rowCount} != true $trueN")
      // ...and the selective filter's ESTIMATE shrinks via column ndv —
      // the selectivity knowledge ANALYZE ... FOR COLUMNS bought; the
      // rule-based estimator would carry the table-sized guess through
      val filtered = tbl.filter(col("o_orderpriority") === "1-URGENT")
        .queryExecution.optimizedPlan.stats
      assert(filtered.rowCount.isDefined && filtered.rowCount.get < BigInt(trueN),
        s"CBO did not shrink the filter estimate: ${filtered.rowCount} vs $trueN")
      assert(filtered.sizeInBytes < full.sizeInBytes,
        "filter size estimate did not shrink — a broadcast decision would miss it")
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("an interrupted vacuum resumes without losing audit entries") {
    // round-11 review finding: the log used to land AFTER the deletes,
    // so a crash mid-reclaim re-ran to an EMPTY audit log. Simulate the
    // crash state on a test-owned fixture copy: one doomed file already
    // deleted and logged, no _VACUUMED marker — the resumed vacuum must
    // finish the reclaim and UNION the prior log.
    val tmp = java.nio.file.Files.createTempDirectory("graft_vac_resume")
    var base: String = null
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.sf}/lineitem.parquet"),
        tmp.resolve("lineitem.parquet"))
      base = graft.operators.Scans.ensureVacuumLayout(spark, tmp.toString)
      val gen0 = new java.io.File(s"$base/data/gen0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(gen0.length >= 2)
      val victim = gen0.head
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/_VACUUM_LOG"),
        victim.getPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(victim.delete())
      graft.operators.Scans.vacuumRetainLatest(spark, base)
      val logged = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$base/_VACUUM_LOG")),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
      assert(logged.contains(victim.getPath), "prior audit entry lost on resume")
      assert(logged.length > 1, "resume reclaimed nothing beyond the prior entry")
      logged.foreach(p => assert(!new java.io.File(p).exists(), s"logged but present: $p"))
      assert(new java.io.File(s"$base/_VACUUMED").exists())
      // retained snapshot still fully readable
      val files = spark.read.parquet(s"$base/manifest/v2")
        .select(col("path")).collect()
        .map(r => s"$base/${r.getString(0)}")
      files.foreach(p => assert(new java.io.File(p).exists()))
    } finally {
      Tables.deleteRecursively(tmp.toFile)
      // the per-run unique tmp name keys a fresh scratch layout — it
      // would accumulate forever if not reclaimed here (review finding)
      if (base != null) Tables.deleteRecursively(new java.io.File(base))
    }
  }

  test("pipeline_multimodal_e2e sig joins tolerate a non-broadcast build side") {
    // phash sigs, the min-per-sig bucket table, and the embeddings side
    // are all data-sized — none may carry an explicit broadcast() hint
    // (the multimodal_frame_dedup posture: a hint overrides the
    // threshold, so with broadcast off a regressed hint re-surfaces as
    // BroadcastHashJoin). Only AQE may broadcast, when runtime-small.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = SparkEntry.queries("pipeline_multimodal_e2e")(spark, TestSpark.sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("text_bpe per-step pair count is a two-phase hash aggregate") {
    // the one data-sized shuffle per training step (LlmText.bpeTrain)
    // must stay map-side combining — a plan regression to a single-
    // phase agg would ship every raw bigram over the wire at 100 TB.
    // The driver loop means no single Explain snapshot can show the
    // whole trainer, so the step plan is pinned here (round-11 judge).
    import org.apache.spark.sql.functions.split
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val p = graft.operators.LlmText.bpePairCounts(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_count"), p)
  }

  test("sql_q19 pushes each side's Or slice of the disjunctive filter to its scan") {
    // the WHERE is an OR of arms touching BOTH join sides, so no whole
    // disjunct can move below the join — PushExtraPredicateThroughJoin
    // must extract the part-local (brand/size) and lineitem-local
    // (quantity) Or trees as derived pushed filters; without them both
    // scans read every row-group at 100 TB and the join sees the full
    // fact table. Assert on untruncated scan metadata (sql_params note).
    import org.apache.spark.sql.execution.FileSourceScanExec
    val qe = SparkEntry.queries("sql_q19")(spark, TestSpark.sf).queryExecution
    val scans = qe.sparkPlan.collect {
      case f: FileSourceScanExec =>
        (f.metadata.getOrElse("Location", ""),
         f.metadata.getOrElse("PushedFilters", ""))
    }
    val part = scans.collect { case (l, p) if l.contains("part.parquet") => p }.mkString(" ")
    val line = scans.collect { case (l, p) if l.contains("lineitem.parquet") => p }.mkString(" ")
    assert(part.contains("Or(") && part.contains("EqualTo(p_brand,Brand#12)"), part)
    assert(line.contains("Or(") && line.contains("l_quantity"), line)
  }

  test("sql_q16 NOT IN plans as a null-aware anti join, never a nested loop") {
    // a column-level NOT IN cannot become a plain anti join until null
    // semantics are resolved (one NULL in the subquery empties the whole
    // result), so the physical join must carry isNullAwareAntiJoin —
    // and single-column NAAJ exists only as a broadcast hash join in
    // Spark, which is why the rung documents NOT EXISTS as the spelling
    // for data-sized exclusion sets (sql_q21's shuffleable LeftAnti).
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val qe = SparkEntry.queries("sql_q16")(spark, TestSpark.sf).queryExecution
    val naaj = qe.sparkPlan.collect {
      case b: BroadcastHashJoinExec if b.isNullAwareAntiJoin => b
    }
    assert(naaj.nonEmpty, qe.sparkPlan.toString)
    assert(!qe.sparkPlan.toString.contains("BroadcastNestedLoopJoin"),
      qe.sparkPlan.toString)
  }

  test("multimodal_clip_filter reduces map-side and joins without nested loops") {
    // the (doc, bucket) counts must combine map-side before any exchange
    // (partial_count), every join must be equi-keyed — a nested-loop
    // anywhere here is the all-pairs shape the CLIP gate exists to avoid
    // at web scale — and the round-19 shape must hold: the embedding is
    // no longer posexploded into 64 rows per vector (the dot/norm folds
    // run in-row against the un-exploded quantized vector, exact-integer
    // order-free).
    val p = plan("multimodal_clip_filter")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("posexplode"), p)
  }

  test("agg_bitmap_intersect joins pairs to bitmaps without a nested loop") {
    // the ta < tb theta-cross that ENUMERATES pairs is a nested loop by
    // necessity and runs on the |types|-sized sizes table — domain-
    // bounded, fine. What must never nested-loop is the pickup that
    // carries the BITMAPS (|types|x|buckets| rows of <=4 KB binaries):
    // it is spelled as a UNION of two equi-joins; an OR-of-equalities
    // condition would put the bitmap table under a BNLJ. Assert no
    // nested-loop join outputs a binary column.
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.types.BinaryType
    val qe = SparkEntry.queries("agg_bitmap_intersect")(spark, TestSpark.sf)
      .queryExecution
    val bad = qe.sparkPlan.collect {
      case j: BroadcastNestedLoopJoinExec
        if j.output.exists(_.dataType == BinaryType) => j
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("embed_binarize packs codes inside the scan stage: no shuffle before the sort") {
    // the 64x compression must be a free rider on the read — one
    // codegen projection over the scan (the packing is an UNROLLED
    // literal sum precisely so it codegens; an aggregate() HOF would be
    // eval-mode); any hash exchange here means the packing got planned
    // as an aggregation by mistake
    val p = plan("embed_binarize")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("HashAggregate"), p)
    // codegen spans only materialize in the final adaptive plan
    val df = SparkEntry.queries("embed_binarize")(spark, TestSpark.sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      df.queryExecution.executedPlan.toString)
  }

  test("sim_knn_rerank: both stages are TakeOrderedAndProject, full vectors never sort globally") {
    // stage 1 (Hamming shortlist) and stage 2 (cosine rerank) must both
    // plan as top-k — a rangepartitioning exchange anywhere means a
    // global sort of corpus-sized data snuck in
    val p = plan("sim_knn_rerank")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("sim_hard_negatives broadcasts the anchor batch over one corpus pass") {
    // the anchor set rides a broadcast nested-loop (a 10-row cross
    // join); the corpus itself must not hash-exchange before the
    // per-anchor rank window (window keys = qid arrive with the rows)
    val p = plan("sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multimodal_audio_vad shuffles the frames exactly once") {
    // the window partitions by doc_id, and BOTH aggregations (per-
    // (doc, island), per-doc) must reuse that clustering — hashing by
    // doc_id already co-locates every (doc_id, isl) group, so a second
    // or third hash exchange is a plan regression (the frames table is
    // the data-sized thing here: blobs/256 rows)
    val p = plan("multimodal_audio_vad")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 frame shuffle, got $exchanges:\n$p")
  }

  test("text_stupid_backoff count tables are two-phase and ride broadcasts") {
    // the ONE corpus-sized aggregation (trigram counts) must map-side
    // combine, and the vocab-bounded lower-order count-table joins must
    // broadcast. The trigram table c123 is deliberately UNHINTED
    // (corpus-derived — a forced broadcast OOMs the driver at
    // diverse-text scale; round-13 advice fix), so its join shape is
    // AQE's call: assert on the FINAL adaptive plan after execution,
    // where AQE must have broadcast the (here tiny) table — at real
    // scale the same unhinted join degrades to an equality shuffle
    // instead of an OOM, which is the point of dropping the hint.
    val df = SparkEntry.queries("text_stupid_backoff")(spark, TestSpark.sf)
    df.count()  // materialize so AQE finalizes every join
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("SortMergeJoin"), finalSection)
  }

  test("sql_q13 keeps the outer join and double-aggregates two-phase") {
    // the exclusion predicate lives in the JOIN condition, so the
    // planner must keep LeftOuter (an inner rewrite silently drops the
    // zero-order customers) and both aggregates must partial-combine
    val p = plan("sql_q13")
    assert(p.contains("LeftOuter"), p)
    assert(p.contains("partial_count"), p)
  }

  test("sql_q22 plans the NOT EXISTS as an anti join and broadcasts the 1-row threshold") {
    val p = plan("sql_q22")
    assert(p.contains("LeftAnti"), p)
    // the scalar-aggregate threshold is a 1-row build side — either a
    // BNLJ broadcast or a subquery reuse, never a data-sized cross
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_quality_bucket_approx plans no window and no global sort before the display ORDER BY") {
    // the whole point of the twin: the bucket assignment must be a
    // broadcast CASE over sketch cutpoints — zero WindowExec (the exact
    // rung's single-partition ntile) and no sort other than the
    // display-only final orderBy
    val p = plan("text_quality_bucket_approx")
    assert(!p.contains("Window"), s"window leaked into the approx twin:\n$p")
    // the cutpoint aggregate must partial-combine (constant-memory GK
    // sketch merged map-side, never a single-node percentile)
    assert(p.contains("partial_approx_percentile"), p)
  }

  test("text_ngram_novelty's gram-count join degrades to a shuffle when broadcast is off") {
    // the at-scale shape (round-15 verdict item 3): the per-gram
    // source-count table is data-sized at 100 TB, so the join must be
    // UNHINTED — AQE may broadcast it while runtime-small, but with
    // the threshold forced off the plan has to fall back to a shuffle
    // join, proving no broadcast hint was baked in
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = SparkEntry.queries("text_ngram_novelty")(spark, TestSpark.sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"gram-count join is pinned to broadcast — unsafe at scale:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("events_rfm_approx and sample_dsir_approx plan no window; sketch partial-combines") {
    // the whole point of the twins (round-15 verdict item 1): the
    // score/selection must be broadcast CASE/threshold arithmetic over
    // sketch cutpoints — zero WindowExec (the exact rungs'
    // single-partition ntile/row_number), and the cutpoint aggregate
    // must partial-combine (constant-memory GK sketch merged map-side)
    for (k <- Seq("events_rfm_approx", "sample_dsir_approx")) {
      val p = plan(k)
      assert(!p.contains("Window"), s"window leaked into $k:\n$p")
      assert(p.contains("partial_approx_percentile"), s"$k:\n$p")
    }
  }

  test("no un-partitioned Window outside declared exact companions and bounded inputs") {
    // The round-15 'done' criterion for retiring the global-window
    // rungs, held as an invariant over the WHOLE query surface: an
    // un-partitioned logical Window is a single-task sort of its input
    // at scale, so it is only allowed where (a) the rung is the
    // declared exact companion of a shipped approx twin, or (b) the
    // window's input is provably bounded (per-group aggregates, model
    // tables, top-k slices — never corpus-sized rows).
    val exactCompanions = Set(
      "events_rfm",          // twin: events_rfm_approx
      "text_quality_bucket", // twin: text_quality_bucket_approx
      "sample_dsir")         // twin: sample_dsir_approx
    val boundedInputs = Set(
      // each justified by its input's cardinality bound, not its size
      // on the fixture:
      "agg_ks",                  // CDF window over the ≤~60k centi-unit
                                 // grid (aggregated buckets, never rows)
      "events_cumulative_users", // running sum over |days| per-day rows
      "win_ntile_pctrank",       // bucket-offset window over ≤32 rows
                                 // (the range-bucketed global-rank recipe)
      "sample_token_budget",     // offset window over one-row-per-bucket
      "sample_pack",             // prefix-sum aggregates (|buckets| rows)
      "text_bm25",               // query-term rank over the 15-row
      "sim_hybrid_rrf")          // TakeOrdered term slice (and rrf's
                                 // legs rank ≤ |queries|·k fused rows)
    // Pre-warm the once-per-fixture artifact/cache inventory (round-16
    // ADVICE item 5): rung bodies run ensure* builds and cache persists
    // as construction-time side effects, so capturing every query's
    // optimizedPlan was order-dependent on which earlier spec had
    // warmed which scratch artifact. One named warm-up pass makes the
    // sweep deterministic; with the ScratchParquet layer the warm cost
    // is parquet reads, not pipeline rebuilds.
    Warmup.all(spark, TestSpark.sf)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (exactCompanions(name)) None
      else {
        val lp = fn(spark, TestSpark.sf).queryExecution.optimizedPlan
        val global = lp.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }
        if (global.nonEmpty && !boundedInputs(name)) Some(name) else None
      }
    }
    assert(offenders.isEmpty,
      s"un-partitioned Window over unbounded input in: ${offenders.mkString(", ")}")
  }

  test("sql_q11 scans lineitem exactly once (checkpointed aggregate, no CTE re-inline)") {
    // the round-15 fix: the CTE spelling evaluated the grouped
    // aggregate three times (main + two scalar subqueries = three full
    // fact scans). The served statement must read ONLY the
    // parts-sized checkpoint — zero lineitem scans in its plan; the
    // one fact scan happened in the checkpoint build.
    val p = plan("sql_q11")
    assert(!p.contains("lineitem"), s"fact scan leaked into the served statement:\n$p")
    // the global stats ride one broadcast 1-row build, never a
    // data-sized cross product
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_q8 broadcasts every dimension of the 7-join tree; no nested loop") {
    // the widest join tree in the suite: part/supplier/customer/
    // nation×2/region must all ride broadcasts — the only data-sized
    // exchange is the lineitem ⋈ orders fact-fact join
    val p = plan("sql_q8")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 5, s"expected >=5 broadcast dims, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("sql_q9 pushes the LIKE '%bolt%' into the part scan as StringContains") {
    val p = plan("sql_q9")
    assert(p.contains("StringContains(p_name,bolt)"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("sql_q17 decorrelates the per-part average into one aggregate + equality join") {
    // the correlated scalar subquery (quantity < 0.2 * the part's own
    // average) must plan as ONE two-phase per-part aggregate joined
    // back on l_partkey — a nested-loop re-execution of the aggregate
    // per outer row is a full fact scan per row at 100 TB
    val p = plan("sql_q17")
    assert(p.contains("partial_avg"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql_q15 pushes the quarter filter into both fact scans and broadcasts the dim") {
    val p = plan("sql_q15")
    assert(p.contains("BroadcastHashJoin"), p)
    // the CTE is referenced twice; BOTH fact scans must carry the
    // pushed shipdate range or one of them reads the whole year
    val pushed = "GreaterThanOrEqual\\(l_shipdate".r.findAllIn(p).length
    assert(pushed >= 2, s"expected the quarter filter on both scans:\n$p")
  }

  test("sql_q1 pushes the shipdate cutoff; all aggregates ride one two-phase pass") {
    val p = planFull("sql_q1")
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum"), p)
    // 8 aggregates over 6 groups: one hash aggregate pair, no expand,
    // no second exchange beyond the 6-row group shuffle
    assert(!p.contains("Expand"), p)
  }

  test("sql_q6 pushes all three range predicates into the fact scan") {
    // the join-free scan-filter-aggregate: every predicate is a
    // parquet-pushable comparison; an unpushed one re-reads the year
    val p = planFull("sql_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount"), p)
    assert(p.contains("LessThan(l_quantity"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Exchange hashpartitioning"), s"ungrouped agg needs no hash exchange:\n$p")
  }

  test("sql_q4 decorrelates the dated EXISTS into one left-semi join") {
    // EXISTS correlated on the key AND an outer-date comparison must
    // plan as ONE semi join with the non-equi term as residual — a
    // per-row re-scan of lineitem is a fact scan per fact row at scale
    val p = plan("sql_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the half-year order filter is pushed to the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("sql_q12 prunes the fact scan before the join; one pass for both CASE sums") {
    val p = planFull("sql_q12")
    // the year range reaches the lineitem parquet scan
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // both conditional counts ride one aggregate (partial+final), not
    // a pivot or second join
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql_q14 broadcasts the part dim; ratio rides one aggregation") {
    val p = plan("sql_q14")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("SortMergeJoin"), s"the dim join must not shuffle the fact:\n$p")
  }

  test("sql_q20 plans both nested INs as semi joins, no nested loop") {
    val p = plan("sql_q20")
    val semis = "LeftSemi".r.findAllIn(p).length
    assert(semis >= 2, s"expected both INs as semi joins, got $semis:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the year filter reaches the fact scan
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("text_winnowing winnows inside each row; the one shuffle is the distinct") {
    // the sliding-min windows run in the row (winnow_enc over
    // gram_hashes48), so the construction has no WindowExec at all and
    // its only exchange feeds the one distinct (partial + final hash
    // aggregate). The SERVED rung reads the finished ScratchParquet
    // fingerprint artifact (round 17), so the shape pin runs against
    // the CONSTRUCTION itself — the plan the artifact build executes
    // once per fixture generation.
    val build = operators.LlmText.winnowFpsOf(
        Tables.documents(spark, TestSpark.sf).select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    assert(!build.contains("Window"), s"per-gram Window is back:\n$build")
    assert(!build.contains("SinglePartition"),
      s"corpus serialized through one task:\n$build")
    assert("HashAggregate".r.findAllIn(build).length == 2 &&
      "Exchange hashpartitioning".r.findAllIn(build).length == 1,
      s"expected one distinct (partial + final) over one exchange:\n$build")
    assert(!build.contains("CartesianProduct"), build)
    // and the served rung leafs at the artifact scan, never re-deriving
    val served = plan("text_winnowing")
    assert(served.contains("winnow_fps=") || served.contains("InMemoryTableScan"),
      s"expected the persisted fingerprint leaf:\n$served")
  }

  test("GraftOps winnowFingerprints and minhashNearDupPairs never shuffle per-gram rows") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val docs = Tables.documents(spark, TestSpark.sf)
    for ((name, df) <- Seq(
        "winnowFingerprints" -> graft.api.GraftOps.winnowFingerprints(docs, col("doc_id"), col("text")),
        "minhashNearDupPairs" -> graft.api.GraftOps.minhashNearDupPairs(docs, col("doc_id"), col("text")))) {
      val p = df.queryExecution.sparkPlan
      assert(p.collect { case w: WindowExec => w }.isEmpty, s"$name:\n$p")
      // a generator over the gram array (or the gram set) is one row per
      // gram; the allowed generators explode fingerprints and bands
      val perGram = p.collect { case g: GenerateExec => g }.filter(_.generator.children.exists {
        case _: graft.functions.GramHashes48 => true
        case a: AttributeReference => a.name == "gs"
        case _ => false
      })
      assert(perGram.isEmpty, s"$name explodes grams:\n$p")
    }
  }

  test("ivf_nprobe_curve broadcasts query set and radii; corpus never shuffles as rows") {
    // the corpus legs join the 20-query set and the 4-row radii table
    // only through broadcasts; the only exchanges key the bounded
    // (radius, qid) ranking windows and the 4-row final group
    val p = plan("ivf_nprobe_curve")
    val bc = "BroadcastExchange".r.findAllIn(p).length
    assert(bc >= 2, s"expected broadcast query+radii legs, got $bc:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no data-sized equi shuffle expected:\n$p")
  }

  test("sample_curriculum ranks inside (stage, source) partitions — never a global sort for the order") {
    // the curriculum ORDER comes from key arithmetic over per-partition
    // row_numbers; the only global exchange allowed is the declared
    // output sort's range partitioning
    val p = plan("sample_curriculum")
    assert(p.contains("windowspecdefinition(stage"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"curriculum must not serialize through one task:\n$p")
  }

  test("join_asof_nearest: both frames ride ONE user partition exchange") {
    // backward and forward candidates come from the same per-user sort;
    // a second hash exchange would mean the triad pays twice for what
    // join_asof pays once
    val p = plan("join_asof_nearest")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly one user_id exchange, got $hashEx:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("dedup_winnowing enumerates pairs via an equality join on fp_hash, never all-pairs") {
    val p = plan("dedup_winnowing")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), s"pair counts must be two-phase:\n$p")
  }

  test("dedup_lsh_curve joins stay equi-keyed with partial aggregation") {
    // the all-pairs truth is the explicit capped quadratic — but it
    // must be realized as equality joins on shingle/band keys plus
    // two-phase counts, never a cartesian of the capped set
    val p = plan("dedup_lsh_curve")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("whole-stage codegen covers the flagship pipeline") {
    // codegen spans only materialize in the final adaptive plan
    val df = SparkEntry.queries("agg_pricing_summary")(spark, TestSpark.sf)
    df.collect()
    // codegen stages render as "*(n) Operator" in the final adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("*(2)"), p)
  }
}
