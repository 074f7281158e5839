package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.api.GraftOps is the schema-agnostic library surface; every
  * function must produce EXACTLY the rows of the corresponding declared
  * (DuckDB-oracled) query when pointed at the fixture columns — that
  * equality is what carries the verified semantics over to user data. */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def sf = TestSpark.sf
  import graft.api.GraftOps

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Runs `call` in job group `<group>-call` and reports whether any
    * Spark job started in that group. Build the call's inputs before:
    * reading a parquet table runs a schema job. */
  private def jobAtCall[T](group: String)(call: => T): (T, Boolean) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"$group-call", "library call")
      val out = try call finally sc.clearJobGroup()
      // listener events arrive in order: once a later fence job is
      // seen, every job the call started has been seen too
      sc.setJobGroup(s"$group-fence", "listener fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$group-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-fence"), "fence job never reached the listener")
      (out, groups.contains(s"$group-call"))
    } finally sc.removeSparkListener(listener)
  }

  test("normalizeText matches text_normalize") {
    val api = Tables.documents(spark, sf)
      .select(col("doc_id"), GraftOps.normalizeText(col("text")).as("norm_text"))
    assert(rows(api) == rows(SparkEntry.queries("text_normalize")(spark, sf)))
  }

  test("qualityScore matches text_quality's quality column") {
    val api = Tables.documents(spark, sf)
      .select(col("doc_id"),
        round(GraftOps.qualityScore(col("text"), operators.LlmText.StopTokens), 6)
          .as("quality"))
    val declared = SparkEntry.queries("text_quality")(spark, sf)
      .select(col("doc_id"), col("quality"))
    assert(rows(api) == rows(declared))
  }

  test("qualityScore's token kernels equal the split/filter HOF form on edge text") {
    import spark.implicits._
    val stop = Seq("the", "a", "é")
    val docs = Seq(None, Some(""), Some(" "), Some("   "), Some(" the  a "),
        Some("the"), Some("é é 文字 the"), Some("naïve—文 a b"), Some("a b c the of"))
      .toDF("text")
      .union(Tables.documents(spark, sf).select(col("text")))
    val toks = split(col("text"), " ")
    val hof = log(lit(1.0) + size(toks).cast("long")) * (lit(1.0) -
      size(filter(toks, t => t.isin(stop: _*))).cast("double") / size(toks).cast("double"))
    val diff = docs.select(col("text"),
        GraftOps.qualityScore(col("text"), stop).as("kernel"), hof.as("hof"))
      .filter(!(col("kernel") <=> col("hof")))
    assert(diff.count() == 0, diff.collect().mkString("\n"))
  }

  test("hashBucket reproduces the split_train_val membership") {
    val api = Tables.documents(spark, sf)
      .withColumn("split",
        when(GraftOps.hashBucket(col("doc_id"), 10) === 9L, "val").otherwise("train"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    assert(rows(api) == rows(SparkEntry.queries("split_train_val")(spark, sf)))
  }

  test("cosineSim is bit-identical to cosine_f32") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, sf).limit(80)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib"))
    // edge rows: a NULL element and unequal lengths give NULL on both
    // sides (the DuckDB formula's answer too)
    import spark.implicits._
    val edge = Seq(
        (Seq[java.lang.Float](1.0f, null, 2.0f), Seq[java.lang.Float](1.0f, 1.0f, 1.0f)),
        (Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("ea", "eb")
    val diff = pairs.select(col("ea"), col("eb")).union(edge).select(
        GraftOps.cosineSim(col("ea"), col("eb")).as("api"),
        expr("cosine_f32(ea, eb)").as("native"))
      .filter(!(col("api") <=> col("native")))
    assert(diff.count() == 0, diff.collect().mkString("\n"))
    assert(edge.select(expr("cosine_f32(ea, eb)")).collect().forall(_.isNullAt(0)))
    // a zero-norm side: NULL, where the HOF raises DIVIDE_BY_ZERO under ANSI
    val zero = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)), (Seq.empty[Float], Seq.empty[Float]))
      .toDF("ea", "eb")
    assert(zero.select(expr("cosine_f32(ea, eb)")).collect().forall(_.isNullAt(0)))
  }

  test("dedupExact matches dedup_exact") {
    val api = GraftOps.dedupExact(
        Tables.documents(spark, sf), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
    assert(rows(api) == rows(SparkEntry.queries("dedup_exact")(spark, sf)))
  }

  test("minhashNearDupPairs matches dedup_near_minhash") {
    val api = GraftOps.minhashNearDupPairs(
        Tables.documents(spark, sf), col("doc_id"), col("text"))
      .select(col("ida").as("da"), col("idb").as("db"),
        round(col("jaccard"), 6).as("jaccard"))
    assert(rows(api) == rows(SparkEntry.queries("dedup_near_minhash")(spark, sf)))
  }

  test("connectedComponents over the pair graph matches dedup_clusters") {
    val pairs = GraftOps.minhashNearDupPairs(
        Tables.documents(spark, sf), col("doc_id"), col("text"))
      .select(col("ida"), col("idb")).persist()
    val api = GraftOps.connectedComponents(pairs, "ida", "idb")
      .groupBy(col("lab").as("survivor"))
      .agg(count(lit(1)).as("n_members"))
    assert(rows(api) == rows(SparkEntry.queries("dedup_clusters")(spark, sf)))
    pairs.unpersist()
  }

  test("l2Normalize matches embed_norm's unit-scaled dims") {
    val api = Tables.embeddings(spark, sf)
      .select(col("vec_id"), GraftOps.l2Normalize(col("embedding")).as("u"),
        col("embedding"))
      .select(col("vec_id"),
        round(sqrt(aggregate(transform(col("embedding"),
            x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, v) => a + v)), 6).as("l2_norm"),
        concat_ws(",", expr(
          "transform(slice(u, 1, 4), x -> format_string('%.6f', round(x, 6) + 0.0d))"))
          .as("head4_unit"))
    assert(rows(api) == rows(SparkEntry.queries("embed_norm")(spark, sf)))
  }

  test("argmax matches agg_argmax") {
    val api = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(GraftOps.argmax(col("o_totalprice"), col("o_orderkey")).as("m"),
           count(lit(1)).as("n_orders"))
      .select(col("o_custkey"), col("m.o_totalprice").as("best_price"),
              col("m.o_orderkey").as("best_order"), col("n_orders"))
    assert(rows(api) == rows(SparkEntry.queries("agg_argmax")(spark, sf)))
  }

  test("scd2History matches ingest_cdc_scd2's interval assembly") {
    import org.apache.spark.sql.types.IntegerType
    val c = Tables.customer(spark, sf).select(col("c_custkey"), col("c_acctbal"))
    val gens = c.withColumn("gen", lit(0).cast(IntegerType))
      .unionByName(c.filter(col("c_custkey") % 10L === 0L)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("gen", lit(1).cast(IntegerType)))
      .unionByName(c.filter(col("c_custkey") % 20L === 0L)
        .withColumn("c_acctbal", col("c_acctbal") + 1500.0)
        .withColumn("gen", lit(2).cast(IntegerType)))
    val api = GraftOps.scd2History(gens, col("c_custkey"), col("gen"))
      .filter(col("c_custkey") % 10L === 0L)
      .select(col("c_custkey"), col("gen"), col("c_acctbal"),
              col("valid_to").as("valid_to_gen"), col("is_current"))
    assert(rows(api) == rows(SparkEntry.queries("ingest_cdc_scd2")(spark, sf)))
  }

  test("stratifiedKeep reproduces sample_stratified's per-lang counts") {
    val api = Tables.documents(spark, sf)
      .withColumn("keep",
        GraftOps.stratifiedKeep(col("doc_id"), col("lang"), Map("en" -> 5), 2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
           round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double")
             / count(lit(1)), 6).as("rate"))
    assert(rows(api) == rows(SparkEntry.queries("sample_stratified")(spark, sf)))
  }

  test("dedupCorpus drops exactly the non-survivor cluster members") {
    val docs = Tables.documents(spark, sf)
    val kept = GraftOps.dedupCorpus(docs, col("doc_id"), col("text"))
    // dedup_clusters reports (survivor, n_members) per duplicate cluster:
    // the deduplicated corpus keeps one member per cluster, so the drop
    // count is Σ(n_members − 1); survivors themselves must all remain
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sf).collect()
    val dropped = clusters.map(_.getLong(1) - 1).sum
    assert(kept.count() == docs.count() - dropped)
    val survivorIds = clusters.map(_.getLong(0)).toSet
    val keptIds = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(survivorIds.subsetOf(keptIds))
  }

  test("l2Normalize passes a zero vector through as the zero vector, not nulls") {
    import spark.implicits._
    val out = Seq(Seq(0.0f, 0.0f, 0.0f), Seq(3.0f, 0.0f, 4.0f)).toDF("v")
      .select(GraftOps.l2Normalize(col("v")).as("u"))
      .collect().map(_.getSeq[Double](0))
    assert(out(0) == Seq(0.0, 0.0, 0.0)) // no divide-by-zero nulls
    assert(out(1).map(x => math.rint(x * 10) / 10) == Seq(0.6, 0.0, 0.8))
    // a NULL element or a NULL vector has no norm: the vector is NULL,
    // not the zero vector
    val edge = Seq(Tuple1(Seq[java.lang.Float](3.0f, null, 4.0f)), Tuple1(null))
      .toDF("v")
      .select(GraftOps.l2Normalize(col("v")).as("u"))
    assert(edge.collect().forall(_.isNullAt(0)), edge.collect().mkString(", "))
  }

  test("scd2History fails fast when the input already has history columns") {
    import spark.implicits._
    val df = Seq((1L, 1, true)).toDF("k", "gen", "is_current")
    val e = intercept[IllegalArgumentException] {
      GraftOps.scd2History(df, col("k"), col("gen"))
    }
    assert(e.getMessage.contains("is_current"))
  }

  test("dedupCorpus releases its internal pair-graph cache") {
    val docs = Tables.documents(spark, sf)
    val before = spark.sparkContext.getPersistentRDDs.size
    GraftOps.dedupCorpus(docs, col("doc_id"), col("text")).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // the only cache allowed to survive the call is the localCheckpoint
    // backing the (ids-only) drop set — the pair graph must be gone
    assert(after - before <= 1, s"leaked caches: before=$before after=$after")
  }

  test("connectedComponentsUntilFixed matches the bounded form on the fixture graph") {
    val pairs = GraftOps.minhashNearDupPairs(
        Tables.documents(spark, sf), col("doc_id"), col("text"))
      .select(col("ida"), col("idb")).persist()
    val bounded = rows(GraftOps.connectedComponents(pairs, "ida", "idb"))
    val fixed = rows(GraftOps.connectedComponentsUntilFixed(pairs, "ida", "idb"))
    assert(fixed == bounded)
    pairs.unpersist()
  }

  test("minhashBandSignatures probe reproduces dedup_incremental") {
    val docs = Tables.documents(spark, sf)
    val idx = GraftOps.minhashBandSignatures(
        docs.filter(col("doc_id") % 5 =!= 0), col("doc_id"), col("text"))
      .select(col("id").as("corpus_id"), col("band"), col("s0"), col("s1"))
    val delta = GraftOps.minhashBandSignatures(
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"))
      .select(col("id").as("new_id"), col("band"), col("s0"), col("s1"))
    val api = idx.join(delta, Seq("band", "s0", "s1"))
      .select(col("corpus_id"), col("new_id")).distinct()
    assert(rows(api) == rows(SparkEntry.queries("dedup_incremental")(spark, sf)))
  }

  test("pageRank matches graph_pagerank on the trade graph") {
    val e = operators.Graph.tradeEdges(spark, sf)
    val api = GraftOps.pageRank(e, col("src"), col("dst"), col("w"),
        Tables.nation(spark, sf), col("n_nationkey"))
      .select(col("id").as("nationkey"), col("pagerank"))
    assert(rows(api) == rows(SparkEntry.queries("graph_pagerank")(spark, sf)))
  }

  test("pageRank runs no Spark job before the caller's first action") {
    val e = operators.Graph.tradeEdges(spark, sf)
    val v = Tables.nation(spark, sf)
    val (out, ranJob) = jobAtCall("graft-pagerank") {
      GraftOps.pageRank(e, col("src"), col("dst"), col("w"), v, col("n_nationkey"))
    }
    assert(!ranJob, "pageRank ran a job at call time")
    assert(out.count() == v.count())
  }

  test("gapFillForward matches events_gap_fill") {
    val api = GraftOps.gapFillForward(
        Tables.events(spark, sf).filter(col("user_id") < 10L)
          .select(col("user_id"), expr("ts div 3600000000000").as("hr"), col("value")),
        col("user_id"), col("hr"), col("value"))
      .select(col("gf_key").as("user_id"), col("gf_bucket").as("hr"),
        col("n"), col("filled_sum"))
    assert(rows(api) == rows(SparkEntry.queries("events_gap_fill")(spark, sf)))
  }

  test("weightedKeep reproduces sample_weighted membership") {
    val api = Tables.documents(spark, sf)
      .withColumn("keep", GraftOps.weightedKeep(col("doc_id"), col("n_chars")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
    assert(rows(api) == rows(SparkEntry.queries("sample_weighted")(spark, sf)))
  }

  test("streakStats matches win_streak") {
    val api = GraftOps.streakStats(
        Tables.events(spark, sf).select(col("user_id"),
          expr("ts div 86400000000000").as("day")),
        col("user_id"), col("day"))
      .select(col("sk_key").as("user_id"), col("max_streak"),
        col("n_streaks"), col("n_active_days"))
    assert(rows(api) == rows(SparkEntry.queries("win_streak")(spark, sf)))
  }

  test("int8Quantize matches embed_quantize") {
    val api = Tables.embeddings(spark, sf)
      .select(col("vec_id"), GraftOps.int8Quantize(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.lo").as("lo"), col("z.hi").as("hi"),
        col("z.qscale").as("qscale"),
        concat_ws(",", expr("transform(z.q, x -> CAST(x AS STRING))")).as("q"))
    assert(rows(api) == rows(SparkEntry.queries("embed_quantize")(spark, sf)))
  }

  test("persisted indexes rebuild cleanly when the _DONE marker is lost") {
    // the cache-poisoning failure mode of every persisted-artifact
    // design: the marker is written only AFTER a successful build, so
    // a lost marker — alone (torn build: stale partial data present)
    // or with the whole directory gone — must trigger a rebuild that
    // reproduces the original results exactly
    // minhash band index (dedup_incremental's corpus artifact)
    val mhBefore = rows(SparkEntry.queries("dedup_incremental")(spark, sf))
    val mh = operators.LlmText.ensureMinhashIndex(spark, sf)
    assert(new java.io.File(s"$mh/_DONE").delete(), "marker should exist")
    val mhTorn = rows(SparkEntry.queries("dedup_incremental")(spark, sf))
    assert(mhTorn == mhBefore, "rebuild over stale data diverged")
    Tables.deleteRecursively(new java.io.File(mh))
    val mhCold = rows(SparkEntry.queries("dedup_incremental")(spark, sf))
    assert(mhCold == mhBefore, "cold rebuild diverged")
    assert(new java.io.File(s"$mh/_DONE").exists(), "marker not rewritten")
    // IVF ANN index (sim_knn_ivf's persisted cells + centroids)
    val ivfBefore = rows(SparkEntry.queries("sim_knn_ivf")(spark, sf))
    val ann = operators.LlmVector.ensureAnnIndex(spark, sf)
    Tables.deleteRecursively(new java.io.File(ann))
    val ivfCold = rows(SparkEntry.queries("sim_knn_ivf")(spark, sf))
    assert(ivfCold == ivfBefore, "IVF cold rebuild diverged")
    assert(new java.io.File(s"$ann/_DONE").exists(), "IVF marker not rewritten")
  }

  test("ksDistance matches agg_ks on events") {
    val api = GraftOps.ksDistance(Tables.events(spark, sf),
      col("event_type"), col("value"), "click", "purchase")
    assert(rows(api) == rows(SparkEntry.queries("agg_ks")(spark, sf)))
  }

  test("welchT matches agg_ttest on events") {
    val api = GraftOps.welchT(Tables.events(spark, sf),
      col("event_type"), col("value"), "click", "purchase")
    assert(rows(api) == rows(SparkEntry.queries("agg_ttest")(spark, sf)))
  }

  test("welchT and ksDistance fail fast on degenerate classes") {
    // a class label that matches nothing must raise the guard, not
    // silently produce NULL/NaN statistics (round-6 advice)
    val ev = Tables.events(spark, sf)
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val eT = intercept[Throwable] {
      GraftOps.welchT(ev, col("event_type"), col("value"),
        "click", "no_such_type").collect()
    }
    assert(chain(eT).contains("welchT"), chain(eT))
    val eK = intercept[Throwable] {
      GraftOps.ksDistance(ev, col("event_type"), col("value"),
        "no_such_type", "purchase").collect()
    }
    assert(chain(eK).contains("ksDistance"), chain(eK))
  }

  test("spanDedup matches text_dedup_span on documents") {
    val api = GraftOps.spanDedup(Tables.documents(spark, sf),
        col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("text_dedup_span")(spark, sf)))
  }

  test("decontaminate matches text_decontaminate on the src0 eval split") {
    val docs = Tables.documents(spark, sf)
    val api = GraftOps.decontaminate(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("text"))
      .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("text_decontaminate")(spark, sf)))
  }

  test("keywordExtract matches text_keyword_extract on documents") {
    val api = GraftOps.keywordExtract(Tables.documents(spark, sf),
        col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("text_keyword_extract")(spark, sf)))
  }

  test("qualityBuckets matches text_quality_bucket on documents") {
    val api = GraftOps.qualityBuckets(Tables.documents(spark, sf),
        col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("mean_logprob"), col("bucket"))
      .orderBy(col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("text_quality_bucket")(spark, sf)))
  }

  test("qualityBuckets generalizes past 3 buckets with q<i> labels") {
    val api = GraftOps.qualityBuckets(Tables.documents(spark, sf),
        col("doc_id"), col("text"), buckets = 5)
    val rs = api.groupBy(col("bucket")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rs.keySet == Set("q1", "q2", "q3", "q4", "q5"))
    // ntile balance: bucket sizes differ by at most 1
    assert(rs.values.max - rs.values.min <= 1, rs.toString)
  }

  test("profileColumns matches profile_columns on orders") {
    val api = GraftOps.profileColumns(Tables.orders(spark, sf),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
      .orderBy(col("col_name"))
    assert(rows(api) == rows(SparkEntry.queries("profile_columns")(spark, sf)))
  }

  test("fuzzyCanonicalize matches join_fuzzy_blocked on part names") {
    val api = GraftOps.fuzzyCanonicalize(Tables.part(spark, sf),
        col("p_partkey"), col("p_name"))
      .withColumnRenamed("id", "pk").withColumnRenamed("canon_id", "canon_pk")
      .orderBy(col("pk"))
    assert(rows(api) == rows(SparkEntry.queries("join_fuzzy_blocked")(spark, sf)))
  }

  test("fuzzyCanonicalize raises on a NULL name, naming its id") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, Some("red steel bolt")), (2L, Some("red steal bolt")),
        (7L, None), (9L, None), (3L, Some("blue brass nut"))).toDF("id", "name")
    val e = intercept[Throwable] {
      GraftOps.fuzzyCanonicalize(df, col("id"), col("name")).collect()
    }
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("graft.fuzzyCanonicalize: name is NULL for id 7"), chain)
    // the same rows without the NULL names resolve as before
    val ok = GraftOps.fuzzyCanonicalize(df.filter(col("name").isNotNull),
        col("id"), col("name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ok == Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 3L, 0L)), ok.toString)
  }

  test("triangleCounts matches graph_triangles on the trade graph") {
    val e = operators.Graph.tradeEdges(spark, sf)
    val api = Tables.nation(spark, sf)
      .select(col("n_nationkey").as("nationkey"), col("n_name"))
      .join(GraftOps.triangleCounts(e, col("src"), col("dst"))
              .withColumnRenamed("node", "nationkey"),
            Seq("nationkey"), "left")
      .select(col("nationkey"), col("n_name"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
    assert(rows(api) == rows(SparkEntry.queries("graph_triangles")(spark, sf)))
  }

  test("temperatureWeights matches sample_temperature on documents") {
    val perDoc = Tables.documents(spark, sf)
      .select(col("source"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast("long").as("ntok"))
    val api = GraftOps.temperatureWeights(perDoc, col("source"),
        col("ntok"), temperature = 2.0)
      .select(col("group").as("source"), col("share").as("token_share"),
        col("temp_weight"))
      .orderBy(col("source"))
    val exp = SparkEntry.queries("sample_temperature")(spark, sf)
      .select(col("source"), col("token_share"), col("temp_weight"))
    assert(rows(api) == rows(exp))
  }

  test("prefixBudgetKeep matches sample_token_budget on documents") {
    val perDoc = Tables.documents(spark, sf)
      .select(col("doc_id"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast("long").as("ntok"))
    val budget = perDoc.agg(sum(col("ntok"))).collect()(0).getLong(0) / 2
    val api = GraftOps.prefixBudgetKeep(perDoc, col("doc_id"), col("ntok"), budget)
      .select(col("ord").as("doc_id"), col("amt").as("ntok"),
        col("cum").as("cum_tokens"), col("kept"))
      .orderBy(col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("sample_token_budget")(spark, sf)))
  }

  test("prefixBudgetKeep raises on a negative ord instead of misbucketing it") {
    import spark.implicits._
    val df = Seq((3L, 5L), (-1L, 2L), (7L, 1L)).toDF("o", "a")
    val e = intercept[Throwable] {
      GraftOps.prefixBudgetKeep(df, col("o"), col("a"), budget = 6L).collect()
    }
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("prefixBudgetKeep: ord must be >= 0"), chain)
    // the same rows without the negative ord pass the guard
    val ok = GraftOps.prefixBudgetKeep(df.filter(col("o") >= 0), col("o"), col("a"),
        budget = 6L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(ok == Set((3L, 5L, true), (7L, 6L, true)), ok.toString)
  }

  test("prefixBudgetKeep runs no Spark job before the caller's first action") {
    val perDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("ntok"))
    val (out, ranJob) = jobAtCall("graft-pbk") {
      GraftOps.prefixBudgetKeep(perDoc, col("doc_id"), col("ntok"), 1000L)
    }
    assert(!ranJob, "prefixBudgetKeep ran a job at call time")
    assert(out.count() == Tables.documents(spark, sf).count())
  }

  test("redactPii strips every synthesized email and phone") {
    val redacted = SparkEntry.queries("text_pii_scan")(spark, sf)
      .select(col("doc_id"), col("redacted"))
    val viaApi = Tables.documents(spark, sf)
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .select(col("doc_id"), GraftOps.redactPii(col("t")).as("redacted"))
    assert(rows(viaApi.orderBy(col("doc_id"))) == rows(redacted))
  }

  test("balancedKeep matches sample_balanced") {
    val api = GraftOps.balancedKeep(Tables.documents(spark, sf),
        col("doc_id"), col("lang"))
      .select(col("stratum").as("lang"), col("id").as("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("sample_balanced")(spark, sf)))
  }

  test("mortonZ is bit-identical to sink_zorder's SQL curve math") {
    val his = Tables.lineitem(spark, sf)
      .agg((max(col("l_partkey")) + lit(1L)).as("hp"),
           (max(col("l_suppkey")) + lit(1L)).as("hs"))
    // the SQL ladder the DuckDB oracle renders, in Spark's shift spelling
    val zSparkShl: (String, Int) => String = (a, n) => s"shiftleft($a, $n)"
    val sqlZ = operators.Scans.zValSql(
      operators.Scans.zNormSql("l_partkey", "hp", "div"),
      operators.Scans.zNormSql("l_suppkey", "hs", "div"),
      zSparkShl)
    val diff = Tables.lineitem(spark, sf).crossJoin(broadcast(his))
      .select(expr(sqlZ).as("sql_z"),
        GraftOps.mortonZ(col("l_partkey"), col("hp"),
                         col("l_suppkey"), col("hs")).as("api_z"))
      .filter(col("sql_z") =!= col("api_z"))
    assert(diff.count() == 0)
  }

  test("rfmSegments matches events_rfm on the events fixture") {
    val api = GraftOps.rfmSegments(Tables.events(spark, sf),
        col("user_id"), col("ts"), col("value"),
        col("event_type") === "purchase")
      .withColumnRenamed("r_units", "r_hours")
      .orderBy(col("user_id"))
    assert(rows(api) == rows(SparkEntry.queries("events_rfm")(spark, sf)))
  }

  test("urlDedup matches dedup_url on the synthesized fixture URLs") {
    // same raw-URL synthesis as the declared rung; the API owns only
    // the canonicalize + dedup halves
    val host0 = concat(lit("www.s"), (col("doc_id") % 7L).cast("string"),
      lit(".example.com"))
    val raw = Tables.documents(spark, sf).select(col("doc_id"), concat(
      lit("https://"),
      when(col("doc_id") % 2L === 0L, upper(host0)).otherwise(host0),
      lit("/doc/"), (col("doc_id") % 200L).cast("string"),
      when(col("doc_id") % 8L === 0L,
          lit("?utm_source=feed&utm_campaign=Spring_2024"))
        .when(col("doc_id") % 8L === 4L, lit("?id=3&utm_source=feed-x"))
        .when(col("doc_id") % 4L === 1L, lit("/"))
        .when(col("doc_id") % 4L === 2L, lit("#sec2"))
        .otherwise(lit(""))).as("url"))
    val api = GraftOps.urlDedup(raw, col("doc_id"), col("url"))
      .orderBy(col("canonical_url"))
    assert(rows(api) == rows(SparkEntry.queries("dedup_url")(spark, sf)))
  }

  test("substringDedup on caller columns equals the declared rung") {
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id").as("my_id"), col("text").as("my_text"))
    val api = GraftOps.substringDedup(raw, col("my_id"), col("my_text"))
      .orderBy(col("id"))
    val declared = SparkEntry.queries("text_dedup_substring")(spark, sf)
    assert(rows(api) == rows(declared))
  }

  test("boilerplateClean applies each C4 line rule") {
    val sp = spark
    import sp.implicits._
    val page = "Home About Contact\nthis body line has enough words.\n" +
      "Click here!\nEnable javascript to continue.\nvar x = { a: 1 };\n" +
      "a second proper sentence survives too."
    val r = Seq(page).toDF("pg")
      .select(GraftOps.boilerplateClean(col("pg")).as("bp"))
      .select(col("bp.n_lines"), col("bp.n_kept"), col("bp.clean_text"))
      .collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L)
    assert(r.getString(2) ==
      "this body line has enough words.\na second proper sentence survives too.")
  }

  test("urlCanonicalize handles real-world utm values and mixed queries") {
    // round-10 advice: the old spelling only stripped queries made
    // exclusively of utm_[a-z]+=[a-z]+ pairs — digits, uppercase,
    // hyphens, percent-escapes, and mixed queries all leaked through
    val sp = spark
    import sp.implicits._
    val cases = Seq(
      // value charset: digits/underscore in the value
      ("https://A.Example.com/Path/?utm_campaign=spring_2024",
       "https://a.example.com/Path"),
      // mixed query, utm last: non-tracking param survives
      ("https://h.com/p?id=3&utm_source=x", "https://h.com/p?id=3"),
      // mixed query, utm FIRST: the leading '?utm_...&' collapses to '?'
      ("https://h.com/p?utm_source=Ab-1%2F&id=3", "https://h.com/p?id=3"),
      // utm-only query with a trailing '&': the bare '?' it leaves must
      // strip, landing in the same group as the '&'-less alias
      ("https://h.com/p?utm_a=1&", "https://h.com/p"),
      // a no-query bare '?' is the same resource
      ("https://h.com/p?", "https://h.com/p"),
      // round-11 advice: a kept param followed by a stripped trailing
      // utm pair WITH its own trailing '&' must not leave '?id=1&'
      ("https://h.com/p?id=1&utm_a=x&", "https://h.com/p?id=1"),
      // and a bare trailing '&' with no utm involvement is the same
      // resource as the '&'-less alias — even a '&&' run
      ("https://h.com/p?id=1&", "https://h.com/p?id=1"),
      ("https://h.com/p?id=1&&", "https://h.com/p?id=1"),
      // but a literal '&' ending a query-LESS path is a DISTINCT
      // resource and must survive (round-11 review finding)
      ("https://h.com/p&", "https://h.com/p&"),
      // multiple utm pairs + fragment: query emptied, '?' dropped
      ("https://h.com/p?utm_a=1&utm_b=2#frag", "https://h.com/p"),
      // literal & in a query-less path is never rewritten
      ("https://h.com/a&b", "https://h.com/a&b"),
      // literal & in the PATH while a leading utm pair is stripped —
      // the old single-pass re-anchor promoted the path's & to ? here
      ("https://h.com/a&b?utm_x=1&id=3", "https://h.com/a&b?id=3"),
      // same for userinfo's literal & (also feeds the host lowercase)
      ("https://u&p@h.com/x?utm_a=1", "https://u&p@h.com/x"),
      // non-tracking query untouched
      ("https://h.com/p?x=1", "https://h.com/p?x=1"))
    val got = cases.map(_._1).toDF("url")
      .select(GraftOps.urlCanonicalize(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), got.mkString(" | "))
  }

  test("bitmapDistinct raises on a NULL or negative key, not silent corruption") {
    val sp = spark
    import sp.implicits._
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val neg = intercept[Exception] {
      GraftOps.bitmapDistinct(Seq(("a", 1L), ("a", -2L)).toDF("g", "k"),
        col("g"), col("k")).collect()
    }
    assert(chain(neg).contains("bitmapDistinct"), chain(neg))
    val nul = intercept[Exception] {
      GraftOps.bitmapDistinct(
        Seq(("a", Some(1L)), ("a", None)).toDF("g", "k"),
        col("g"), col("k")).collect()
    }
    assert(chain(nul).contains("bitmapDistinct"), chain(nul))
  }

  test("bitmapDistinct matches agg_bitmap_distinct's exact counts") {
    val api = GraftOps.bitmapDistinct(Tables.lineitem(spark, sf),
        col("l_returnflag"), col("l_orderkey"))
      .orderBy(col("g"))
    assert(rows(api) == rows(SparkEntry.queries("agg_bitmap_distinct")(spark, sf)))
  }

  test("clusteringCoefficient matches graph_clustering on the trade graph") {
    val api = GraftOps.clusteringCoefficient(
        operators.Graph.tradeEdgesCached(spark, sf), col("src"), col("dst"))
      .orderBy(col("node"))
    val declared = SparkEntry.queries("graph_clustering")(spark, sf)
      .filter(col("deg") >= 1L)
      .select(col("nationkey"), col("deg"), col("n_triangles"), col("cc"))
    assert(rows(api) == rows(declared))
  }

  test("blocklistHits matches text_blocklist on documents") {
    val api = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        GraftOps.blocklistHits(col("text"), Seq("dup", "slow")).as("n_bad"))
      .withColumn("keep", col("n_bad") === 0L)
      .orderBy(col("doc_id"))
    assert(rows(api) == rows(SparkEntry.queries("text_blocklist")(spark, sf)))
  }

  test("epochOversample reproduces sample_epochs' materialized counts") {
    val r = when(col("source") === "src0", 2.5)
      .when(col("source") === "src1", 1.5)
      .when(col("source") === "src2", 0.5)
      .otherwise(1.0)
    val base = Tables.documents(spark, sf).withColumn("r", r)
    val api = GraftOps.epochOversample(base, col("doc_id"),
        floor(col("r")),
        // frac(r) is 0.5 or 0 here; 0.5·2^48 = 2^47 exactly
        when(col("r") =!= floor(col("r")), lit(140737488355328L)).otherwise(lit(0L)))
      .groupBy(col("source")).agg(count(lit(1)).as("n_copies"))
    val declared = SparkEntry.queries("sample_epochs")(spark, sf)
      .select(col("source"), col("n_copies"))
    assert(rows(api.orderBy(col("source"))) == rows(declared))
  }

  test("mmrSelect matches sim_mmr's unrolled greedy rounds") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = e.filter(col("vec_id") >= 20L && col("vec_id") < 120L)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val pool = q.crossJoin(broadcast(cand))
      .select(col("qid"), col("cid"), col("ce"),
        round(GraftOps.cosineSim(col("qe"), col("ce")), 9).as("rel"))
    val api = GraftOps.mmrSelect(pool, col("qid"), col("cid"),
        col("rel"), col("ce"), k = 3)
      .select(col("qid"), col("rank"), col("cid").as("vec_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
    assert(rows(api) == rows(SparkEntry.queries("sim_mmr")(spark, sf)))
  }

  test("mmrSelect short pool emits fewer than k ranks, no error") {
    // the documented short-pool contract: a qid with |pool| < k yields
    // exactly |pool| ranks (like LIMIT k over a short table) — callers
    // needing exactly k validate up front
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 2L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = e.filter(col("vec_id") >= 20L && col("vec_id") < 22L)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val pool = q.crossJoin(broadcast(cand))
      .select(col("qid"), col("cid"), col("ce"),
        round(GraftOps.cosineSim(col("qe"), col("ce")), 9).as("rel"))
    val out = GraftOps.mmrSelect(pool, col("qid"), col("cid"),
        col("rel"), col("ce"), k = 5)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("max_rank"))
      .collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getLong(1) == 2L && r.getLong(2) == 2L),
      out.mkString(", "))
  }

  test("madStats matches agg_mad on documents") {
    val api = GraftOps.madStats(Tables.documents(spark, sf),
        col("lang"), col("n_chars"))
      .select(col("g").as("lang"), col("n").as("n_docs"),
        col("median"), col("mad"), col("n_outliers"))
      .orderBy(col("lang"))
    assert(rows(api) == rows(SparkEntry.queries("agg_mad")(spark, sf)))
  }

  test("clipFilter fails loudly on embeddings narrower than 64 dims") {
    // a 32-dim vector would silently drop tokens hashing to buckets
    // 32-63 from both the dot product and the text norm — the guard
    // must raise at execution, not gate on a wrong cosine
    val sp = spark
    import sp.implicits._
    val docs = Seq((0L, "the fast value")).toDF("id", "text")
    val embs = Seq((0L, Array.fill(32)(0.5f))).toDF("vid", "vec")
    val e = intercept[Exception] {
      GraftOps.clipFilter(docs, col("id"), col("text"),
        embs, col("vid"), col("vec")).collect()
    }
    assert(e.getMessage != null)
  }

  test("clipFilter on caller columns equals the declared rung") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("my_id"), col("text").as("my_text"))
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("my_vid"), col("embedding").as("my_vec"))
    val api = GraftOps.clipFilter(docs, col("my_id"), col("my_text"),
        embs, col("my_vid"), col("my_vec"))
      .orderBy(col("id"))
    val declared = SparkEntry.queries("multimodal_clip_filter")(spark, sf)
      .select(col("doc_id"), col("clip_score"), col("kept"))
    assert(rows(api) == rows(declared))
  }

  test("signBinarize on a caller column equals embed_binarize") {
    val api = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        GraftOps.signBinarize(col("embedding")).as("b"))
      .select(col("vec_id"), col("b.code_hi").as("code_hi"),
        col("b.code_lo").as("code_lo"), col("b.n_pos").as("n_pos"))
    val declared = SparkEntry.queries("embed_binarize")(spark, sf)
    assert(rows(api) == rows(declared))
  }

  test("winnowFingerprints on caller columns equals text_winnowing") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("k"), col("text").as("page"))
    val api = GraftOps.winnowFingerprints(docs, col("k"), col("page"))
      .orderBy(col("doc_id"), col("fp_pos"), col("fp_hash"))
    val declared = SparkEntry.queries("text_winnowing")(spark, sf)
    assert(rows(api) == rows(declared))
  }

  test("bm25Rank on caller columns equals text_bm25") {
    // the API takes arbitrary column names; feed it the fixture under
    // renamed columns plus the rung's own df-derived query workload
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("my_id"), col("text").as("my_text"))
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wq = Window.orderBy(col("df").desc, col("tok").asc)
    val queries = df.orderBy(col("df").desc, col("tok").asc).limit(15)
      .withColumn("r", row_number().over(wq))
      .select(expr("CAST((r - 1) DIV 3 AS BIGINT)").as("q"), col("tok").as("t"))
    val api = GraftOps.bm25Rank(docs, col("my_id"), col("my_text"),
      queries, col("q"), col("t"))
    val declared = SparkEntry.queries("text_bm25")(spark, sf)
    assert(rows(api) == rows(declared))
  }

  test("rrfFuse on the two legs equals sim_hybrid_rrf") {
    import org.apache.spark.sql.expressions.Window
    val bmLeg = operators.LlmText.bm25TopK(spark, sf)
      .select(col("qid"), col("doc_id"), col("rank"))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def dotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val wC = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id").asc)
    val cosLeg = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dotc(col("embedding"), col("qe"))
          / (sqrt(dotc(col("embedding"), col("embedding")))
            * sqrt(dotc(col("qe"), col("qe"))))).as("cs"))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").cast("long").as("rank"))
    val api = GraftOps.rrfFuse(bmLeg, cosLeg)
    val declared = SparkEntry.queries("sim_hybrid_rrf")(spark, sf)
    assert(rows(api) == rows(declared))
  }

  test("signBinarize degrades gracefully on <64-dim vectors under ANSI") {
    val sp = spark
    import sp.implicits._
    // 3-dim vector: dims 4-64 must read as 0 bits, not
    // INVALID_ARRAY_INDEX (the scaladoc's graceful-degradation claim,
    // round-13 advice fix)
    val r = Seq(Tuple1(Array(1.0f, -2.0f, 3.0f))).toDF("embedding")
      .select(graft.api.GraftOps.signBinarize(col("embedding")).as("b"))
      .select(col("b.code_hi"), col("b.code_lo"), col("b.n_pos"))
      .collect().head
    assert(r.getLong(0) == 0L)                    // dims 33-64 all absent
    assert(r.getLong(1) == (1L | (1L << 2)))      // +,-,+ then zeros
    assert(r.getLong(2) == 2L)
    // empty vector: all-zero codes, no error
    val e = Seq(Tuple1(Array.empty[Float])).toDF("embedding")
      .select(graft.api.GraftOps.signBinarize(col("embedding")).as("b"))
      .select(col("b.code_hi"), col("b.code_lo"), col("b.n_pos"))
      .collect().head
    assert(e.getLong(0) == 0L && e.getLong(1) == 0L && e.getLong(2) == 0L)
  }

  test("hammingDistance reproduces sim_knn_hamming's distances") {
    val c = Tables.embeddings(spark, sf)
      .select(col("vec_id"), GraftOps.signBinarize(col("embedding")).as("b"))
      .select(col("vec_id"), col("b.code_hi").as("hi"), col("b.code_lo").as("lo"))
    val q = c.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("hi").as("qhi"), col("lo").as("qlo"))
    val api = c.filter(col("vec_id") >= 5L).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        GraftOps.hammingDistance(col("hi"), col("lo"),
          col("qhi"), col("qlo")).as("ham"))
    val declared = SparkEntry.queries("sim_knn_hamming")(spark, sf)
      .select(col("qid"), col("vec_id"), col("ham"))
    // declared is the top-10 per query; the API pairs must agree on it
    val apiMap = api.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    declared.collect().foreach { r =>
      assert(apiMap((r.getLong(0), r.getLong(1))) == r.getLong(2), r.toString)
    }
  }

  test("fleschReadingEase on the rung's synthesized pages equals text_readability") {
    val api = Tables.documents(spark, sf)
      .withColumn("k", (col("doc_id") % 5 + 8).cast("int"))
      .withColumn("page", concat(expr(
        """array_join(transform(split(text, ' '),
             (w, i) -> IF((i + 1) % k = 0, concat(w, '.'), w)), ' ')"""),
        lit(".")))
      .select(col("doc_id"), GraftOps.fleschReadingEase(col("page")).as("f"))
      .select(col("doc_id"), col("f.n_words").as("n_words"),
        col("f.n_sentences").as("n_sentences"),
        col("f.n_syllables").as("n_syllables"),
        (round(col("f.flesch"), 6) + lit(0.0)).as("flesch"))
    val declared = SparkEntry.queries("text_readability")(spark, sf)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch"))
    assert(rows(api) == rows(declared))
  }

  test("tokenIntervals interval ends equal sample_token_budget's running totals") {
    val api = GraftOps.tokenIntervals(
        Tables.documents(spark, sf),
        col("doc_id"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0))
      .select(col("doc_id"), col("end").as("cum_tokens"))
    val declared = SparkEntry.queries("sample_token_budget")(spark, sf)
      .select(col("doc_id"), col("cum_tokens"))
    assert(rows(api) == rows(declared))
    // and intervals tile the token stream exactly: sorted by id,
    // each start equals the previous end, first start is 0
    val iv = GraftOps.tokenIntervals(Tables.documents(spark, sf),
        col("doc_id"), size(split(col("text"), " ")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(iv.head._2 == 0L)
    assert(iv.sliding(2).forall(p => p(0)._3 == p(1)._2), "intervals must tile")
  }

  test("curriculumKeys with the fixture staging equals sample_curriculum") {
    val api = GraftOps.curriculumKeys(
        Tables.documents(spark, sf)
          .withColumn("ntok", size(split(col("text"), " ")).cast("long")),
        col("doc_id"),
        when(col("ntok") < 40L, 0L).when(col("ntok") < 69L, 1L).otherwise(2L),
        regexp_extract(col("source"), "([0-9]+)", 1),
        nSources = 20L)
    assert(rows(api) == rows(SparkEntry.queries("sample_curriculum")(spark, sf)))
  }

  test("library functions degrade to empty results on empty and 1-doc corpora, not errors") {
    // adoption robustness: a pipeline's first run, a filtered-to-zero
    // partition, or a single-document source must flow through the
    // dedup/sampling surface as empty (or trivially-sized) results —
    // never an analysis error or a planner crash
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val one = spark.createDataFrame(Seq((1L, "alpha beta gamma delta epsilon")))
      .toDF("doc_id", "text")
    for (docs <- Seq(empty, one)) {
      val n = docs.count()
      assert(GraftOps.dedupExact(docs, col("doc_id"), col("text")).count() == n)
      assert(GraftOps.minhashNearDupPairs(docs, col("doc_id"), col("text")).count() == 0)
      val fps = GraftOps.winnowFingerprints(docs, col("doc_id"), col("text"))
      assert(fps.count() >= 0 && (n > 0 || fps.count() == 0))
      assert(GraftOps.winnowIncrementalCandidates(
        fps.select(col("doc_id"), col("fp_hash")), col("doc_id"), col("fp_hash"),
        docs, col("doc_id"), col("text")).count() == 0) // 5 tokens < W+2 floor → zero fps → zero candidates
      assert(GraftOps.tokenIntervals(docs, col("doc_id"),
        size(split(col("text"), " "))).count() == n)
      assert(GraftOps.curriculumKeys(docs, col("doc_id"), lit(0L), lit(0L),
        nSources = 1L).count() == n)
      assert(GraftOps.dsirWeights(docs, col("doc_id"), col("text"),
        lit(true)).count() == n)
      assert(GraftOps.dedupCorpus(docs, col("doc_id"), col("text")).count() == n)
    }
  }

  test("winnowIncrementalCandidates on the fixture split equals dedup_winnowing_incremental") {
    val docs = Tables.documents(spark, sf)
    val indexFps = GraftOps.winnowFingerprints(
        docs.filter(col("doc_id") % 5 =!= 0), col("doc_id"), col("text"))
      .select(col("doc_id"), col("fp_hash")).distinct()
    val api = GraftOps.winnowIncrementalCandidates(
      indexFps, col("doc_id"), col("fp_hash"),
      docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"))
    assert(rows(api) ==
      rows(SparkEntry.queries("dedup_winnowing_incremental")(spark, sf)))
  }

  test("dsirWeights with isTarget = (lang = 'en') equals sample_dsir's weight columns") {
    val api = GraftOps.dsirWeights(Tables.documents(spark, sf),
      col("doc_id"), col("text"), col("lang") === "en")
    val declared = SparkEntry.queries("sample_dsir")(spark, sf)
      .select(col("doc_id"), col("n_tokens"), col("w_nano"), col("imp_nano"))
    assert(rows(api) == rows(declared))
  }

  test("knnCosine on an array<double> column raises an analysis error naming array<float>") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      GraftOps.knnCosine(e, col("vec_id"), col("ed"),
        e.filter(col("vec_id") < 3L), col("vec_id"), col("ed"), k = 2)
    }
    assert(err.getMessage.contains("array<float>"), err.getMessage)
  }

  test("knnCosine(excludeSelf, k=5) equals sim_knn_batch on the fixture queries") {
    val e = Tables.embeddings(spark, sf)
    val api = GraftOps.knnCosine(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10L),
        col("vec_id"), col("embedding"), k = 5, excludeSelf = true)
      .orderBy(col("qid"), col("rank"))
    assert(rows(api) == rows(SparkEntry.queries("sim_knn_batch")(spark, sf)))
  }

  test("scaladoc usage examples run as written") {
    // These four blocks mirror the GraftOps object scaladoc verbatim
    // (modulo the fixture bindings below) — if an example drifts from
    // the API, this test breaks before a reader does.
    import graft.api.GraftOps._
    val corpus = Tables.documents(spark, sf)
    val newBatch = corpus.filter(col("doc_id") % 5 === 0)
    val embeddings = Tables.embeddings(spark, sf)
    val queryVecs = embeddings.filter(col("vec_id") < 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val queryTerms = spark.createDataFrame(
      Seq((0L, "the"), (0L, "fast"), (1L, "merge"))).toDF("qid", "term")

    // dedup gate
    val survivors = dedupExact(corpus, col("doc_id"), col("text"))
    val index = winnowFingerprints(corpus, col("doc_id"), col("text"))
    val nearDupCandidates = winnowIncrementalCandidates(
      index, col("doc_id"), col("fp_hash"),
      newBatch, col("doc_id"), col("text"))
    assert(survivors.count() > 0 && nearDupCandidates.columns.toSeq ==
      Seq("corpus_id", "new_id", "n_shared"))

    // retrieval cascade
    val lexical = bm25Rank(corpus, col("doc_id"), col("text"),
      queryTerms, col("qid"), col("term"))
    val vector = knnCosine(embeddings, col("vec_id"), col("embedding"),
      queryVecs, col("qid"), col("qvec"), k = 10)
    val fused = rrfFuse(
      lexical.select(col("qid"), col("doc_id"), col("rank")),
      vector.select(col("qid"), col("vec_id").as("doc_id"), col("rank")),
      k = 10)
    assert(fused.columns.toSeq == Seq("qid", "rank", "doc_id", "rrf", "n_legs")
      && fused.count() > 0)

    // split hygiene
    val naive = corpus.withColumn("is_val", hashBucket(col("doc_id"), 100) < 10)
    val pairs = minhashNearDupPairs(corpus, col("doc_id"), col("text")).persist()
    val labels = connectedComponents(pairs, "ida", "idb")
    val hygienic = corpus
      .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .withColumn("is_val",
        hashBucket(coalesce(col("lab"), col("doc_id")), 100) < 10)
    // the example's claim, verified: zero near-dup pairs straddle the split
    val side = hygienic.select(col("doc_id"), col("is_val"))
    val leaking = pairs
      .join(side.select(col("doc_id").as("ida"), col("is_val").as("va")), "ida")
      .join(side.select(col("doc_id").as("idb"), col("is_val").as("vb")), "idb")
      .filter(col("va") =!= col("vb")).count()
    assert(leaking == 0L, s"cluster-aware split leaked $leaking pairs")
    assert(naive.count() == corpus.count())
    pairs.unpersist()

    // curation
    val scored = corpus.withColumn("q",
      qualityScore(normalizeText(col("text")), Seq("the", "a", "of")))
    val weights = dsirWeights(corpus, col("doc_id"), col("text"),
      col("source") === "src0")
    val ordered = curriculumKeys(
      scored.withColumn("stage", (col("q") < 1.5).cast("long")),
      col("doc_id"), col("stage"), col("doc_id") % 4, nSources = 4L)
    assert(weights.count() == corpus.count() && ordered.count() == corpus.count())
    assert(ordered.select(countDistinct(col("curriculum_key"))).collect()(0).getLong(0)
      == corpus.count(), "curriculum keys must be unique")
  }
}
