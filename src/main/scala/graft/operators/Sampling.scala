package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic, reproducible sampling — the primitive every 100 TB
  * training-data pipeline needs for subsetting and train/val splits.
  * Spark's `sample()`/`sampleBy()` are seed-deterministic but engine-
  * specific (not reproducible elsewhere, and row-order sensitive under
  * re-partitioning), so both operators here key on the md5 of a stable
  * row id: the sample membership of a row is a pure function of the
  * row, independent of partitioning, executor count, or engine — the
  * property that makes a sample re-derivable years later. Filters stay
  * in codegen and push down; no shuffle is introduced at all. The
  * membership rules are [[graft.api.GraftOps]]'s (`hashBucket`,
  * `stratifiedKeep`, `weightedKeep`, `balancedKeep`, `epochOversample`);
  * the queries here bind fixture columns to them. */
object Sampling extends QueryGroup {

  /** Deterministic ~10% sample of orders: rows whose id-hash bucket is
    * 0 of 10. Exactly reproducible on any engine with md5. */
  private val sampleHash: QFn = (s, d) =>
    Tables.orders(s, d)
      .filter(GraftOps.hashBucket(col("o_orderkey"), 10) === 0L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Deterministic 90/10 train/val split of documents, reported as
    * per-(lang, split) counts — the split column is what a user would
    * `partitionBy` on when writing the corpus. */
  private val splitTrainVal: QFn = (s, d) =>
    Tables.documents(s, d)
      .withColumn("split",
        when(GraftOps.hashBucket(col("doc_id"), 10) === 9L, "val").otherwise("train"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("split"))

  /** Deterministic k-fold assignment (k = 5) — split_train_val's
    * generalization to cross-validation: fold = hash-bucket of the
    * stable id, so every engine, run, and partitioning assigns each
    * doc the SAME fold, folds are disjoint and exhaustive BY
    * CONSTRUCTION (a row has exactly one bucket — the property a
    * random split needs checking for), and the complement of any fold
    * is its training set with no materialization. Declared output is
    * the audit a CV harness reads: per (fold, lang) counts — fold
    * balance AND stratification skew in one table (hash folds are
    * uniform over ids, NOT stratified; a skewed lang × fold cell is
    * the signal to switch the bucket key to (lang, id)). Pure row
    * function → rides the scan, no shuffle before the audit
    * aggregation. */
  private val sampleKfold: QFn = (s, d) =>
    Tables.documents(s, d)
      .withColumn("fold", GraftOps.hashBucket(concat(col("doc_id").cast(StringType),
        lit(":fold")).cast(StringType), 5))
      .groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"))
      .orderBy(col("fold"), col("lang"))

  /** Stratified deterministic sampling — re-balance a corpus by
    * stratum (the language-rebalancing move every multilingual training
    * mix makes): per-lang keep rates expressed as hash-bucket
    * membership ('en' keeps 5 of 10 buckets, everything else 2 of 10),
    * so each stratum's sample is reproducible independently and the
    * rates can be re-tuned without reshuffling anything — membership
    * stays a pure row function, no shuffle, full pushdown. Reported as
    * per-lang kept/total counts plus the realized rate. */
  private val sampleStratified: QFn = (s, d) =>
    Tables.documents(s, d)
      .withColumn("keep",
        GraftOps.stratifiedKeep(col("doc_id"), col("lang"), Map("en" -> 5), 2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
           round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double")
             / count(lit(1)), 6).as("rate"))
      .orderBy(col("lang"))

  /** Fixed-SIZE deterministic sample per stratum (the reservoir-sample
    * use case, made reproducible): rank rows within each stratum by the
    * md5 of their id and keep the k smallest — a uniform k-subset whose
    * membership is stable under re-partitioning, engine moves, and
    * corpus APPENDS limited to new ids (an id's hash rank only changes
    * if ids are removed). Rate-based sampling (sample_hash) can't pin
    * an exact per-group size; this can.
    *
    * Scale shape: a window partitioned by the stratum alone would give
    * one reducer per stratum (5 langs = 5 tasks no matter the cluster),
    * so the top-k runs in two exact phases — per-(stratum, 64-way salt)
    * top-k in parallel, then the final top-k over the ≤ 64·k per-stratum
    * survivors (the global k smallest are necessarily among the per-salt
    * k smallest; same recipe as win_ntile_pctrank's two-pass rank). */
  private val sampleReservoir: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val k = 20
    val wSalt = Window.partitionBy(col("lang"), col("salt"))
      .orderBy(col("h"), col("doc_id"))
    val wLang = Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast(StringType)).as("h"))
      .withColumn("salt", pmod(col("doc_id"), lit(64L)))
      .withColumn("rs", row_number().over(wSalt)).filter(col("rs") <= k)
      .withColumn("rk", row_number().over(wLang)).filter(col("rk") <= k)
      .select(col("lang"), col("rk").cast(LongType).as("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** WEIGHTED deterministic Bernoulli sampling — inclusion probability
    * proportional to a row weight (here n_chars / 1024, the
    * length-weighted corpus subsample every token-budgeted training mix
    * uses). Membership is `u48 < n_chars · 2^38` where u48 is the
    * 48-bit md5 uniform — ALL-INTEGER arithmetic (u48 < 2^48,
    * n_chars·2^38 ≤ 553·2.7e11 ≈ 1.5e17, both well inside int64), so
    * the comparison is exact on any engine: no float thresholds, no
    * rounding seams, same pure-row-function scale properties as
    * sample_hash. E[kept_chars] tracks the token budget by
    * construction (P(keep) ∝ weight). */
  private val sampleWeighted: QFn = (s, d) =>
    Tables.documents(s, d)
      .withColumn("keep",
        GraftOps.weightedKeep(col("doc_id"), col("n_chars"), cap = 1024L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("lang"))

  /** Class-BALANCED downsampling — every class cut to the minority
    * class's size (the standard fix for label skew before training a
    * classifier, and the per-language rebalance multilingual mixes run
    * when a temperature weight isn't enough): per-language keep the
    * n_min = min(class count) docs with the smallest md5 rank — the
    * sample_reservoir construction with k computed from the data (one
    * tiny groupBy + a broadcast 1-row min) instead of fixed. Membership
    * stays a pure function of the class's id set: deterministic under
    * any partitioning, reproducible on any engine. Scale shape: the
    * rank window is key-partitioned per class (~16 B/doc rows), never a
    * global sort; when k ≪ class size the reservoir's salted two-level
    * window prunes candidates first — with k ≈ class size (this op) the
    * single per-class window IS the honest plan. */
  private val sampleBalanced: QFn = (s, d) =>
    GraftOps.balancedKeep(Tables.documents(s, d), col("doc_id"), col("lang"))
      .select(col("stratum").as("lang"), col("id").as("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  /** Epoch-weighted OVERSAMPLING — the data-mixing step every published
    * LLM recipe runs that the rest of the sampling family can't express
    * (they all subsample): a source with epoch factor r contributes
    * ⌊r⌋ full copies of every document plus a frac(r) deterministic
    * Bernoulli extra copy (GPT-3's "Wikipedia seen 3.4 epochs" is
    * exactly this materialization). The fractional copy reuses
    * sample_weighted's all-integer rule — u48 < frac·2^48 with the
    * threshold written as the integer literal 2^47 (frac = .5 here), a
    * salted md5 so membership is independent of the other samplers —
    * and the copies materialize via a sequence() generator
    * ([[graft.api.GraftOps.epochOversample]]): pure row functions,
    * embarrassingly parallel, no shuffle until the per-source rollup. Per source: docs, emitted copies, realized
    * epochs — the number the mixing spreadsheet checks against the
    * target r. */
  private val sampleEpochs: QFn = (s, d) => {
    val r = when(col("source") === "src0", 2.5)
      .when(col("source") === "src1", 1.5)
      .when(col("source") === "src2", 0.5)
      .otherwise(1.0)
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .withColumn("r", r)
    // n_docs counts ALL source docs (a frac-coin miss with ⌊r⌋ = 0 emits
    // nothing and must still sit in the denominator); n_copies counts the
    // actually MATERIALIZED explode output — the thing the mix trains on
    val emitted = GraftOps.epochOversample(base, col("doc_id"),
        wholeEpochs = floor(col("r")),
        fracThreshold = when(col("r") =!= floor(col("r")), lit(140737488355328L)) // 2^47
          .otherwise(lit(0L)))
      .groupBy(col("source")).agg(count(lit(1)).as("n_copies"))
    base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(emitted, Seq("source"))
      .withColumn("realized_epochs",
        round(col("n_copies").cast("double") / col("n_docs"), 6) + lit(0.0))
      .orderBy(col("source"))
  }

  /** Deterministic curriculum ordering — the last pipeline stage before
    * tokenization, and the one the sample_* family doesn't cover: the
    * SELECTED corpus must become a training ORDER (easy→hard staging,
    * Bengio et al. curriculum learning) without long single-source runs
    * (within-stage source interleave — consecutive same-source batches
    * are the classic loss-spike cause in mixed corpora). Difficulty =
    * whitespace token count staged by fixed literals (<40 easy, <69
    * medium — the fixture's terciles; at 100 TB the same literals or
    * approx-quantile cutpoints, the text_quality_bucket_approx recipe).
    * The SCALE point: ordering is NOT a global sort/ntile — the
    * curriculum key is pure arithmetic, stage·10¹² + (r−1)·S + src_idx,
    * where r is row_number over the (stage, source) partition (many
    * balanced partitions, never a single reducer) and the round-robin
    * interleave is the (r, src_idx) lexicographic order made one
    * integer. Keys are sparse when sources exhaust — a training order
    * needs monotone, not dense (the writer range-partitions by key; the
    * int64 holds to ~5·10¹⁰ docs per (stage, source)). Per-doc shuffle
    * payload is 16 bytes, never text. CurationSpec law: stages are
    * contiguous in key order, and within a stage every full block of
    * S=20 consecutive ranks carries 20 DISTINCT sources. */
  private val sampleCurriculum: QFn = (s, d) =>
    curriculumOf(Tables.documents(s, d))

  /** The ordering over any (doc_id, source, text) frame — factored out
    * so SamplingProps can property-test the rank/tie/key arithmetic on
    * GENERATED corpora against a plain-Scala reference. */
  private[graft] def curriculumOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    curriculumKeysOf(
      docs
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("ntok"))
        .withColumn("stage",
          when(col("ntok") < 40L, 0L).when(col("ntok") < 69L, 1L)
            .otherwise(2L))
        .withColumn("src_idx",
          regexp_extract(col("source"), "([0-9]+)", 1).cast(LongType)),
      nSources = 20L) // fixture sources src0..src19
      .orderBy(col("curriculum_key"), col("doc_id"))

  /** The key arithmetic over any (doc_id, stage, src_idx) frame — the
    * caller supplies its own difficulty staging and source indexing;
    * this is what GraftOps.curriculumKeys surfaces (ApiSpec pins
    * equality with the declared rung on the fixture, DedupProps
    * property-tests the arithmetic against plain Scala). Keys are pure
    * arithmetic over per-(stage, src) row_numbers — stage·10¹² +
    * (r−1)·S + src_idx — never a global sort or ntile. */
  private[graft] def curriculumKeysOf(base: org.apache.spark.sql.DataFrame,
                                      nSources: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("stage"), col("src_idx"))
      .orderBy(col("u48"), col("doc_id"))
    base
      .withColumn("u48",
        graft.functions.GraftFunctions.md5Prefix48(
          concat(col("doc_id").cast(StringType), lit(":cur"))))
      .withColumn("r", row_number().over(w).cast(LongType))
      // Capacity guard (round-16 ADVICE): the stage radix is a fixed
      // 10¹², so the within-stage offset (r−1)·S + src must stay below
      // it — at nSources = 10⁴ that is 10⁸ rows per (stage, source).
      // Past the bound keys would silently collide into the NEXT stage;
      // raise_error makes the violation loud instead, at zero cost on
      // the happy path (one codegen'd comparison per row).
      .withColumn("off", (col("r") - 1L) * nSources + col("src_idx"))
      .select(col("doc_id"), col("stage"), col("src_idx"),
        (col("stage") * 1000000000000L +
          when(col("off") < 1000000000000L, col("off"))
            .otherwise(raise_error(concat(
              lit("curriculumKeys capacity exceeded: (rank-1)*nSources+src = "),
              col("off").cast(StringType),
              lit(" >= 10^12; shrink the stage or use a wider key")))))
          .as("curriculum_key"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "sample_hash" -> sampleHash,
    "sample_curriculum" -> sampleCurriculum,
    "sample_kfold" -> sampleKfold,
    "sample_epochs" -> sampleEpochs,
    "sample_balanced" -> sampleBalanced,
    "split_train_val" -> splitTrainVal,
    "sample_stratified" -> sampleStratified,
    "sample_reservoir" -> sampleReservoir,
    "sample_weighted" -> sampleWeighted,
  )

  val oracles: Seq[(String, String)] = Seq(
    "sample_kfold" ->
      """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fold'), 1, 12))::BIGINT % 5
                  AS fold,
                lang,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents
         GROUP BY 1, 2
         ORDER BY fold ASC NULLS FIRST, lang ASC NULLS FIRST""",
    "sample_curriculum" ->
      """WITH b AS (
           SELECT doc_id,
                  CASE WHEN len(string_split(text, ' ')) < 40 THEN 0
                       WHEN len(string_split(text, ' ')) < 69 THEN 1
                       ELSE 2 END AS stage,
                  CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS src_idx,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 12))::BIGINT
                    AS u48
           FROM documents),
         r AS (
           SELECT doc_id, stage, src_idx,
                  row_number() OVER (PARTITION BY stage, src_idx
                                     ORDER BY u48 ASC, doc_id ASC) AS r
           FROM b)
         SELECT doc_id, CAST(stage AS BIGINT) AS stage,
                src_idx,
                CAST(stage * 1000000000000 + (r - 1) * 20 + src_idx AS BIGINT)
                  AS curriculum_key
         FROM r
         ORDER BY curriculum_key ASC NULLS FIRST, doc_id ASC NULLS FIRST""",
    "sample_epochs" ->
      """WITH b AS (
           SELECT source, doc_id,
                  CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.5
                              WHEN 'src2' THEN 0.5 ELSE 1.0 END AS r,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep'), 1, 12))::BIGINT
                    AS u48
           FROM documents),
         c AS (
           SELECT source, doc_id,
                  CAST(floor(r) AS BIGINT)
                  + CASE WHEN r <> floor(r) AND u48 < 140737488355328
                         THEN 1 ELSE 0 END AS copies
           FROM b),
         em AS (SELECT source, count(*) AS n_copies FROM (
                  SELECT source, unnest(range(1, copies + 1)) FROM c) t
                GROUP BY source),
         tot AS (SELECT source, count(*) AS n_docs FROM b GROUP BY source)
         SELECT tot.source, tot.n_docs, em.n_copies,
                round(CAST(em.n_copies AS DOUBLE) / tot.n_docs, 6) + 0.0
                  AS realized_epochs
         FROM tot JOIN em ON tot.source = em.source
         ORDER BY tot.source ASC NULLS FIRST""",
    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT % 10 = 0
         ORDER BY o_orderkey ASC NULLS FIRST""",
    "sample_stratified" ->
      """WITH t AS (
           SELECT lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10 AS bkt
           FROM documents)
         SELECT lang, count(*) AS n_total,
                CAST(sum(CASE WHEN (lang = 'en' AND bkt < 5) OR (lang <> 'en' AND bkt < 2)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(CAST(sum(CASE WHEN (lang = 'en' AND bkt < 5) OR (lang <> 'en' AND bkt < 2)
                                    THEN 1 ELSE 0 END) AS BIGINT)
                      / CAST(count(*) AS DOUBLE), 6) AS rate
         FROM t GROUP BY lang
         ORDER BY lang ASC NULLS FIRST""",
    "split_train_val" ->
      """SELECT lang,
                CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10 = 9
                     THEN 'val' ELSE 'train' END AS split,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents
         GROUP BY 1, 2
         ORDER BY lang ASC NULLS FIRST, split ASC NULLS FIRST""",
    "sample_balanced" ->
      """WITH r AS (SELECT lang, doc_id,
                           row_number() OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                      doc_id ASC) AS rn
                    FROM documents),
            m AS (SELECT min(c) AS k FROM
                    (SELECT count(*) AS c FROM documents GROUP BY lang) t)
         SELECT lang, doc_id
         FROM r CROSS JOIN m
         WHERE rn <= k
         ORDER BY lang ASC NULLS FIRST, doc_id ASC NULLS FIRST""",
    "sample_reservoir" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
         FROM (SELECT lang, doc_id,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
               FROM documents) t
         WHERE rk <= 20
         ORDER BY lang ASC NULLS FIRST, rk ASC NULLS FIRST""",
    "sample_weighted" ->
      """WITH t AS (
           SELECT lang, n_chars,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u48
           FROM documents)
         SELECT lang, count(*) AS n_total,
                CAST(sum(CASE WHEN u48 < n_chars * 274877906944 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN u48 < n_chars * 274877906944 THEN n_chars ELSE 0 END)
                     AS BIGINT) AS kept_chars
         FROM t GROUP BY lang
         ORDER BY lang ASC NULLS FIRST""",
  )
}
