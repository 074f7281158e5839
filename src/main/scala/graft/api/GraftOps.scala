package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The library surface for ARBITRARY DataFrames — what "switch your
  * pipeline to this library" means in practice. The declared queries in
  * [[graft.SparkEntry]] are fixture-bound so the driver can oracle them;
  * each function here is the SAME construction parameterized over the
  * caller's columns, and ApiSpec asserts result equality against the
  * corresponding declared query on the fixtures, so the DuckDB-verified
  * semantics transfer to user data unchanged.
  *
  * Everything stays in codegen-friendly Column expressions (no UDFs) and
  * keeps the declared queries' scale shapes: digest-keyed dedup shuffles,
  * equality-bucket LSH candidate joins, single-reference label
  * propagation, pure-row-function sampling.
  *
  * ==Usage examples==
  *
  * Each block below is mirrored verbatim by an ApiSpec test
  * ("scaladoc usage examples run as written"), so the examples compile
  * and run, not just render.
  *
  * '''Dedup gate''' — normalize, drop exact copies, then screen an
  * incoming batch against the corpus fingerprint index (winnowing's
  * ≥6-token-run guarantee; see [[GraftOps.winnowIncrementalCandidates]]
  * for the precise ≥2-bar statement):
  * {{{
  * import graft.api.GraftOps._
  * import org.apache.spark.sql.functions.col
  *
  * val survivors = dedupExact(corpus, col("doc_id"), col("text"))
  * // persist once per ingest epoch; 16 bytes per (doc, fingerprint)
  * val index = winnowFingerprints(corpus, col("doc_id"), col("text"))
  * val nearDupCandidates = winnowIncrementalCandidates(
  *   index, col("doc_id"), col("fp_hash"),
  *   newBatch, col("doc_id"), col("text"))   // (corpus_id, new_id, n_shared)
  * }}}
  *
  * '''Retrieval cascade''' — lexical leg + vector leg, fused with RRF:
  * {{{
  * import graft.api.GraftOps._
  * import org.apache.spark.sql.functions.{col, lit}
  *
  * val lexical = bm25Rank(corpus, col("doc_id"), col("text"),
  *   queryTerms, col("qid"), col("term"))          // (qid, rank, doc_id, bm25)
  * val vector = knnCosine(embeddings, col("vec_id"), col("embedding"),
  *   queryVecs, col("qid"), col("qvec"), k = 10)   // (qid, rank, doc_id≡vec_id, cos)
  * val fused = rrfFuse(
  *   lexical.select(col("qid"), col("doc_id"), col("rank")),
  *   vector.select(col("qid"), col("vec_id").as("doc_id"), col("rank")),
  *   k = 10)                                       // (qid, rank, doc_id, rrf, n_legs)
  * }}}
  *
  * '''Split hygiene''' — deterministic train/val membership, then make
  * the split near-dup-leak-free by hashing the CLUSTER label instead of
  * the doc id (the split_cluster_aware construction):
  * {{{
  * import graft.api.GraftOps._
  * import org.apache.spark.sql.functions.{coalesce, col}
  *
  * val naive = corpus.withColumn("is_val", hashBucket(col("doc_id"), 100) < 10)
  * val pairs = minhashNearDupPairs(corpus, col("doc_id"), col("text")).persist()
  * val labels = connectedComponents(pairs, "ida", "idb")     // (v, lab)
  * val hygienic = corpus
  *   .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
  *   .withColumn("is_val",
  *     hashBucket(coalesce(col("lab"), col("doc_id")), 100) < 10)
  * // near-dup pairs now land on the SAME side by construction
  * }}}
  *
  * '''Curation''' — quality-gate, importance-weight toward a target
  * slice, and stage a curriculum:
  * {{{
  * import graft.api.GraftOps._
  * import org.apache.spark.sql.functions.{col, lit}
  *
  * val scored = corpus.withColumn("q",
  *   qualityScore(normalizeText(col("text")), Seq("the", "a", "of")))
  * val weights = dsirWeights(corpus, col("doc_id"), col("text"),
  *   isTarget = col("source") === "src0")          // (doc_id, …, imp_nano)
  * val ordered = curriculumKeys(
  *   scored.withColumn("stage", (col("q") < 1.5).cast("long")),
  *   col("doc_id"), col("stage"), col("doc_id") % 4, nSources = 4L)
  * // sort by curriculum_key → easy-first, source-interleaved order
  * }}}
  */
object GraftOps {

  /** Lowercase, strip non-alnum, collapse whitespace — text_normalize:
    * regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '')),
    * ' +', ' '). ASCII rows take the one-pass `ascii_norm(text, 'alnum')`
    * kernel; a row with any non-ASCII byte gets NULL from it and runs
    * the exact lower()/regex chain, so the value is the chain's for
    * every row. */
  def normalizeText(text: Column): Column =
    coalesce(graft.functions.GraftFunctions.asciiNorm(text, "alnum"),
      regexp_replace(trim(regexp_replace(lower(text), "[^a-z0-9 ]", "")), " +", " "))

  /** Lowercase, trim, collapse space runs — the text dedupExact
    * digests: regexp_replace(trim(lower(text)), ' +', ' '), with the
    * same ASCII kernel / exact-chain split as [[normalizeText]]
    * (`ascii_norm(text, 'dedup')`). */
  private[graft] def dedupNormalize(text: Column): Column =
    coalesce(graft.functions.GraftFunctions.asciiNorm(text, "dedup"),
      regexp_replace(trim(lower(text)), " +", " "))

  /** Log-length × (1 − stopword-ratio) quality score — text_quality's
    * `quality` column (unrounded; gate on round(…, 6) like pipeline_e2e
    * if the threshold must be engine-portable). */
  def qualityScore(text: Column, stopTokens: Seq[String]): Column = {
    val n = graft.functions.GraftFunctions.tokCount(text)
    val stopRatio = graft.functions.GraftFunctions.tokHits(text, stopTokens).cast(DoubleType) /
      n.cast(DoubleType)
    log(lit(1.0) + n) * (lit(1.0) - stopRatio)
  }

  /** Portable md5 mod-bucket in 0..buckets-1 — sample_hash /
    * split_train_val membership: a pure function of the row id,
    * independent of partitioning, executor count, or engine. */
  def hashBucket(id: Column, buckets: Int): Column =
    graft.functions.GraftFunctions.md5Prefix48(id.cast(StringType)) % buckets

  /** Exact double cosine via the zip_with/aggregate left fold — the
    * SQL-expressible twin of the codegen'd `cosine_f32` expression
    * (bit-identical numerics, asserted in VectorSpec). */
  def cosineSim(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact-dedup survivors — dedup_exact: one row per distinct
    * normalized text ([[dedupNormalize]]: lowercase, trim, collapse
    * spaces), `(id, n_copies)` with survivor = min id. The shuffle
    * carries 16-byte digests, not documents. */
  def dedupExact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("gid"), md5(dedupNormalize(text)).as("nh"))
      .groupBy(col("nh"))
      .agg(min(col("gid")).as("id"), count(lit(1)).as("n_copies"))
      .select(col("id"), col("n_copies"))

  /** MinHash-LSH verified near-dup pairs — dedup_near_minhash's
    * construction ([[graft.operators.LlmText.minhashPairsOf]]) over
    * caller docs: each row's distinct word-3-gram hash set is built in
    * the row (`gram_hashes48`), rows sharing an id are unioned by one
    * doc_id shuffle of those per-doc arrays, `minhash16` signs each
    * set in the row, 8 bands of r=2 → equality-bucket candidates, then
    * an exact-Jaccard verify that intersects the two per-doc gram sets
    * (array_intersect) — no stage ever moves one row per gram, so `df`
    * is read once and need not be persisted. Returns `(ida, idb,
    * jaccard)` with ida < idb and unrounded jaccard ≥ threshold. Rows
    * sharing an id are one doc (their gram sets union); docs under 3
    * tokens and NULL text have no grams. */
  def minhashNearDupPairs(df: DataFrame, id: Column, text: Column,
                          threshold: Double = 0.8): DataFrame =
    graft.operators.LlmText.minhashPairsOf(gramSetsOf(df, id, text), threshold)
      .select(col("da").as("ida"), col("db").as("idb"), col("j").as("jaccard"))

  /** (doc_id, gs) per-doc gram-hash sets of caller docs — the set the
    * minhash functions share with the declared queries. */
  private def gramSetsOf(df: DataFrame, id: Column, text: Column): DataFrame =
    graft.operators.LlmText.gramSetsOf(df.select(id.as("doc_id"), text.as("text")))

  /** Connected components over an undirected pair list — dedup_clusters'
    * clustering step: bounded min-label propagation (single-reference
    * self-loop form, linear lineage in `rounds`). Returns `(v, lab)` —
    * every vertex of the pair graph with its component label (= the
    * component's minimum id once `rounds` ≥ the component diameter).
    * Persist `pairs` before calling: each round references the edge
    * list. */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          rounds: Int = 4): DataFrame = {
    val sym = pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
    graft.operators.LlmText.labelProp(sym, rounds)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03/MOSS) over
    * caller docs — text_winnowing's construction
    * ([[graft.operators.LlmText.winnowFpsOf]]) parameterized: min
    * word-3-gram md5 hash per 4-window, rightmost position on ties,
    * full windows only, deduped. Returns (doc_id, fp_pos, fp_hash)
    * with the guarantee that any shared run of ≥ 6 tokens between two
    * docs yields a shared fp_hash — feed the output to an equality
    * self-join on fp_hash (cap hashes seen in too many docs first,
    * the boilerplate-stop step) for guarantee-backed near-dup
    * candidates. Rows sharing an id are one doc whose fingerprints are
    * the union of the rows' fingerprint sets (each row is winnowed on
    * its own; no window spans two rows). Scale: the windows run inside
    * each row (`winnow_enc` over `gram_hashes48`), and the one shuffle
    * is the distinct over 24-byte fingerprint rows.
    * Per-doc token cap: the (hash, position) pair is packed into one
    * int64 with a 2³¹ position radix, so documents up to 2³¹ ≈ 2.1e9
    * tokens encode exactly; beyond that the packing would overflow
    * (no real document approaches it — a row that long does not fit
    * in Spark's 2 GiB string limit either). */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column): DataFrame =
    graft.operators.LlmText.winnowFpsOf(
      docs.select(id.as("doc_id"), text.as("text")))

  /** Global [start, end) token interval per row in stable id order —
    * sample_pack / sample_token_budget's distributed two-pass prefix
    * sum parameterized: per-range-bucket totals get a one-row-per-
    * bucket offset window (the only global pass), broadcast back, and
    * each row's interval = bucket offset + within-bucket running sum.
    * The [start, end) intervals are what sequence packing, budget
    * cutoffs, and shard assignment all derive from. `id` must be
    * non-negative and unique. The narrow (id, ntok) projection is
    * checkpointed LAZILY (it is read twice — once for the bucket
    * totals, once for the per-row sum — so the input job must not run
    * twice), materializing on the FIRST action against the result
    * rather than at call time: a library entry point must not run a
    * Spark job on the caller's frame before any action is requested
    * (round-16 ADVICE item 4). Pass the cheapest id/ntok expressions
    * you have. */
  def tokenIntervals(df: DataFrame, id: Column, ntok: Column,
                     bucket: Long = 1000L): DataFrame =
    graft.operators.Curation.tokenIntervalsOf(
      df.select(id.cast(LongType).as("doc_id"),
                ntok.cast(LongType).as("ntok")).localCheckpoint(eager = false),
      bucket)

  /** Deterministic curriculum ordering keys over caller-staged docs —
    * sample_curriculum's key arithmetic parameterized: the caller
    * supplies difficulty `stage` (0 = easiest, ordered ascending) and
    * a dense source index `srcIdx` in [0, nSources); the returned
    * curriculum_key stages easy→hard and round-robins sources within
    * each stage (no long single-source runs). Pure arithmetic over
    * per-(stage, source) row_numbers — stage·10¹² + (rank−1)·S + src —
    * never a global sort/ntile; keys are sparse-but-monotone when
    * sources exhaust. Capacity bound (round-16 ADVICE): the stage
    * radix is 10¹², so each stage holds at most 10¹²/nSources rows
    * per source (10⁸ at nSources = 10⁴); exceeding it raises an error
    * at evaluation time rather than silently colliding keys into the
    * next stage. Long overflow caps usable stages at ~9.2·10⁶.
    * Returns (doc_id, stage, src_idx,
    * curriculum_key); sort by curriculum_key to materialize the
    * training order. */
  def curriculumKeys(df: DataFrame, id: Column, stage: Column,
                     srcIdx: Column, nSources: Long): DataFrame =
    graft.operators.Sampling.curriculumKeysOf(
      df.select(id.as("doc_id"), stage.cast(LongType).as("stage"),
                srcIdx.cast(LongType).as("src_idx")),
      nSources)

  /** DSIR-style importance weights (Xie et al. 2023's hashed-n-gram
    * importance resampling) over caller docs — sample_dsir's weight
    * pipeline with the target slice as a caller predicate: per-doc
    * importance = Σ_tokens ln p_target(bucket)/p_raw(bucket) over 256
    * md5 hash buckets, both distributions Laplace-smoothed,
    * deterministic to the bit (per-bucket log-ratios nano-quantized in
    * the 256-row unit table, doc weights exact integer sums). Returns
    * (doc_id, n_tokens, w_nano, imp_nano) — rank or threshold on
    * imp_nano to select; `imp_nano` is the floored integer nano-mean.
    * Scale: token-sized work is two map-side-combining groupBys + one
    * 256-row broadcast; output is |docs|-row. */
  def dsirWeights(docs: DataFrame, id: Column, text: Column,
                  isTarget: Column): DataFrame =
    graft.operators.Curation.dsirPerDocOf(
      docs.select(id.as("doc_id"), isTarget.as("is_tgt"), text.as("text")))
      .select(col("doc_id"), col("n_tokens"), col("w_nano"),
        floor(col("w_nano").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .cast(LongType).as("imp_nano"))

  /** Incremental winnowing near-dup candidates — the probe half of the
    * guarantee-backed ingest screen (dedup_winnowing_incremental
    * parameterized): `indexFps` is the persisted corpus fingerprint
    * table (one row per (corpus id, fp_hash) — build it once with
    * [[winnowFingerprints]] and keep it between ingests), `newDocs` is
    * the landing batch. Fingerprints seen in more than `cap` corpus
    * docs are dropped before the join (the boilerplate-stop /
    * anti-quadratic bound), then every (corpus doc, new doc) pair
    * sharing ≥ 2 surviving fingerprints is emitted with its shared
    * count. Guarantee at the ≥2 bar, stated precisely: a single
    * shared ≥6-token run forces ONE shared fingerprint (n_shared
    * counts DISTINCT hashes), so the bar is met by (a) two shared
    * runs with distinct gram content, or (b) one shared run of
    * ≥ ~10 tokens whose disjoint selection windows contain ≥ 2
    * DISTINCT 3-grams — window disjointness forces two selections,
    * but only differing gram content forces two different hashes.
    * What this does NOT cover: repetitive boilerplate. A run of one
    * repeated token ("spam spam … spam", any length) winnows to a
    * single fingerprint, and two copies of the SAME run anywhere in
    * a doc add nothing new — such pairs stop at n_shared = 1 and
    * slip the ≥2 filter (CurationSpec documents the miss on a
    * 12-token repeated-token run, alongside the deterministic hit
    * on a 12-token distinct-gram copy). Lower the bar to 1 for the
    * strict any-single-run guarantee at the cost of singleton-
    * fingerprint noise. Cost scales with the
    * batch: one equality shuffle on fp_hash, corpus text untouched. */
  def winnowIncrementalCandidates(indexFps: DataFrame, indexId: Column,
                                  indexFpHash: Column, newDocs: DataFrame,
                                  id: Column, text: Column,
                                  cap: Long = 50L,
                                  minShared: Long = 2L): DataFrame = {
    val idx = indexFps
      .select(indexId.as("corpus_id"), indexFpHash.as("fp_hash")).distinct()
    val rareIdx = idx.join(
      idx.groupBy(col("fp_hash")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") <= cap).select(col("fp_hash")),
      Seq("fp_hash"))
    val delta = winnowFingerprints(newDocs, id, text)
      .select(col("doc_id").as("new_id"), col("fp_hash")).distinct()
    rareIdx.join(delta, Seq("fp_hash"))
      .groupBy(col("corpus_id"), col("new_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact brute-force cosine top-k — sim_knn_batch's shape
    * parameterized (the baseline every ANN recall number is measured
    * against): broadcast the query batch across one corpus pass, score
    * with the exact double cosine fold ([[cosineSim]] — bit-identical
    * to the codegen'd cosine_f32, per VectorSpec), rank per query with
    * a vec_id tie-break (total order → partitioning-exact results).
    * Returns (qid, rank, vec_id, cos_sim) with cos_sim rounded to 6 dp
    * for engine portability. `excludeSelf` drops candidates whose id
    * equals the query id (self-retrieval, when queries come from the
    * corpus). Scale shape: per-query cost is one corpus scan amortized
    * across the whole broadcast batch — shard very large query sets
    * into batches; the corpus is never shuffled. For sub-scan latency
    * use the IVF/PQ ladder (sim_knn_ivf*), measured against THIS as
    * ground truth. */
  def knnCosine(corpus: DataFrame, id: Column, emb: Column,
                queries: DataFrame, qid: Column, qvec: Column,
                k: Int = 10, excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = corpus.select(id.as("vec_id"), emb.as("embedding"))
    val q = queries.select(qid.as("qid"), qvec.as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val cand = e.crossJoin(broadcast(q))
    (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid")) else cand)
      .select(col("qid"), col("vec_id"),
        cosineSim(col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), (round(col("cos"), 6) + lit(0.0)).as("cos_sim"))
  }

  /** Okapi BM25 top-10 retrieval ranking over caller docs and query
    * terms — text_bm25's scoring core parameterized (Lucene idf,
    * k1 = 1.2 / b = 0.75, exact integer tf/df/doclen, per-term
    * contributions nano-quantized before the per-(query, doc) fold so
    * the ranking is partitioning-exact). `docs` supplies one row per
    * document, `queries` one row per (query id, term). Returns
    * (qid, rank, doc_id, bm25) — the per-query top-10. Scale shape:
    * one corpus tokenize/count pass, broadcast query-term join, rank
    * window per qid. */
  def bm25Rank(docs: DataFrame, id: Column, text: Column,
               queries: DataFrame, qid: Column, term: Column): DataFrame =
    graft.operators.LlmText.bm25Rank(
      docs.select(id.as("doc_id"), text.as("text")),
      queries.select(qid.as("qid"), term.as("term")))

  /** Reciprocal Rank Fusion (Cormack et al. 2009, k-constant 60) of
    * two per-query rankings — sim_hybrid_rrf's fusion step over
    * ARBITRARY legs (BM25 + vector, two vector indexes, anything that
    * ranks): each input carries (qid, doc_id, rank) with rank ≥ 1; a
    * doc missing from one leg contributes 0 for it. Returns the fused
    * per-query top-`k` as (qid, rank, doc_id, rrf, n_legs), fused rank
    * tie-broken on doc_id. Exact-integer ranks in → engine- and
    * partitioning-exact fusion out; the join touches only the two
    * ≤topN·|queries|-row legs, never a corpus. */
  def rrfFuse(legA: DataFrame, legB: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = legA.select(col("qid"), col("doc_id"), col("rank").as("ra"))
    val b = legB.select(col("qid"), col("doc_id"), col("rank").as("rb"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    a.join(b, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("ra")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0))).as("rrf"),
        (when(col("ra").isNotNull, 1L).otherwise(0L)
          + when(col("rb").isNotNull, 1L).otherwise(0L)).as("n_legs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("doc_id"),
        (round(col("rrf"), 6) + lit(0.0)).as("rrf"), col("n_legs"))
      .orderBy(col("qid"), col("rank"))
  }

  /** [[connectedComponents]] with NO diameter bound — the shape for
    * graphs whose diameter isn't known ≤ rounds (the 100 TB default):
    * checkpoint-per-round min-label propagation that stops when a round
    * changes zero labels, i.e. at the true fixed point. LawsSpec
    * certifies agreement with the bounded form where both converge. */
  def connectedComponentsUntilFixed(pairs: DataFrame, a: String, b: String,
                                    maxRounds: Int = 64): DataFrame = {
    val sym = pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
    graft.operators.LlmText.labelPropUntilFixed(
      sym.union(sym.select(col("src"), col("src").as("dst")).distinct()),
      maxRounds)
  }

  /** Weighted Bernoulli keep decision — sample_weighted's membership
    * rule over caller columns: P(keep) = weight / cap via the
    * ALL-INTEGER compare `u48 < weight · (2^48 / cap)` on the 48-bit
    * md5 uniform (cap must be a power of two ≤ 2^48). A pure row
    * function: no float thresholds, no shuffle, reproducible on any
    * engine with md5. */
  def weightedKeep(id: Column, weight: Column, cap: Long = 1024L): Column = {
    require(cap > 0 && (cap & (cap - 1)) == 0 && cap <= (1L << 48),
      s"cap must be a power of two in [1, 2^48], was $cap")
    val u48 = graft.functions.GraftFunctions.md5Prefix48(id.cast(StringType))
      .cast(LongType)
    u48 < weight * lit((1L << 48) / cap)
  }

  /** Gaps-and-islands streak statistics — win_streak's construction
    * over caller columns: per `key`, consecutive-`day` runs via the
    * day − row_number island id, reduced to max/count/total. All
    * integer; two key-partitioned aggregations. */
  def streakStats(df: DataFrame, key: Column, day: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sk_key")).orderBy(col("sk_day"))
    df.select(key.as("sk_key"), day.as("sk_day")).distinct()
      .withColumn("grp", col("sk_day") - row_number().over(w))
      .groupBy(col("sk_key"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("sk_key"))
      .agg(max(col("len")).as("max_streak"),
           count(lit(1)).as("n_streaks"),
           sum(col("len")).as("n_active_days"))
  }

  /** Weighted PageRank over an arbitrary edge list — graph_pagerank's
    * construction parameterized over the caller's graph: rank ⋈ edges →
    * groupBy(dst) per round (one bounded equality shuffle over EDGES,
    * never the upstream joins that built them), per-round 9-dp re-round
    * for engine/partitioning stability. The edge list is eagerly
    * localCheckpointed so the `iterations` unrolled references re-read
    * materialized rows, not the caller's lineage. `vertices` bounds the
    * driver cost to one count(). */
  def pageRank(edges: DataFrame, src: Column, dst: Column, weight: Column,
               vertices: DataFrame, vid: Column,
               iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    val nV = vertices.select(vid).distinct().count().toDouble
    val e = edges.select(src.as("src"), dst.as("dst"), weight.as("w"))
      .localCheckpoint()
    val out = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val ew = e.join(out, "src")
      .select(col("src"), col("dst"),
        (col("w").cast(DoubleType) / col("outw")).as("p"))
    val nodes = vertices.select(vid.as("id"))
    var r = nodes.select(col("id"), (lit(1.0) / lit(nV)).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = ew.join(r, col("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("r") * col("p")).as("c"))
      r = nodes.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          round(lit(1.0 - damping) / lit(nV)
            + lit(damping) * coalesce(col("c"), lit(0.0)), 9).as("r"))
    }
    r.select(col("id"), (round(col("r"), 6) + lit(0.0)).as("pagerank"))
  }

  /** Resample-to-grid + forward fill — events_gap_fill's construction
    * over caller columns: per `key`, a dense integer-`bucket` grid
    * spanning [min, max] via sequence+explode (bounded by span, never
    * corpus), missing buckets as n=0, last observed per-bucket sum
    * carried forward. Every stage — grid explode, join, fill window —
    * partitions on `key`; nothing global. */
  def gapFillForward(df: DataFrame, key: Column, bucket: Column,
                     value: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gf_key")).orderBy(col("gf_bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val base = df.select(key.as("gf_key"), bucket.as("gf_bucket"), value.as("gf_v"))
    val per = base.groupBy(col("gf_key"), col("gf_bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("gf_v")), 6).as("sum_v"))
    val grid = base.groupBy(col("gf_key"))
      .agg(min(col("gf_bucket")).as("h0"), max(col("gf_bucket")).as("h1"))
      .select(col("gf_key"), explode(sequence(col("h0"), col("h1"))).as("gf_bucket"))
    grid.join(per, Seq("gf_key", "gf_bucket"), "left")
      .select(col("gf_key"), col("gf_bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("sum_v"), ignoreNulls = true).over(w).as("filled_sum"))
  }

  /** L2 normalization — embed_norm's prep shape: scale the vector to
    * unit length so cosine becomes a plain dot product downstream.
    * Stays in one codegen stage; division by the unrounded norm.
    * A zero-norm vector passes through as the zero vector (explicitly —
    * Spark's divide-by-zero→NULL would otherwise silently null every
    * element and corrupt downstream dot products). */
  def l2Normalize(vec: Column): Column = {
    val e = transform(vec, x => x.cast(DoubleType))
    val nrm = sqrt(aggregate(transform(e, x => x * x), lit(0.0), (a, v) => a + v))
    transform(e, x => when(nrm =!= 0.0, x / nrm).otherwise(lit(0.0)))
  }

  /** Argmax aggregate — agg_argmax's shape: use inside .agg(...) to get
    * the payload of the row maximizing `ord` (ties → max payload) in a
    * single hash aggregate, no join-back. Read fields off the returned
    * struct: `.agg(argmax(price, key).as("m")) … col("m.<payload>")`. */
  def argmax(ord: Column, payload: Column): Column =
    max(struct(ord, payload))

  /** SCD2 validity intervals — ingest_cdc_scd2's assembly step: given
    * one row per (key, version), attach `valid_to` (= next version, NULL
    * while current) and `is_current`. The per-key window is bounded by
    * the key's version count — the CDC feed invariant that keeps this
    * shape flat at 100 TB. */
  def scd2History(df: DataFrame, key: Column, version: Column): DataFrame = {
    // fail fast instead of silently replacing caller columns: withColumn
    // overwrites same-named columns, which would corrupt an input that
    // already carries history fields
    val clash = df.columns.toSet.intersect(Set("valid_to", "is_current"))
    require(clash.isEmpty,
      s"scd2History writes columns valid_to/is_current, but the input " +
        s"already has ${clash.mkString(", ")} — rename or drop them first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(version)
    df.withColumn("valid_to", lead(version, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Stratified keep decision — sample_stratified's membership rule
    * parameterized over the caller's strata: per-stratum keep rates in
    * tenths (buckets 0..9 kept below the rate), falling back to
    * `defaultOf10` for unlisted strata. Still a pure row function: the
    * sample can be re-derived or re-tuned per stratum without any
    * shuffle. */
  def stratifiedKeep(id: Column, stratum: Column,
                     keepOf10: Map[String, Int], defaultOf10: Int): Column = {
    val b = hashBucket(id, 10)
    keepOf10.toSeq
      .foldLeft(Option.empty[Column]) { case (acc, (k, n)) =>
        Some(acc.fold(when(stratum === k, b < n))(_.when(stratum === k, b < n)))
      }
      .fold(b < defaultOf10: Column)(_.otherwise(b < defaultOf10))
  }

  /** Near-dup deduplicated corpus in one call — the composition a
    * training pipeline actually wants: minhash pair graph → connected
    * components → drop every non-survivor cluster member (survivor =
    * minimum id per component), keeping the caller's full row. The
    * drop set moves only ids (LEFT ANTI on the key). The pair graph is
    * persisted only DURING the call: label propagation references it
    * once per round, then the drop set (ids only) is materialized via
    * localCheckpoint and the pair cache is released — repeated
    * per-dataset calls leak nothing. */
  def dedupCorpus(df: DataFrame, id: Column, text: Column,
                  threshold: Double = 0.8, rounds: Int = 4): DataFrame = {
    val pairs = minhashNearDupPairs(df, id, text, threshold)
      .select(col("ida"), col("idb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val drops = connectedComponents(pairs, "ida", "idb", rounds)
        .filter(col("v") =!= col("lab"))
        .select(col("v").as("__graft_drop"))
        .localCheckpoint() // eager: drop ids are computed before unpersist
      df.join(drops, id === col("__graft_drop"), "left_anti")
    } finally { pairs.unpersist(); () }
  }

  /** Banded minhash signatures for an arbitrary (id, text) frame —
    * dedup_incremental's index/probe construction
    * ([[graft.operators.LlmText.minhashBands]]: the
    * [[minhashNearDupPairs]] signature, `minhash16` over each doc's
    * gram set, 8 bands of r=2; docs with no gram get no band). Returns
    * `(id, band, s0, s1)`; write it
    * partitioned by `band` as a persistent dedup index, and probe a new
    * batch by equality-joining its bands against the index on
    * (band, s0, s1) — the incremental shape where per-ingest cost
    * scales with the batch, not the corpus. */
  def minhashBandSignatures(df: DataFrame, id: Column, text: Column): DataFrame =
    graft.operators.LlmText.minhashBands(gramSetsOf(df, id, text))
      .select(col("doc_id").as("id"), col("band"), col("s0"), col("s1"))

  /** Per-vector int8 affine quantization — embed_quantize's storage
    * shape: `struct(lo, hi, qscale, q: array<bigint>)` with
    * qᵢ = clamp(floor((xᵢ − lo)/scale + 0.5), 0, 255). floor-form
    * rounding for cross-engine IEEE parity. */
  def int8Quantize(vec: Column): Column = {
    val e = transform(vec, x => x.cast(DoubleType))
    val lo = array_min(e)
    val hi = array_max(e)
    val scale = (hi - lo) / 255.0
    val q = transform(e, x =>
      when(hi === lo, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((x - lo) / scale + 0.5).cast(LongType)))))
    struct(lo.as("lo"), hi.as("hi"), scale.as("qscale"), q.as("q"))
  }

  /** Two-sample grid Kolmogorov–Smirnov distance — agg_ks's
    * construction over caller columns (the distribution-drift screen):
    * `value` quantizes to an integer grid (⌊v·scale⌋), per-bucket class
    * counts come from ONE map-side-combining pass, and the CDF gap is
    * the all-int64 `max|c1·n2 − c2·n1|` over the AGGREGATED grid (a
    * single bounded window, never the raw rows), then one closing
    * division. One row: n1, n2, ks_stat. Grid KS equals exact KS at
    * grid boundaries; max error is the largest within-bucket mass. */
  def ksDistance(df: DataFrame, group: Column, value: Column,
                 a: String, b: String, scale: Double = 100.0): DataFrame = {
    val bkt = df.filter(group.isin(a, b))
      .select(floor(value * lit(scale)).cast(LongType).as("bkt"), group.as("g"))
      .groupBy(col("bkt"))
      .agg(sum(when(col("g") === a, 1L).otherwise(0L)).as("c1"),
           sum(when(col("g") === b, 1L).otherwise(0L)).as("c2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bkt")).rowsBetween(Long.MinValue, 0)
    val n = bkt.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    bkt.select(col("bkt"),
        sum(col("c1")).over(w).as("f1"), sum(col("c2")).over(w).as("f2"))
      .crossJoin(broadcast(n))
      .agg(max(abs(col("f1") * col("n2") - col("f2") * col("n1"))).as("dnum"),
           max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      // An empty class makes n1·n2 = 0 and the double division below a
      // silent NaN (or NULL when the whole input is empty) — fail fast
      // instead; folded into the selected n1 so pruning keeps it live.
      .withColumn("chk", expr(
        "assert_true(coalesce(n1, 0) >= 1 AND coalesce(n2, 0) >= 1," +
        " 'graft.ksDistance: each class needs >= 1 row')"))
      .select((col("n1") + coalesce(col("chk").cast(LongType), lit(0L))).as("n1"),
        col("n2"),
        (round(col("dnum").cast(DoubleType)
               / (col("n1") * col("n2")).cast(DoubleType), 6)
          + lit(0.0)).as("ks_stat"))
  }

  /** Welch two-sample t-test — agg_ttest's construction over caller
    * columns (the A/B / drift significance screen): per-class Σx, Σx²
    * through the exact DECIMAL(18,6) cast, conditional-max fold to one
    * row, closed-form t and Welch–Satterthwaite df on identical
    * doubles. One row: n_a, n_b, mean_diff, t_stat, df_welch. */
  def welchT(df: DataFrame, group: Column, value: Column,
             a: String, b: String): DataFrame = {
    val m = df.filter(group.isin(a, b))
      .select(group.as("g"), value.cast(DoubleType).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
           sum(expr("CAST(x AS DECIMAL(18,6))")).cast(DoubleType).as("sx"),
           sum(expr("CAST(x * x AS DECIMAL(18,6))")).cast(DoubleType).as("sxx"))
    def pick(c: String, g: String, as: String) =
      max(when(col("g") === g, col(c))).as(as)
    m.agg(pick("nd", a, "nd1"), pick("sx", a, "sx1"), pick("sxx", a, "sxx1"),
          pick("nd", b, "nd2"), pick("sx", b, "sx2"), pick("sxx", b, "sxx2"))
      // Fail fast on degenerate classes instead of silently emitting
      // NULL/NaN: a missing class leaves its nd NULL (conditional max
      // over zero rows) and a 1-row class zeroes the nd−1 variance
      // denominator. The assert rides inside the selected n_a column
      // below so column pruning can never drop it.
      .withColumn("chk", expr(
        "assert_true(coalesce(nd1, CAST(0.0 AS DOUBLE)) >= 2.0" +
        " AND coalesce(nd2, CAST(0.0 AS DOUBLE)) >= 2.0," +
        " 'graft.welchT: each class needs >= 2 rows')"))
      .withColumn("m1", col("sx1") / col("nd1"))
      .withColumn("m2", col("sx2") / col("nd2"))
      .withColumn("v1", (col("nd1") * col("sxx1") - col("sx1") * col("sx1"))
        / (col("nd1") * (col("nd1") - lit(1.0))))
      .withColumn("v2", (col("nd2") * col("sxx2") - col("sx2") * col("sx2"))
        / (col("nd2") * (col("nd2") - lit(1.0))))
      .withColumn("se2", col("v1") / col("nd1") + col("v2") / col("nd2"))
      .select(
        (col("nd1") + coalesce(col("chk").cast(DoubleType), lit(0.0)))
          .cast(LongType).as("n_a"),
        col("nd2").cast(LongType).as("n_b"),
        (round(col("m1") - col("m2"), 6) + lit(0.0)).as("mean_diff"),
        (round((col("m1") - col("m2")) / sqrt(col("se2")), 6) + lit(0.0)).as("t_stat"),
        (round(col("se2") * col("se2")
          / ((col("v1") / col("nd1")) * (col("v1") / col("nd1")) / (col("nd1") - lit(1.0))
           + (col("v2") / col("nd2")) * (col("v2") / col("nd2")) / (col("nd2") - lit(1.0))), 2)
          + lit(0.0)).as("df_welch"))
  }

  /** Per-node triangle participation — graph_triangles' construction
    * over an arbitrary edge list: symmetrize to canonical u<v pairs
    * (self-loops dropped), enumerate a<b<c via the two-hop equality
    * joins (each triangle once), explode to corners. Returns
    * (node, n_triangles) for nodes in ≥1 triangle — left-join onto the
    * vertex set for zero rows. Edge list localCheckpointed once (three
    * references). */
  def triangleCounts(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val ue = edges.select(src.as("tc_s"), dst.as("tc_d"))
      .filter(col("tc_s") =!= col("tc_d"))
      .select(least(col("tc_s"), col("tc_d")).as("u"),
              greatest(col("tc_s"), col("tc_d")).as("v"))
      .distinct()
      .localCheckpoint()
    ue.select(col("u").as("a"), col("v").as("b"))
      .join(ue.select(col("u").as("b2"), col("v").as("c")), col("b") === col("b2"))
      .join(ue.select(col("u").as("a2"), col("v").as("c2")),
        col("a") === col("a2") && col("c") === col("c2"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Blocked fuzzy entity canonicalization — join_fuzzy_blocked's
    * construction over caller columns: every entity resolves to the
    * minimum id among its Levenshtein ≤ `maxDist` name-neighbors (self
    * included) plus the count of distinct non-self neighbors, with the
    * candidate product bounded by the (name tail-token, ⌊len/band⌋
    * length band) blocking key. Each row is replicated into its
    * ⌊len/band⌋ and ⌊(len+maxDist)/band⌋ buckets (≤ 2), which by floor
    * monotonicity guarantees any pair with |Δlen| ≤ maxDist — a
    * Levenshtein-≤-maxDist necessary condition — shares a bucket, so
    * length can never cost recall; tail-token recall is the blocking
    * assumption the caller accepts (LawsSpec measures it exact on the
    * fixtures). `band` must be > maxDist/3-ish for bucket selectivity;
    * the default mirrors the declared query (band 3, maxDist 2).
    * Returns (id, canon_id, n_fuzzy) — one row PER ENTITY, never a
    * pair list, so output stays linear at 100 TB. */
  def fuzzyCanonicalize(df: DataFrame, id: Column, name: Column,
                        maxDist: Int = 2, band: Int = 3): DataFrame = {
    require(maxDist >= 0 && band >= 1,
      s"fuzzyCanonicalize: need maxDist >= 0 and band >= 1, got $maxDist/$band")
    val rows = df.select(id.as("fz_id"), name.as("fz_nm"))
    // the match relation is a pure function of the name: collapse to
    // the DISTINCT-name vocabulary before the quadratic verify (row²
    // → vocab² Levenshtein evals), rejoin rows at the end
    val names = rows.groupBy(col("fz_nm"))
      .agg(min(col("fz_id")).as("fz_gmin"), count(lit(1)).as("fz_gcnt"))
    val banded = names
      .select(col("fz_nm"),
        element_at(split(col("fz_nm"), " "), -1).as("fz_lw"),
        length(col("fz_nm")).as("fz_len"))
      .select(col("fz_nm"), col("fz_lw"),
        explode(array_distinct(array(
          expr(s"fz_len div $band"),
          expr(s"(fz_len + $maxDist) div $band")))).as("fz_band"))
    val cand = banded.select(col("fz_nm").as("na"), col("fz_lw"), col("fz_band"))
      .join(banded.select(col("fz_nm").as("nb"), col("fz_lw"), col("fz_band")),
        Seq("fz_lw", "fz_band"))
      .filter(levenshtein(col("na"), col("nb")) <= maxDist)
      .select(col("na"), col("nb")).distinct()
    val resolved = cand
      .join(names.select(col("fz_nm").as("nb"), col("fz_gmin"), col("fz_gcnt")), "nb")
      .groupBy(col("na"))
      .agg(min(col("fz_gmin")).as("canon_id"), sum(col("fz_gcnt")).as("fz_n"))
    rows.join(resolved, rows("fz_nm") === resolved("na"))
      .select(col("fz_id").as("id"), col("canon_id"),
        (col("fz_n") - 1L).as("n_fuzzy"))
  }

  /** C4-style span-level exact dedup over caller columns —
    * text_dedup_span's construction: documents split into
    * non-overlapping `spanTokens`-token spans, a span occurrence
    * survives iff it is the corpus-wide first occurrence of its text
    * ("first" = min (id, span_id)). Returns per doc (id, n_spans,
    * n_kept, clean_text) with clean_text the ordered rejoin of
    * surviving spans. The survivor pick is ONE md5-digest min-struct
    * groupBy — the shuffle carries digests, never span text, so the
    * operator is corpus-size-bound only in fixed-width keys. */
  def spanDedup(df: DataFrame, id: Column, text: Column,
                spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 1, s"spanDedup: spanTokens >= 1, got $spanTokens")
    val spans = df.select(id.as("sd_id"), text.as("sd_tx"))
      .filter(length(col("sd_tx")) >= 1)
      .select(col("sd_id"), split(col("sd_tx"), " ").as("tk"))
      .select(col("sd_id"),
        explode(expr(s"sequence(0, (size(tk)-1) div $spanTokens)")).as("i"),
        col("tk"))
      .select(col("sd_id"), col("i").cast(LongType).as("span_id"),
        expr(s"array_join(slice(tk, i*$spanTokens + 1, $spanTokens), ' ')").as("span"))
    val firsts = spans
      .groupBy(md5(col("span")).as("dig"))
      .agg(min(struct(col("sd_id"), col("span_id"))).as("f"))
      .select(col("dig"), col("f.sd_id").as("f_id"), col("f.span_id").as("f_span"))
    spans.join(firsts, md5(col("span")) === col("dig"))
      .withColumn("kept",
        col("sd_id") === col("f_id") && col("span_id") === col("f_span"))
      .groupBy(col("sd_id").as("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN kept THEN struct(span_id, span) END)), x -> x.span)"),
          " ").as("clean_text"))
  }

  /** Unaligned exact substring-level dedup over caller columns — the
    * text_dedup_substring operator (Lee et al. 2021 EXACTSUBSTR,
    * distributed via the sliding-shingle identity) exposed on any
    * (id, text) DataFrame: per doc the sliding-`k`-token duplicated
    * window counts, the token-position cover of all corpus-repeated
    * substrings, and the longest shared run. DELEGATES to the declared
    * rung's core (the dedup_url posture: the API helper and the rung
    * cannot drift); see operators/Curation.substringDedupOn for the
    * algorithm and the 100 TB shape. Docs shorter than k tokens emit
    * no row (they carry no full window to test). */
  def substringDedup(df: DataFrame, id: Column, text: Column,
                     k: Int = 10): DataFrame = {
    require(k >= 1, s"substringDedup: window length k >= 1, got $k")
    graft.operators.Curation
      .substringDedupOn(df.select(id.as("doc_id"), text.as("text")), k)
      .withColumnRenamed("doc_id", "id")
  }

  /** C4-style line-level boilerplate gate over a page column — the
    * text_boilerplate rung's rule set (Raffel et al. 2020 §2.2) as a
    * reusable pure row function: split `page` on newlines, keep a line
    * iff it ends in terminal punctuation, has >= 3 words, and contains
    * neither 'javascript' (case-insensitive) nor a curly brace; return
    * struct(n_lines, n_kept, clean_text) with clean_text the kept
    * lines rejoined in order. One codegen-stage array HOF chain —
    * zero shuffle, a scan at any scale. The declared rung applies THIS
    * function (no-drift posture). */
  def boilerplateClean(page: Column): Column = {
    val lines = split(page, "\n")
    val kept = filter(lines, x =>
      x.rlike("[.!?\"]$") &&
        size(split(trim(x), " ")) >= 3 &&
        !lower(x).contains("javascript") &&
        !x.contains("{"))
    struct(
      size(lines).cast(LongType).as("n_lines"),
      size(kept).cast(LongType).as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** CLIP-score image-text alignment gate over caller DataFrames —
    * multimodal_clip_filter's construction (the LAION/DataComp curation
    * step: keep a pair iff cosine(text features, image embedding) > tau).
    * The text tower is the 64-bucket hashed bag-of-tokens; embedding
    * values are quantized to integer micros per dimension BEFORE any sum,
    * so the dot product and both norms are order-free int64 folds and the
    * tau gate compares the same double on every engine and partitioning.
    * Returns per paired doc (id, clip_score [6 dp], kept). Scale: one
    * token explode with map-side count combine, the embedding posexploded
    * to 16-byte (id, dim, value) rows for the bucket join — never a
    * per-bucket copy of the float array; no all-pairs anywhere. */
  def clipFilter(docs: DataFrame, id: Column, text: Column,
                 embeds: DataFrame, embId: Column, embedding: Column,
                 tau: Double = 0.01): DataFrame =
    graft.operators.LlmVector.clipAlignmentOn(
        docs.select(id.as("doc_id"), text.as("text")),
        embeds.select(embId.as("vec_id"), embedding.as("embedding")))
      .select(col("doc_id").as("id"),
        (round(col("sraw"), 6) + lit(0.0)).as("clip_score"),
        (col("sraw") > tau).as("kept"))

  /** Benchmark decontamination over caller DataFrames —
    * text_decontaminate's construction: a train doc is contaminated iff
    * any of its sliding `n`-token shingles appears verbatim in the eval
    * corpus. Returns per train doc (id, n_shingles, n_hits,
    * contaminated); train docs shorter than n tokens emit no row (they
    * carry no full shingle to test). The eval shingle digest set is
    * distinct'd and BROADCAST — benchmarks are MBs while the corpus is
    * TBs — so the train side sees one broadcast equality join plus one
    * groupBy(id); drop the hint if the eval corpus outgrows broadcast. */
  def decontaminate(train: DataFrame, trainId: Column, trainText: Column,
                    eval: DataFrame, evalText: Column,
                    n: Int = 8): DataFrame = {
    require(n >= 1, s"decontaminate: shingle length n >= 1, got $n")
    def shingles(df: DataFrame, idOpt: Option[Column], text: Column) = {
      val base = idOpt match {
        case Some(i) => df.select(i.as("dc_id"), text.as("dc_tx"))
        case None    => df.select(text.as("dc_tx"))
      }
      // rebind by NAME after the first select — the caller's Column
      // expressions are only resolvable against the original frame
      val keep = idOpt.map(_ => col("dc_id")).toSeq
      // round-19 opt: fused shingle_md5s kernel (value-identical to the
      // per-window md5(array_join(slice(...))) transform, pinned in
      // TextSigSpec) — the former HOF built every shingle string
      // interpreted. < n tokens yields an empty array (the old
      // size(tk) ≥ n guard); the length ≥ 1 filter stays for the n = 1
      // edge, where the empty string is one (empty) token.
      base.filter(length(col("dc_tx")) >= 1)
        .select(keep :+ explode(
          graft.functions.GraftFunctions.shingleMd5s(col("dc_tx"), n))
          .as("dig"): _*)
    }
    val ev = shingles(eval, None, evalText).select(col("dig")).distinct()
    shingles(train, Some(trainId), trainText)
      .join(broadcast(ev.withColumn("hit", lit(1L))), Seq("dig"), "left")
      .groupBy(col("dc_id").as("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0L)
  }

  /** Exact column profile — profile_columns over caller columns: per
    * column, row count, null count, exact distinct count. round-19 opt:
    * one union branch per column (a single-distinct aggregate plans
    * WITHOUT Catalyst's Expand — no |cols|× fan-out of the full-width
    * row; each branch scans only its own column and all branches run in
    * one job). At 100 TB swap countDistinct for approx_count_distinct
    * and even the per-column value shuffle disappears. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    cols.map { c =>
      df.agg(count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"))
    }.reduce(_ unionAll _)
  }

  /** Temperature-scaled mixture weights — sample_temperature over
    * caller groups: per group, its realized weight share and the
    * P ∝ share^(1/T) sampling weight (T > 1 flattens toward uniform).
    * The libm power is rounded to 6 dp then micro-quantized to int64
    * BEFORE the normalizer sum so the Σ fold is order-insensitive; the
    * group table is localCheckpointed (it feeds three branches — one
    * corpus pass total). */
  def temperatureWeights(df: DataFrame, group: Column, weight: Column,
                         temperature: Double): DataFrame = {
    require(temperature > 0.0, s"temperatureWeights: T=$temperature must be > 0")
    val perG = df.select(group.as("group"), weight.as("w"))
      .groupBy(col("group")).agg(sum(col("w")).cast("double").as("gw"))
      .localCheckpoint()
    val tot = perG.agg(sum(col("gw")).as("tot"))
    val scored = perG.crossJoin(broadcast(tot))
      .withColumn("share", col("gw") / col("tot"))
      .withColumn("qi",
        floor(round(pow(col("share"), lit(1.0 / temperature)), 6) * 1e6
          + lit(0.5)).cast("long"))
    scored.crossJoin(broadcast(scored.agg(sum(col("qi")).as("z"))))
      .select(col("group"), round(col("share"), 6).as("share"),
        round(col("qi").cast("double") / col("z"), 6).as("temp_weight"))
  }

  /** Exact prefix-budget cutoff — sample_token_budget over caller
    * columns: every row gains its running total (in `ord` order) and a
    * kept flag (cum ≤ budget). The prefix sum is DISTRIBUTED: per-bucket
    * totals → tiny bucket-offset window → broadcast join + within-bucket
    * running sum — no global single-partition window at any size. `ord`
    * must be unique, NON-NEGATIVE, and bucketizable by division (an id
    * column) — enforced per row: a negative id raises instead of
    * silently collapsing out-of-order into bucket 0. Bucketing uses
    * true integer division (`div`), not the long/long `/` that routes
    * through DOUBLE and loses exactness above 2^53. */
  def prefixBudgetKeep(df: DataFrame, ord: Column, amount: Column,
                       budget: Long, bucketWidth: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0, "prefixBudgetKeep: bucketWidth must be > 0")
    val rows = df.select(ord.as("ord"), amount.cast("long").as("amt"))
      .withColumn("bkt",
        when(assert_true(col("ord") >= 0,
          lit("prefixBudgetKeep: ord must be >= 0")).isNull,
          expr(s"ord div ${bucketWidth}L")))
      .localCheckpoint()
    val offsets = rows.groupBy(col("bkt")).agg(sum(col("amt")).as("bt"))
      .withColumn("off",
        coalesce(sum(col("bt")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    rows
      .withColumn("run",
        sum(col("amt")).over(Window.partitionBy(col("bkt"))
          .orderBy(col("ord"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("bkt"))
      .select(col("ord"), col("amt"), (col("off") + col("run")).as("cum"),
        (col("off") + col("run") <= lit(budget)).as("kept"))
  }

  /** Regex PII redaction — text_pii_scan's redaction half as a pure
    * column function (one codegen stage, no shuffle): masks email and
    * NANP-555 phone patterns. Patterns stay in the POSIX-safe subset
    * every mainstream regex engine parses identically. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-z0-9]+@[a-z0-9]+\\.[a-z]+", "[email]"),
      "555-[0-9]{4}", "[phone]")

  /** Per-document keyword tagging over caller DataFrames —
    * text_keyword_extract's construction: top-`k` whitespace tokens by
    * tf·idf (idf = ln((N+1)/(df+1))), rejoined rank-ordered into one
    * `keywords` string per doc. Shapes are the 100 TB ones: per-doc tf
    * groupBy, vocabulary-sized df table BROADCAST (vocabularies are
    * MBs while corpora are TBs), 1-row corpus count broadcast, and the
    * rank window partitions by doc — never a global sort. Returns
    * (id, keywords); docs whose text is empty emit no row (no tokens
    * to rank). */
  def keywordExtract(df: DataFrame, id: Column, text: Column,
                     k: Int = 3): DataFrame = {
    require(k >= 1, s"keywordExtract: k >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ke_id")).orderBy(col("tfidf").desc, col("tok"))
    val base = df.select(id.as("ke_id"), text.as("ke_tx"))
    val n = base.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = base
      .select(col("ke_id"), explode(split(col("ke_tx"), " ")).as("tok"))
      .groupBy(col("ke_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log((col("n_docs") + 1.0) / (col("df").cast("double") + 1.0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("ke_id").as("id"))
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(rn, tok))), x -> x.tok)"), " ")
        .as("keywords"))
  }

  /** CCNet-style quality bucketing over caller DataFrames —
    * text_quality_bucket's construction: every doc scored by the mean
    * corpus-unigram logprob of its tokens, then split into `buckets`
    * equal ntiles over the fully tie-broken order (score DESC, id ASC).
    * Returns (id, mean_logprob, bucket_idx, bucket) — bucket is the
    * CCNet head/middle/tail naming when buckets == 3, else "q<i>".
    * The vocabulary table is localCheckpointed (corpus total + broadcast
    * both read the |V|-row table, not the token stream). Scale note
    * (from the rung): the global ntile sorts ~16 B/doc score rows; past
    * that, replace it with broadcast approx_percentile cutpoints —
    * same output modulo boundary ties, no global sort. */
  def qualityBuckets(df: DataFrame, id: Column, text: Column,
                     buckets: Int = 3): DataFrame = {
    require(buckets >= 2, s"qualityBuckets: buckets >= 2, got $buckets")
    val t = df.select(id.as("qb_id"), explode(split(text, " ")).as("tok"))
    val tf = t.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val n = tf.agg(sum(col("tf")).cast("double").as("n_tok"))
    val score = t.join(broadcast(tf), "tok")
      .crossJoin(broadcast(n))
      .withColumn("lp", log(col("tf") / col("n_tok")))
      .groupBy(col("qb_id"))
      .agg(round(sum(col("lp")) / count(lit(1)), 6).as("mean_logprob"))
    val labeled = score.withColumn("bucket_idx",
      ntile(buckets).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("mean_logprob").desc, col("qb_id").asc)))
    val name =
      if (buckets == 3)
        when(col("bucket_idx") === 1, "head")
          .when(col("bucket_idx") === 2, "middle").otherwise("tail")
      else concat(lit("q"), col("bucket_idx"))
    labeled.select(col("qb_id").as("id"), col("mean_logprob"),
      col("bucket_idx"), name.as("bucket"))
  }

  /** Class-balanced downsampling — sample_balanced over arbitrary
    * (id, stratum) columns: every stratum cut to the minority stratum's
    * size, keeping the k smallest-md5-rank ids (the reservoir
    * construction with k = broadcast min(stratum count) derived from
    * the data). Membership is a pure function of the stratum's id set —
    * deterministic under any partitioning, reproducible on any engine.
    * Returns (stratum, id). */
  def balancedKeep(df: DataFrame, id: Column, stratum: Column): DataFrame = {
    val base = df.select(id.as("bid"), stratum.as("stratum"))
    val kMin = base.groupBy(col("stratum")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(md5(col("bid").cast(StringType)).asc, col("bid").asc)
    base.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(kMin))
      .filter(col("rn") <= col("k"))
      .select(col("stratum"), col("bid").as("id"))
  }

  /** Exact integer division as a Column (`a div b`) — `/` on Columns
    * routes through DOUBLE (inexact above 2⁵³; the prefixBudgetKeep
    * lesson), so every integer-exact recipe here calls the engine's
    * integral divide instead. */
  private def idiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** Affine-normalized 32-bit Morton z-value of two nonnegative integer
    * keys — sink_zorder's curve math over arbitrary columns: each key
    * is mapped into [0, 2¹⁶) by the exact integer (k·65536) div hi
    * (hi = domain max + 1, typically a broadcast max(k)+1), then
    * bit-interleaved (x on even positions) with the classic 4-step
    * magic-mask ladder. All int64 bit ops — bit-identical on any
    * engine or partitioning. Range-partition + sort by this column and
    * every output file boxes BOTH keys, so predicates on either skip
    * files and row groups (the multi-dimensional zone-map layout). */
  def mortonZ(x: Column, xHi: Column, y: Column, yHi: Column): Column = {
    def spread(c: Column): Column = {
      val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(16711935L))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(252645135L))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(858993459L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(1431655765L))
    }
    def norm(k: Column, hi: Column): Column =
      idiv(k.cast(LongType) * lit(65536L), hi.cast(LongType))
        .bitwiseAND(lit(65535L))
    spread(norm(x, xHi)).bitwiseOR(shiftleft(spread(norm(y, yHi)), 1))
  }

  /** RFM quintile segmentation — events_rfm over an arbitrary event
    * log: recency in `recencyUnit` ticks of the exact-integer event
    * time (int64 subtraction + integral divide, never float), total
    * event count, exact-DECIMAL sum of `value` over rows matching
    * `isMonetary`; ntile(5) scores on fully tie-broken orders (the
    * DECIMAL — not a rounded double — is the monetary sort key), and
    * the concatenated "RFM" digit segment. Returns (user_id, r_units,
    * frequency, monetary, r_score, f_score, m_score, segment). Scale
    * shape: one map-side-combining groupBy(user) before three
    * |users|-row global windows (text_quality_bucket's posture — past
    * ~10⁹ users swap the ntiles for broadcast approx_percentile
    * cutpoints). */
  def rfmSegments(df: DataFrame, user: Column, ts: Column, value: Column,
                  isMonetary: Column,
                  recencyUnit: Long = 3600000000000L): DataFrame = {
    require(recencyUnit >= 1L, s"rfmSegments: recencyUnit >= 1, got $recencyUnit")
    val per = df.groupBy(user.as("user_id"))
      .agg(max(ts).as("last_ts"),
           count(lit(1)).as("frequency"),
           sum(when(isMonetary, value.cast(DecimalType(18, 6)))
               .otherwise(lit(0).cast(DecimalType(18, 6)))).as("mon_dec"))
    val mx = df.agg(max(ts).as("max_ts")) // broadcast 1-row total
    val w = org.apache.spark.sql.expressions.Window
    val wR = w.orderBy(col("r_units").asc, col("user_id").asc)
    val wF = w.orderBy(col("frequency").desc, col("user_id").asc)
    val wM = w.orderBy(col("mon_dec").desc, col("user_id").asc)
    per.crossJoin(broadcast(mx))
      .select(col("user_id"),
        idiv(col("max_ts") - col("last_ts"), lit(recencyUnit)).as("r_units"),
        col("frequency"), col("mon_dec"))
      .withColumn("r_score", ntile(5).over(wR).cast(LongType))
      .withColumn("f_score", ntile(5).over(wF).cast(LongType))
      .withColumn("m_score", ntile(5).over(wM).cast(LongType))
      .select(col("user_id"), col("r_units"), col("frequency"),
        round(col("mon_dec").cast(DoubleType), 4).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast(StringType), col("f_score").cast(StringType),
               col("m_score").cast(StringType)).as("segment"))
  }

  /** Robust dispersion profile — agg_mad over an arbitrary numeric
    * column: per group the exact interpolated median, the median
    * absolute deviation, and the count past the Hampel gate
    * dev > `gate`·mad (default 4.4478 = 3·1.4826, the 3σ-equivalent).
    * Returns (g, n, median, mad, n_outliers). The raw (unrounded)
    * median/mad feed the math; rounding is output-only. Two extra
    * key-partitioned passes over a localCheckpointed 3-column dev
    * table; at 100 TB swap percentile → approx_percentile, same plan
    * shape. */
  def madStats(df: DataFrame, group: Column, x: Column,
               gate: Double = 4.4478): DataFrame = {
    val base = df.select(group.as("g"), x.as("mx"))
    val med = base.groupBy(col("g")).agg(expr("percentile(mx, 0.5)").as("med"))
    val dv = base.join(broadcast(med), "g")
      .select(col("g"), col("med"), abs(col("mx") - col("med")).as("dev"))
      .localCheckpoint()
    val mad = dv.groupBy(col("g")).agg(expr("percentile(dev, 0.5)").as("mad"))
    dv.join(broadcast(mad), "g")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
           (round(max(col("med")), 6) + lit(0.0)).as("median"),
           (round(max(col("mad")), 6) + lit(0.0)).as("mad"),
           sum(when(col("dev") > lit(gate) * col("mad"), 1L).otherwise(0L))
             .as("n_outliers"))
  }

  /** Canonical URL form — dedup_url's rule chain over a caller URL
    * column: strip #fragment → strip every utm_* tracking pair
    * individually (any value charset — digits, uppercase, hyphens,
    * percent-escapes — and MIXED queries like `?id=3&utm_source=x`
    * keep their non-tracking params; a query emptied entirely loses
    * its `?`) → strip one trailing slash → lowercase scheme+host
    * (path case is PRESERVED — it is semantic on real servers). Each
    * rule is a regexp row function; the whole chain is one codegen
    * stage. The strip runs in three anchored passes so no separator
    * re-anchoring GUESS is ever needed: (1) every `&utm_...=...` pair
    * (these can only be non-leading query params), (2) a leading
    * `?utm_...=...&` collapses to `?` (a non-tracking param follows),
    * (3) a remaining `?utm_...=...` at end-of-string drops with its
    * `?`. A literal `&` in the path or userinfo is untouched — the
    * old single-pass spelling re-anchored the FIRST `&` before any
    * `?` and corrupted such URLs. Known pattern-level limit (inherent
    * to regex canonicalization, no full URL parser): a path SEGMENT
    * that itself spells `&utm_x=...` is indistinguishable from a
    * query pair and gets stripped. */
  def urlCanonicalize(url: Column): Column = {
    val c1 = regexp_replace(url, "#.*$", "")
    val s1 = regexp_replace(c1, "&utm_[A-Za-z0-9_]*=[^&#]*", "")
    val s2 = regexp_replace(s1, "\\?utm_[A-Za-z0-9_]*=[^&#]*&", "?")
    // trailing-separator aliases: a '&' run ending an actual QUERY (a
    // kept-param query whose stripped trailing utm pair carried its
    // own separator, '?id=1&utm_a=x&' → '?id=1&', or a raw '?a=1&&')
    // collapses onto the separator-less alias — anchored to a
    // preceding '?' so a literal '&' ending a query-LESS path
    // ('https://h.com/p&', a distinct resource) is never rewritten;
    // then a bare trailing '?' (utm-only query that ended in '&', or
    // a no-query '?' alias) drops
    val c2 = regexp_replace(
      regexp_replace(
        regexp_replace(s2, "\\?utm_[A-Za-z0-9_]*=[^&#]*$", ""),
        "(\\?[^#]*?)&+$", "$1"),
      "\\?$", "")
    val c3 = regexp_replace(c2, "/$", "")
    concat(lower(regexp_extract(c3, "^([a-zA-Z]+://[^/]+)", 1)),
           regexp_replace(c3, "^[a-zA-Z]+://[^/]+", ""))
  }

  /** URL-canonicalization dedup — dedup_url over caller columns: one
    * row per canonical URL with `(n_dups, survivor = min id)`. The
    * cheap first dedup pass of a web-corpus pipeline (collapse
    * re-crawls before any content hashing): a scan plus ONE
    * map-side-combining groupBy(canonical); zero joins, zero
    * windows. */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame =
    df.select(id.as("ud_id"), urlCanonicalize(url).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("ud_id")).as("survivor"))

  /** Exact distinct counts via mergeable fixed-width bitmaps —
    * agg_bitmap_distinct over caller columns: `(g, n_distinct)` per
    * group, exact, with the shuffle carrying (group, bucket, ≤4 KB
    * bitmap) rows bounded by the KEY RANGE instead of every raw
    * distinct key. `key` must be a non-negative integer column (ids,
    * hashes); it is shifted 1-based internally because the engine's
    * bitmap position functions are defined on positive inputs. The
    * contract is ENFORCED row-level (the require() posture of
    * blocklistHits, pushed into the scan stage since the violation is
    * data-dependent): a NULL or negative key raises with the offending
    * value rather than silently flowing into bitmap_bucket_number /
    * bitmap_bit_position and corrupting counts. */
  def bitmapDistinct(df: DataFrame, group: Column, key: Column): DataFrame = {
    val k = key.cast(LongType)
    val checked = when(k.isNull || k < 0L,
      raise_error(concat(
        lit("graft.bitmapDistinct: key must be a non-negative integer, got "),
        coalesce(k.cast("string"), lit("NULL"))))
        .cast(LongType))
      .otherwise(k)
    val perBucket = df
      .select(group.as("g"), (checked + lit(1L)).as("bd_k"))
      .select(col("g"),
        expr("bitmap_bucket_number(bd_k)").as("bucket"),
        expr("bitmap_bit_position(bd_k)").as("pos"))
      .groupBy(col("g"), col("bucket"))
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    perBucket.groupBy(col("g"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
  }

  /** Token-exact blocklist hit count — text_blocklist's gate over a
    * caller text column and word list: the C4 banned-word rule counts
    * whole-token matches (never substrings — the recipe's classic
    * false-positive fix); gate on `=== 0` for the C4 any-hit drop.
    * Pure row function, single codegen stage. */
  def blocklistHits(text: Column, banned: Seq[String]): Column = {
    require(banned.nonEmpty, "blocklistHits: banned list must be non-empty")
    // round-19 opt: fused kernel, value-identical to
    // size(filter(split(text, " "), t => t.isin(banned: _*))) (pinned
    // in TextSigSpec) with no token array and no interpreted lambda
    graft.functions.GraftFunctions.tokHits(text, banned)
  }

  /** Epoch-weighted oversampling — sample_epochs' materialization over
    * caller columns: each row emits ⌊factor⌋ full copies plus a
    * deterministic all-integer Bernoulli extra with P = frac(factor)
    * (u48 of a salted md5 vs frac·2^48 — pass the threshold as the
    * precomputed integer `fracThreshold` = round(frac·2^48) so no
    * float boundary exists at runtime). Returns the exploded
    * (original columns + copy_id) rows — the corpus the mix actually
    * trains on. The copies ≥ 1 guard is load-bearing: Spark's
    * sequence(1, 0) is the DESCENDING [1, 0], not an empty array. */
  def epochOversample(df: DataFrame, id: Column, wholeEpochs: Column,
                      fracThreshold: Column, salt: String = ":ep"): DataFrame =
    df.withColumn("eo_u48",
        conv(substring(md5(concat(id.cast(StringType), lit(salt))), 1, 12), 16, 10)
          .cast(LongType))
      .withColumn("eo_copies",
        wholeEpochs.cast(LongType)
          + when(fracThreshold > 0L,
              when(col("eo_u48") < fracThreshold, 1L).otherwise(0L))
            .otherwise(0L))
      .filter(col("eo_copies") >= 1L)
      .withColumn("copy_id", explode(expr("sequence(1, eo_copies)")))
      .drop("eo_u48", "eo_copies")

  /** Maximal-Marginal-Relevance selection — sim_mmr's greedy loop
    * generalized to any k over a caller-scored candidate pool: rows
    * (qid, cid, rel, vec) where `rel` is the query-relevance score and
    * `vec` the candidate embedding (at scale the pool is an ANN probe's
    * top-N, never the corpus). Round 1 picks pure argmax rel; round
    * i ≥ 2 picks argmax round(λ·rel − (1−λ)·pen, 9) where pen is the
    * running max 9-dp-rounded cosine to everything already selected.
    * Ties break on the smaller cid (max(struct(score, −cid)) fold), so
    * the greedy path is partitioning-exact; each round is a |q|-row
    * argmax + one small join over the localCheckpointed pool — no
    * rescan of the source. λ must be a literal the caller also uses
    * everywhere else (see sim_mmr's 0.7/0.3 note). Returns
    * (qid, rank, cid, score) for rank 1..k.
    *
    * SHORT-POOL CONTRACT: a qid whose candidate pool holds fewer than
    * k rows yields fewer than k ranks — once its remaining set is
    * empty the per-round argmax simply produces no row for it (no
    * error, no padding), exactly like a SQL `LIMIT k` over a short
    * table. Callers that require exactly k rows per qid must validate
    * pool sizes up front (`pool.groupBy(qid).count()`) or treat the
    * emitted rank column as authoritative. Enforcing a minimum here
    * would force a full extra pass over the pool before round 1, so
    * the check is deliberately left to the caller. */
  def mmrSelect(pool: DataFrame, qid: Column, cid: Column, rel: Column,
                vec: Column, k: Int, lambda: Double = 0.7,
                oneMinusLambda: Double = 0.3): DataFrame = {
    require(k >= 1, s"mmrSelect: k >= 1, got $k")
    def argmax(df: DataFrame, score: String) =
      df.groupBy(col("mq"))
        .agg(max(struct(col(score), (-col("mc")).as("nc"))).as("mx"))
        .select(col("mq"), (-col("mx.nc")).as("sel"),
          col("mx").getField(score).as("sc"))
    def cos(a: Column, b: Column): Column = {
      def dot(x: Column, y: Column) =
        aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
          lit(0.0), (acc, v) => acc + v)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    var remaining = pool
      .select(qid.as("mq"), cid.as("mc"), rel.as("mr"), vec.as("mv"))
      .withColumn("score", col("mr"))
      .localCheckpoint()
    var out: DataFrame = null
    for (rank <- 1 to k) {
      val s = argmax(remaining, "score")
      val row = s.select(col("mq").as("qid"), lit(rank.toLong).as("rank"),
        col("sel").as("cid"), (round(col("sc"), 6) + lit(0.0)).as("score"))
      out = if (out == null) row else out.unionByName(row)
      if (rank < k) {
        val se = s.join(remaining.select(col("mq").as("jq"), col("mc").as("jc"),
            col("mv").as("sv")),
          s("mq") === col("jq") && s("sel") === col("jc"))
          .select(col("jq"), col("sel"), col("sv"))
        remaining = remaining
          .join(broadcast(se), remaining("mq") === se("jq"))
          .filter(col("mc") =!= col("sel"))
          .select(col("mq"), col("mc"), col("mr"), col("mv"),
            (if (rank == 1) round(cos(col("mv"), col("sv")), 9)
             else greatest(col("pen"), round(cos(col("mv"), col("sv")), 9)))
              .as("pen"))
          .withColumn("score", round(lit(lambda) * col("mr")
            - lit(oneMinusLambda) * col("pen"), 9))
          .localCheckpoint()
      }
    }
    out
  }

  /** Per-node clustering coefficient — graph_clustering over caller
    * edge columns: `(node, deg, n_triangles, cc)` with cc = 2·T/(deg·
    * (deg−1)) on the undirected distinct graph, 0 for deg ≤ 1. Shares
    * [[triangleCounts]]' exact enumeration; every join touches only
    * the deduplicated edge table (localCheckpointed once — degree and
    * both wedge sides re-read it). */
  def clusteringCoefficient(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val ue = edges.select(src.as("cc_s"), dst.as("cc_d"))
      .filter(col("cc_s") =!= col("cc_d"))
      .select(least(col("cc_s"), col("cc_d")).as("u"),
              greatest(col("cc_s"), col("cc_d")).as("v"))
      .distinct()
      .localCheckpoint()
    val deg = ue.select(col("u").as("node"))
      .union(ue.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = ue.select(col("u").as("a"), col("v").as("b"))
      .join(ue.select(col("u").as("b2"), col("v").as("c")), col("b") === col("b2"))
      .join(ue.select(col("u").as("a2"), col("v").as("c2")),
        col("a") === col("a2") && col("c") === col("c2"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc",
        when(col("deg") >= 2L,
          round(lit(2.0) * col("n_triangles").cast(DoubleType)
                / (col("deg") * (col("deg") - 1L)).cast(DoubleType), 6) + lit(0.0))
          .otherwise(lit(0.0)))
  }

  /** 1-bit sign binarization of an embedding column — embed_binarize's
    * construction over a caller vector: bit i set iff dim i is >= 0,
    * packed into two 32-dim int64 halves (code_hi = dims 33-64,
    * code_lo = dims 1-32; one 64-bit word would need the sign bit and
    * engines disagree on signed overflow). Returns
    * struct(code_hi, code_lo, n_pos). Unrolled literal sums, not
    * aggregate() HOFs, so the packing stays inside whole-stage codegen
    * and rides the scan: the 64x index-compression step costs nothing
    * extra at 100 TB. Dims beyond 64 are ignored; vectors SHORTER than
    * 64 dims degrade gracefully — missing dims contribute a 0 bit (as
    * if negative), guarded with a size() check per bit so ANSI mode
    * never raises INVALID_ARRAY_INDEX (round-13 advice fix; the guard
    * is a constant-foldable comparison, still codegen'd). */
  def signBinarize(vec: Column): Column = {
    def bit(i: Int): Column =
      when(size(vec) > i && element_at(vec, i + 1) >= 0.0, lit(1L))
        .otherwise(lit(0L))
    def pack(off: Int): Column = (0 until 32)
      .map(i => bit(i + off) * lit(1L << i))
      .reduce(_ + _)
    val nPos = (0 until 64).map(bit).reduce(_ + _)
    struct(pack(32).as("code_hi"), pack(0).as("code_lo"), nPos.as("n_pos"))
  }

  /** 64-bit Hamming distance between two packed sign codes (the
    * signBinarize halves) — two XOR+POPCNT ops, the sim_knn_hamming /
    * sim_knn_rerank first-pass distance. */
  def hammingDistance(hiA: Column, loA: Column,
                      hiB: Column, loB: Column): Column =
    (bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB)))
      .cast(LongType)

  /** Flesch reading-ease over a page string — text_readability's scoring
    * half for caller pages that HAVE sentence punctuation (the declared
    * rung synthesizes boundaries first because the fixture has none):
    * words = whitespace tokens, sentences = max(1, runs of [.!?]+),
    * syllables = vowel groups with the standard >= 1-per-word floor.
    * Words split on runs of ANY whitespace (`\s+`) with empty tokens
    * dropped, so tab/newline/multi-space pages count words correctly —
    * unlike the declared rung, whose fixture contract is single-space
    * text (round-13 advice fix). Returns struct(n_words, n_sentences,
    * n_syllables, flesch) where flesch is the raw double (callers gate
    * on it; round only for display). Pure row functions — rides the
    * ingest scan. */
  def fleschReadingEase(page: Column): Column = {
    val words = filter(split(page, "\\s+"), w => length(w) > 0)
    val nWords = size(words).cast(LongType)
    val nSents = greatest(lit(1L),
      size(regexp_extract_all(page, lit("[.!?]+"), lit(0))).cast(LongType))
    val nSyl = (size(regexp_extract_all(lower(page), lit("[aeiouy]+"), lit(0)))
      .cast(LongType)
      + size(filter(transform(words, w => lower(w)),
          w => !w.rlike("[aeiouy]"))).cast(LongType))
    struct(nWords.as("n_words"), nSents.as("n_sentences"),
      nSyl.as("n_syllables"),
      (lit(206.835)
        - lit(1.015) * (nWords.cast(DoubleType) / nSents)
        - lit(84.6) * (nSyl.cast(DoubleType) / nWords)).as("flesch"))
  }
}
