package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.I (vector half) + the training-data-pipeline brief:
  * similarity search over the embedding column, embedding near-dup,
  * multimodal (opaque binary) columns.
  *
  * Vector math is the codegen'd float kernels (`cosine_f32`,
  * `sumsq_f32`, `sign_pack32`, through the [[GraftOps]] vector family)
  * and, for double or mixed vectors, [[GraftOps.cosineSim]]'s
  * `zip_with`/`aggregate` fold — no UDFs, exact double arithmetic,
  * identical left-fold order to the DuckDB oracle formula
  * (probe-verified bit-exact, SURVEY.md §7.3.3).
  * Pair enumeration is always explicitly capped or LSH/IVF-bucketed —
  * the O(n²) step is the one that cannot survive 100 TB (SURVEY.md §4).
  */
object LlmVector extends QueryGroup {

  /** DuckDB-side cosine between two DOUBLE[] exprs — the §7.3.3-verified
    * explicit formula (never list_cosine_similarity, it computes f32). */
  private def duckCos(a: String, b: String, dims: Int = 64): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), i -> $a[i] * $b[i])), (x, y) -> x + y)
        / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), i -> $a[i] * $a[i])), (x, y) -> x + y))
         * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), i -> $b[i] * $b[i])), (x, y) -> x + y)))"""

  /** DuckDB-side squared L2 — same left fold order as [[l2sq]], so the
    * per-(vector, centroid) distances are bit-identical across engines. */
  private def duckL2sq(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (x, y) -> x + y)"""

  /** Per-group mean vector: posexplode → per-dimension avg → rebuild the
    * array ordered by dimension (shared by the IVF and k-means coarse
    * quantizers — shuffles k×dim cells, never vectors). */
  private def meanVector(df: DataFrame, key: Column, vec: Column,
                         outKey: String, outVec: String): DataFrame =
    df.select(key.as("mv_k"), posexplode(vec))
      .groupBy(col("mv_k"), col("pos"))
      .agg(avg(col("col").cast(DoubleType)).as("c"))
      .groupBy(col("mv_k"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("mv_k").as(outKey), transform(col("pc"), x => x.getField("c")).as(outVec))

  /** Pairwise cosine among the first 200 vectors, pairs above 0.3.
    * The N-cap is the explicit guard on the quadratic step. */
  private val simCosinePairs: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 200L)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    a.join(b, col("ia") < col("ib"))
      .withColumn("cos", expr("cosine_f32(ea, eb)"))
      .filter(col("cos") > 0.3)
      .select(col("ia"), col("ib"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("ia"), col("ib"))
  }

  /** Brute-force top-10 nearest (cosine) to the vec_id=0 query vector —
    * the exactness baseline for ANN. Single-row broadcast join, global
    * TakeOrderedAndProject: scales as one pass over the corpus. */
  private val simKnn: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    e.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (round(expr("cosine_f32(embedding, qe)"), 6) + lit(0.0)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Threshold range search — top-k's dual (return EVERYTHING within
    * cosine ≥ τ of each query, however many that is): the retrieval
    * mode RAG dedup-against-index and semantic-recall audits need,
    * where a fixed k either truncates dense neighborhoods or pads
    * sparse ones. Brute-force exact baseline: 10-query broadcast set ×
    * one corpus pass, cos ≥ 0.3 filter inside the codegen'd scan — no
    * shuffle of the corpus at all. The IVF index (sim_knn_ivf) is the
    * at-scale variant: τ bounds the probe radius the same way k does. */
  private val simRangeSearch: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    e.filter(col("vec_id") >= 10L)
      .crossJoin(broadcast(q))
      .withColumn("cos", expr("cosine_f32(embedding, qe)"))
      .filter(col("cos") >= 0.3)
      .select(col("qid"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("qid"), col("vec_id"))
  }

  /** Build the IVF index if absent: k=8 Lloyd cells over the corpus,
    * postings written partitionBy(cell), centroids beside them —
    * `cells/` hive-partitioned for partition-pruned probe reads,
    * `centroids/` the k cell means. Deterministic content (kmeansFit is
    * deterministic); an atomic fingerprint-keyed [[ScratchParquet]]
    * artifact (round 18 — this also gives the index the
    * construction-version salt it previously lacked). The build is the
    * `sink_ann_index` query; the probe (`sim_knn_ivf`) calls this
    * lazily so it stays self-contained for the driver. */
  private[graft] def ensureAnnIndex(s: SparkSession, d: String): String =
    ScratchParquet.ensureDir("ann_index", d,
        graft.Tables.fingerprint(d, "embeddings")) { tmp =>
      val asg = kmeansFit(s, d, k = 8, iters = 2)
      val e = Tables.embeddings(s, d)
      asg.select(col("vec_id"), col("cid").as("cell"))
        .join(e, "vec_id")
        .select(col("cell"), col("vec_id"), col("embedding"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/cells")
      meanVector(asg, col("cid"), col("v"), "cell", "centroid")
        .write.mode("overwrite").parquet(s"$tmp/centroids")
    }

  /** The ANN upsert delta: a new batch (synthesized deterministically —
    * the first 50 corpus vectors, dim 0 shifted +0.25, re-keyed
    * +1_000_000) assigned to its nearest EXISTING persisted centroid via
    * a broadcast of the bounded k×d fit, written as a delta cell store.
    * A sibling artifact of the index, keyed on the same embeddings
    * fingerprint: the batch and the deterministic fit are both pure
    * functions of that fixture. */
  private[graft] def ensureAnnDelta(s: SparkSession, d: String): String =
    ScratchParquet.ensureDir("ann_delta", d,
        graft.Tables.fingerprint(d, "embeddings")) { tmp =>
      val batch = Tables.embeddings(s, d).filter(col("vec_id") < 50L)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> IF(i = 0, CAST(x + 0.25 AS FLOAT), x))")
            .as("embedding"))
      val cents = s.read.parquet(s"${ensureAnnIndex(s, d)}/centroids")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("c").desc, col("cell"))
      batch.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cell"),
          GraftOps.cosineSim(col("centroid"), col("embedding")).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cell"), col("vec_id"), col("embedding"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/cells")
    }

  /** Incremental ANN index maintenance — the dedup_incremental posture
    * applied to the vector index (the production ingest shape: vectors
    * keep arriving, the index must absorb them WITHOUT a refit): the
    * [[ensureAnnDelta]] batch lands beside the base cells. Cost scales
    * with the batch; the corpus is never re-read. Declared output:
    * per-cell base/delta posting counts (full outer — an empty base or
    * delta cell must still show).
    * No oracle (depends on the iterative k-means fit); VectorSpec
    * laws: an upserted vector is its own exact top-1 in the combined
    * base∪delta index, and delta postings conserve the batch size. */
  private val annUpsert: QFn = (s, d) => {
    val base = s.read.parquet(s"${ensureAnnIndex(s, d)}/cells")
      .groupBy(col("cell").cast(IntegerType).as("cell"))
      .agg(count(lit(1)).as("n_base"))
    val delta = s.read.parquet(s"${ensureAnnDelta(s, d)}/cells")
      .groupBy(col("cell").cast(IntegerType).as("cell"))
      .agg(count(lit(1)).as("n_new"))
    base.join(delta, Seq("cell"), "full_outer")
      .select(col("cell"), coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .orderBy(col("cell"))
  }

  /** Index build as a declared sink query: per-cell posting counts.
    * Iterative build → no SQL oracle (rows-only check, like sim_kmeans). */
  private val sinkAnnIndex: QFn = (s, d) => {
    val path = ensureAnnIndex(s, d)
    s.read.parquet(s"$path/cells")
      .groupBy(col("cell").cast(IntegerType).as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("cell"))
  }

  /** IVF ANN probe (approximate → no oracle; recall asserted vs brute
    * force in VectorSpec): read the persisted index, rank the k=8
    * centroids against the query vector, probe the 3 nearest cells —
    * the cells scan is hive-partitioned on `cell`, so the probe reads
    * only nprobe/ncells of the corpus from disk (runtime partition
    * pruning via the broadcast join on the partition key; asserted in
    * PlanSpec) — then exact cosine inside the probed cells. */
  private val simKnnIvf: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val path = ensureAnnIndex(s, d)
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val probed = s.read.parquet(s"$path/centroids").crossJoin(broadcast(q))
      .select(col("cell"), GraftOps.cosineSim(col("centroid"), col("qe")).as("ccos"))
      .orderBy(col("ccos").desc, col("cell")).limit(3)
      .select(col("cell"))
    s.read.parquet(s"$path/cells")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_f32(embedding, qe)"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** ANN recall@10 evaluation — the measurement loop a retrieval
    * deployment runs before trusting an index config (dedup_eval's
    * posture applied to the vector index): a 20-query capped set is
    * retrieved BOTH exactly (full-corpus top-10, the ground truth)
    * and through an IVF probe, and the per-query hit count is the
    * output. The evaluated retriever is the sign-GRID coarse quantizer
    * (cell = sign bits of dims 0-2 → 8 cells; probe = own cell + the 3
    * Hamming-1 neighbours, nprobe 4 of 8) rather than the deployed
    * k-means index: grid cells are a pure row function both engines
    * compute identically, so the WHOLE eval — including the
    * approximate side — is DuckDB-mirrorable and hash-oracled, where
    * the k-means index's unrounded order-dependent means keep
    * sim_knn_ivf itself no-oracle by design. The deployed index's own
    * recall floor is law-asserted in VectorSpec (nprobe=4 ≥ 0.9).
    * Scale: the exact side is 20 × corpus — the inherently capped
    * ground-truth companion, like dedup_eval's all-pairs cap; the
    * probe side is the production shape. */
  private val ivfEval: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    def bit(c: Column, i: Int): Column =
      when(c.getItem(i) >= 0.0, 1).otherwise(0)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        bit(col("embedding"), 0).as("b0"),
        bit(col("embedding"), 1).as("b1"),
        bit(col("embedding"), 2).as("b2"))
    val q = e.filter(col("vec_id") < 20L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("b0").as("q0"), col("b1").as("q1"), col("b2").as("q2"))
    // ONE candidate pass (round-18 opt): the former exact/approx split
    // evaluated the crossJoin+cosine subtree TWICE (column pruning made
    // the two exchanges differ, so ReuseExchange could not dedupe) and
    // re-joined the branches. Both ranks come off one shuffle instead:
    // row_number gives the exact rank; the running count of probe-set
    // rows in the same (cs DESC, vec_id) order IS the approx rank of a
    // probe-set row (row_number over the ham<=1 subset ≡ running count
    // at that row), so approx top-10 membership = ham<=1 AND run<=10.
    // cosine_f32 replaces the interpreted HOF fold (bit-identical
    // accumulation order, pinned in VectorSpec). Results unchanged.
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("cosine_f32(embedding, qe)").as("cs"),
        (abs(col("b0") - col("q0")) + abs(col("b1") - col("q1"))
          + abs(col("b2") - col("q2"))).as("ham"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    cand
      .withColumn("rn", row_number().over(w))
      .withColumn("run",
        sum(when(col("ham") <= 1, 1L).otherwise(0L)).over(wRun))
      .groupBy(col("qid"))
      .agg(sum(when(col("rn") <= 10, 1L).otherwise(0L)).as("n_exact"),
           sum(when(col("rn") <= 10 && col("ham") <= 1 && col("run") <= 10L,
             1L).otherwise(0L)).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  /** IVF nprobe calibration curve — dedup_lsh_curve's posture applied
    * to the vector index (the curve an operator reads BEFORE picking
    * nprobe, instead of trusting one point measurement): recall@10 of
    * the sign-grid coarse quantizer at EVERY probe radius 0..3
    * (probe own cell → +Hamming-1 → +Hamming-2 → all 8 cells; nprobe
    * 1/4/7/8 of 8). Radius 3 probes everything, so its recall is
    * EXACTLY 1.0 by construction and the curve's monotone rise to it
    * is law-asserted (VectorSpec) — a curve that doesn't end at 1.0
    * means the harness, not the index, is broken. Grid cells are a
    * pure row function (ivf_eval's device), so the whole sweep — all
    * four radii, both rankings — is DuckDB-mirrorable and hash-oracled,
    * unlike the k-means index it calibrates for. Scale: ONE candidate
    * materialization (20-query broadcast × corpus — the capped
    * ground-truth companion) reused by all radii via a 4-row broadcast
    * explode; per-(radius, query) ranking partitions the window, never
    * a global sort. Output micro-averages over the query set: exact
    * int hit/truth sums per radius, one closing division. */
  private val ivfNprobeCurve: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    def bit(c: Column, i: Int): Column =
      when(c.getItem(i) >= 0.0, 1).otherwise(0)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        bit(col("embedding"), 0).as("b0"),
        bit(col("embedding"), 1).as("b1"),
        bit(col("embedding"), 2).as("b2"))
    val q = e.filter(col("vec_id") < 20L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("b0").as("q0"), col("b1").as("q1"), col("b2").as("q2"))
    // ONE candidate pass for the whole sweep (round-18 opt, the
    // ivf_eval device generalized): cosine is computed once per
    // (corpus, query) row BELOW the 4-row radii explode — the
    // BroadcastNestedLoopJoin replays the already-computed (cs, ham)
    // row per radius — and both ranks come off one (radius, qid)
    // exchange. row_number is the exact rank (each radius holds a full
    // copy, so the per-(radius, qid) rank equals the per-qid rank);
    // the running count of probe-set rows in the same order is the
    // approx rank (row_number over the ham<=radius subset ≡ running
    // count at that row). The former shape evaluated the crossJoin+
    // cosine subtree twice and re-joined the branches through two
    // broadcasts. Results unchanged; cosine_f32 bit-equality is pinned
    // in VectorSpec.
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("cosine_f32(embedding, qe)").as("cs"),
        (abs(col("b0") - col("q0")) + abs(col("b1") - col("q1"))
          + abs(col("b2") - col("q2"))).as("ham"))
    val radii = s.range(0, 4)
      .select(col("id").cast(IntegerType).as("radius"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("radius"), col("qid"))
      .orderBy(col("cs").desc, col("vec_id"))
    val wRun = wA.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    cand.crossJoin(broadcast(radii))
      .withColumn("rn", row_number().over(wA))
      .withColumn("run",
        sum(when(col("ham") <= col("radius"), 1L).otherwise(0L)).over(wRun))
      .groupBy(col("radius"))
      .agg(sum(when(col("rn") <= 10, 1L).otherwise(0L)).as("n_exact"),
           sum(when(col("rn") <= 10 && col("ham") <= col("radius")
                 && col("run") <= 10L, 1L).otherwise(0L)).as("n_hit"))
      .select(col("radius"),
        // nprobe = Σ C(3,i) for i ≤ radius: 1, 4, 7, 8 cells of 8
        when(col("radius") === 0, 1).when(col("radius") === 1, 4)
          .when(col("radius") === 2, 7).otherwise(8).as("nprobe"),
        col("n_exact"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall_at_10"))
      .orderBy(col("radius"))
  }

  /** Dimension-truncation retrieval eval — the Matryoshka (MRL) storage
    * question made measurable: if the index keeps only the FIRST 16 of
    * 64 dimensions (4× cheaper storage + bandwidth, the standard
    * prefix-truncation deployment), how much of exact top-10 retrieval
    * survives? Same detector-quality posture as ivf_eval: per query the
    * exact full-dim top-10 is truth, the 16-dim-cosine top-10 is the
    * candidate, overlap = recall@10. Truncation is `slice(...)` — a
    * pure row function — and both rankings run off the one broadcast
    * query set × corpus pass; ranking ties break on vec_id so row_number
    * is total on both engines. The fixture's embeddings put no special
    * mass on the prefix (unlike MRL-trained ones), so the measured
    * recall is the UNTRAINED-prefix baseline an MRL deployment must
    * beat. */
  private val embedTruncateEval: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 20L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // ONE candidate pass (round-18 opt, the ivf_eval device): both
    // rankings come off one crossJoin+cosine evaluation and one
    // hashpartitioning(qid) exchange — two sorts under it (the
    // orderings differ), but the expensive subtree is no longer
    // duplicated and the branch re-join is gone. Top-10 membership in
    // both orders is a per-row predicate, so the overlap is a plain
    // conditional count. cosine_f32 replaces the interpreted HOF fold
    // (bit-identical accumulation, pinned in VectorSpec); slice() of
    // the float embedding keeps the float element type, so the
    // truncated leg is the same expression over the same input.
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("cosine_f32(embedding, qe)").as("cs_full"),
        expr("cosine_f32(slice(embedding, 1, 16), slice(qe, 1, 16))")
          .as("cs_trunc"))
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cs_full").desc, col("vec_id"))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cs_trunc").desc, col("vec_id"))
    cand
      .withColumn("rnf", row_number().over(wF))
      .withColumn("rnt", row_number().over(wT))
      .groupBy(col("qid"))
      .agg(sum(when(col("rnf") <= 10, 1L).otherwise(0L)).as("n_exact"),
           sum(when(col("rnf") <= 10 && col("rnt") <= 10, 1L).otherwise(0L))
             .as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  /** Maximal Marginal Relevance — DIVERSIFIED top-k (Carbonell &
    * Goldstein 1998), the selection rule that keeps a retrieval/
    * curation batch from returning k near-copies of the same item:
    * greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s),
    * here [[GraftOps.mmrSelect]] at k = 3 and λ = 0.7 over a bounded
    * candidate pool per query (5 queries × 100 candidates — at scale
    * the pool is the ANN index's top-N probe, never the corpus).
    * Determinism: every
    * score is re-rounded to 9 dp BEFORE the argmax (the embed_pca
    * technique — bit-equal operands on both engines) and the argmax
    * breaks ties on the smaller vec_id via a max(struct(score, −id))
    * fold, so the greedy path is engine- and partitioning-exact; the
    * oracle unrolls the same three rounds as CTEs. Both weights
    * are spelled as the literals 0.7 / 0.3 on both sides — computing
    * 1.0 − 0.7 in doubles yields 0.30000000000000004, a different
    * operand than the oracle's parsed 0.3. Shape: one
    * (|q|·|pool|)-row relevance table built from a broadcast
    * cross join carries the candidate vectors with it, so each round
    * is a |q|-row argmax + one small equality join — no corpus
    * rescan. */
  private val simMmr: QFn = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = e.filter(col("vec_id") >= 20L && col("vec_id") < 120L)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val pool = q.crossJoin(broadcast(cand))
      .select(col("qid"), col("cid"), col("ce"),
        round(graft.functions.GraftFunctions.cosineF32(col("qe"), col("ce")), 9).as("rel"))
    GraftOps.mmrSelect(pool, col("qid"), col("cid"), col("rel"), col("ce"), k = 3)
      .select(col("qid"), col("rank"), col("cid").as("vec_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Batch kNN — the shape a pipeline actually runs (embed a batch,
    * retrieve for every query at once, e.g. dedup-against-index or
    * RAG-style retrieval): [[GraftOps.knnCosine]] at k = 5 for the
    * first 10 vectors, ONE corpus pass against a broadcast query set,
    * per-query top-5 via a rank window partitioned by query id.
    * Scale: corpus × |queries| stays a broadcast nested-loop over a
    * bounded query batch (never corpus × corpus); the window
    * partitions by query id, so no single-partition global sort. The
    * IVF variant composes the same way over the pruned cells scan. */
  private val simKnnBatch: QFn = (s, d) => {
    val e = Tables.embeddings(s, d)
    GraftOps.knnCosine(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10L), col("vec_id"), col("embedding"),
        k = 5, excludeSelf = true)
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-label centroid (posexplode → per-dimension avg → rebuild) +
    * each vector's L2 distance to its own centroid. */
  private val simCentroids: QFn = (s, d) => {
    val e = Tables.embeddings(s, d)
    val cent = e.select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy(col("c_label"), col("pos"))
      .agg(avg(col("col").cast(DoubleType)).as("c"))
      .withColumnRenamed("pos", "c_pos")
    val terms = e.select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .join(cent, col("label") === col("c_label") && col("pos") === col("c_pos"))
      .withColumn("sq", (col("col").cast(DoubleType) - col("c")) *
                        (col("col").cast(DoubleType) - col("c")))
    terms.groupBy(col("vec_id"), col("label"))
      .agg(round(sqrt(sum(col("sq"))), 6).as("dist"))
      .orderBy(col("vec_id"))
  }

  /** Anchor fit for the SemDeDup cells: Lloyd k-means like [[kmeansFit]]
    * but with every centroid coordinate rounded to 9 dp after each mean.
    * The rounding is what makes the DuckDB oracle able to MIRROR the fit
    * (per-dimension `avg` is an order-dependent double sum, so unrounded
    * means would differ across engines in the last bits and could flip a
    * later argmin); the per-(vector, centroid) distances themselves are
    * bit-identical left folds on both sides. Deterministic: init =
    * vectors 0..k-1, ties broken by min cid via struct ordering. */
  private[graft] def anchorsFitOf(e0: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = e0.sparkSession
    val e = e0
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val centSchema = StructType(Seq(
      StructField("cid", IntegerType),
      StructField("cv", ArrayType(DoubleType))))
    // init = the k smallest vec_ids of the fit input — identical to the
    // historical `vec_id < k` spelling on the dense-id fixtures (what
    // the DuckDB oracle CTEs mirror), and well-defined on the sampled
    // input the 100 TB path feeds in
    var cent = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast(IntegerType).as("cid"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      val asg = e.crossJoin(broadcast(cent))
        .groupBy(col("vec_id"))
        .agg(min(struct(l2sq(col("v"), col("cv")).as("d2"), col("cid"))).as("m"),
             first(col("v")).as("v"))
        .select(col("m.cid").as("cid"), col("v"))
      val rows = asg.select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("col")), 9).as("c"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cid"), transform(col("pc"), x => x.getField("c")).as("cv"))
        .collect()
      cent = s.createDataFrame(java.util.Arrays.asList(rows: _*), centSchema)
    }
    cent
  }

  /** Vectors per anchor in the TRAINING sample cap — the FAISS
    * convention (max_points_per_centroid = 256): fitting k = ⌈√n⌉
    * anchors over the FULL corpus costs O(iters · n · k) = O(n^1.5),
    * the one super-linear build the scale probe surfaced; capping the
    * training set at 256·k hash-sampled vectors bounds the fit at
    * O(iters · 256 · k²) = O(256 · n) — linear — while anchor QUALITY
    * is statistically unchanged (256 points per centroid is far past
    * Lloyd's stability needs; the probe/verify stages still see every
    * vector). The cap never binds below n = 256·√n ⇔ n ≈ 65k vectors,
    * so every oracled fixture (and the 10× probe fixture) trains on
    * the full corpus, bit-identical to the oracle's CTE mirror; past
    * it the fit is outside the oracled regime by design — VectorSpec
    * exercises the sampled branch via [[anchorsFitOf]] directly. */
  private[graft] val FitPointsPerAnchor = 256L

  /** Persisted embcos anchor set for one sf dir, k = ⌈√n⌉ scaling with
    * the corpus (the published IVF/SemDeDup recipe). Path keyed by sf
    * name AND the embeddings file's content fingerprint — the
    * [[ensureAnnIndex]] machinery — so a regenerated fixture can never
    * be served stale anchors, and repeated evaluations in one session
    * (Verify → Bench min-of-2 → specs) fit exactly once. */
  private[graft] def ensureEmbcosAnchors(s: SparkSession, d: String): String = {
    val base = ScratchParquet.ensureDir("embcos_anchors", d,
        graft.Tables.fingerprint(d, "embeddings")) { tmp =>
      val eAll = Tables.embeddings(s, d)
      val n = eAll.count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      val cap = FitPointsPerAnchor * k
      val fitInput = if (n <= cap) eAll else {
        // deterministic uniform 1-in-m hash sample (portable md5 idiom),
        // m sized so the expected sample is ~cap
        val m = (n + cap - 1L) / cap
        eAll.filter(
          graft.functions.GraftFunctions.md5Prefix48(col("vec_id").cast(StringType))
            % m === 0L)
      }
      anchorsFitOf(fitInput, k, iters = 2)
        .write.mode("overwrite").parquet(s"$tmp/anchors")
    }
    s"$base/anchors"
  }

  /** 2-level centroid hierarchy: a coarse Lloyd fit over the ANCHOR SET
    * (kc = ⌈√#anchors⌉ = ⌈n¼⌉ centroids — the standard IVF hierarchy),
    * so vector→anchor assignment probes only the anchors in the few
    * nearest coarse cells instead of all ⌈√n⌉ anchors. Input is the
    * bounded anchor table (√n rows), so the fit itself is trivial;
    * determinism matches [[anchorsFitOf]] exactly: init = anchors with
    * cid < kc, bit-identical l2sq folds, ties by min gid, per-dimension
    * means rounded to 9 dp — all of which the DuckDB oracle mirrors CTE
    * for CTE ([[duckEmbcosPairsCtes]]). Returns (g_id, gv). */
  private def coarseFit(s: SparkSession, anchors: DataFrame, kc: Int,
                        iters: Int): DataFrame = {
    val gSchema = StructType(Seq(
      StructField("g_id", IntegerType),
      StructField("gv", ArrayType(DoubleType))))
    var g = anchors.filter(col("a_id") < kc)
      .select(col("a_id").cast(IntegerType).as("g_id"), col("av").as("gv"))
    for (_ <- 1 to iters) {
      val asg = anchors.crossJoin(broadcast(g))
        .groupBy(col("a_id"))
        .agg(min(struct(l2sq(col("av"), col("gv")).as("d2"), col("g_id"))).as("m"),
             first(col("av")).as("av"))
        .select(col("m.g_id").as("g_id"), col("av"))
      val rows = asg.select(col("g_id"), posexplode(col("av")))
        .groupBy(col("g_id"), col("pos"))
        .agg(round(avg(col("col")), 9).as("c"))
        .groupBy(col("g_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("g_id"), transform(col("pc"), x => x.getField("c")).as("gv"))
        .collect()
      g = s.createDataFrame(java.util.Arrays.asList(rows: _*), gSchema)
    }
    g
  }

  /** Embedding near-dup, SemDeDup-shaped (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-quantize every vector to its
    * [[CellsPerVector]] nearest anchor cells — anchors are persisted
    * ⌈√n⌉ k-means centroids from [[anchorsFitOf]], so cell count GROWS
    * with the corpus and the per-cell pair product stays ~constant per
    * cell (the round-2 hardcoded 16-anchor set made it O(n²/16)) — then
    * candidate pairs share ≥1 cell and are exact-cosine verified > 0.4.
    * Anchor ASSIGNMENT is hierarchical (round-7): vectors rank only the
    * ⌈n¼⌉ coarse centroids from [[coarseFit]], probe the anchors mapped
    * to their [[ProbeCoarseCells]] nearest coarse cells, and take the
    * [[CellsPerVector]] nearest anchors among those — O(n·n¼) distance
    * evals instead of the flat O(n·√n) crossJoin against every anchor
    * (the round-6 verdict's 10⁹-vector bottleneck). Each ANCHOR is
    * redundantly mapped to its [[AnchorMapWidth]] nearest coarse cells
    * (the standard overlapping-region trick): boundary anchors stay
    * reachable from every side, and candidates are DISTINCT'd before
    * ranking so a multiply-mapped anchor can't occupy several top
    * slots. The widths were re-tuned in round 9 after the
    * dedup_eval_embcos rung caught recall at 0.59 — see the sweep table
    * on the constants; at the current 4/3/4 setting the detector scores
    * recall 0.966 / precision 1.0 vs exact all-pairs at sf0.01.
    * Both levels are broadcasts of bounded centroid sets; the vector
    * side is touched by equality joins only.
    * The oracle MIRRORS this construction in SQL — including the
    * 2-iteration anchor fit, unrolled as CTEs with the same 9-dp-rounded
    * means — so parity holds by construction; VectorSpec separately
    * measures recall vs the exact all-pairs answer (precision is 1 —
    * every emitted pair is verified).
    * Scale shape: no unconditioned self-join — the pair product is
    * partitioned by cell (Σ n_c² with [[CellsPerVector]]× probe
    * replication, cells processed independently after one shuffle on
    * the cell key). Stated as a bound: with k = ⌈√n⌉ cells the mean
    * cell load is c·√n, so candidate work is Θ(c²·n^1.5) — the
    * published SemDeDup behavior, and what the scale probe measures
    * (exponent ≤ 1.5 over a 10× step). At 100 TB hold the CELL SIZE
    * constant instead (k ∝ n / target_load): candidate work becomes
    * linear and the per-cell task fits one executor; the fit cost
    * stays linear via [[FitPointsPerAnchor]].
    * At this corpus's dedup threshold (0.4 ≈ 66° — near the random-pair
    * angle in 64-dim) sign-random-projection banding cannot separate
    * true pairs from background, so cell partitioning, not bit-LSH, is
    * the honest bucketing. */
  /** Probe widths for the hierarchical anchor assignment. Tuned on the
    * sf0.01 fixture by the round-9 recall sweep ([[dedupEvalEmbcos]] is
    * the measuring rung): the round-8 setting (coarse probe 3, anchor
    * map 2, 2 anchors/vector) scored recall 0.59 — pairs split across
    * anchor cells. The sweep grid: cells/vector 2→3 lifts recall to
    * 0.88, →4 to 0.97 (candidate count 35→52→57 on the capped range —
    * near-flat, because most extra candidates fail exact verify). The
    * values below score recall 0.966 at sf0.01 while keeping every
    * stage bucketed: per-vector candidate work scales linearly with
    * these small constants, never with n. */
  private[graft] val ProbeCoarseCells = 4 // coarse cells a vector ranks anchors from
  private[graft] val AnchorMapWidth = 3   // coarse cells each anchor is reachable from
  private[graft] val CellsPerVector = 4   // anchor cells a vector is assigned to

  /** THE embedding near-dup pair graph (SemDeDup anchor cells + exact
    * cosine verify > 0.4), a ScratchParquet artifact: the fit, probe and
    * exact verify (12.0 s at sf0.1, the heaviest build) run once per
    * (fixture fingerprint, construction version). Consumers:
    * dedup_embcos and the cross-modal clustering in LlmText. Returns
    * (ia, ib, cos), ia < ib. */
  private[graft] def embcosPairsCached(s: SparkSession, d: String): DataFrame =
    ScratchParquet.ensure(s, "emb_pairs", d, Tables.fingerprint(d, "embeddings"))(
      embcosPairsBuild(s, d, ProbeCoarseCells, AnchorMapWidth, CellsPerVector))

  /** The un-cached pair construction, probe widths as parameters so the
    * recall sweep (VectorSpec) can measure alternative settings without
    * touching the pair-graph artifact. */
  private[graft] def embcosPairsBuild(s: SparkSession, d: String,
      probeCoarse: Int, mapWidth: Int, cellsPerVec: Int): DataFrame = {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = Tables.embeddings(s, d)
      val anchors = s.read.parquet(ensureEmbcosAnchors(s, d))
        .select(col("cid").cast(LongType).as("a_id"), col("cv").as("av"))
      val kc = math.ceil(math.sqrt(anchors.count().toDouble)).toInt
      val coarse = coarseFit(s, anchors, kc, iters = 2)
      // anchor → its `mapWidth` nearest coarse cells (same l2 metric as
      // the fit): redundant mapping keeps boundary anchors probeable
      val wA = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a_id")).orderBy(col("gd").asc, col("g_id"))
      val amap = anchors.crossJoin(broadcast(coarse))
        .select(col("a_id"), col("g_id"), l2sq(col("av"), col("gv")).as("gd"))
        .withColumn("rn", row_number().over(wA)).filter(col("rn") <= mapWidth)
        .select(col("g_id"), col("a_id"))
      // vector → `probeCoarse` nearest coarse cells (cosine, like the
      // anchor ranking)
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("gcos").desc, col("g_id"))
      val vg = e.crossJoin(broadcast(coarse))
        .select(col("vec_id"), col("g_id"), GraftOps.cosineSim(col("embedding"), col("gv")).as("gcos"))
        .withColumn("rn", row_number().over(wV)).filter(col("rn") <= probeCoarse)
        .select(col("vec_id"), col("g_id"))
      // probe only the anchors living in those coarse cells;
      // `cellsPerVec` nearest win. DISTINCT before ranking: an anchor
      // redundantly assigned to two probed coarse cells would otherwise
      // occupy multiple top ranks
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("acos").desc, col("a_id"))
      val cells = vg.join(broadcast(amap), Seq("g_id"))
        .select(col("vec_id"), col("a_id")).distinct()
        .join(e, "vec_id")
        .join(broadcast(anchors), Seq("a_id"))
        .select(col("vec_id"), col("a_id"), GraftOps.cosineSim(col("embedding"), col("av")).as("acos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cellsPerVec)
        .select(col("vec_id"), col("a_id").as("cell"))
      val cand = cells.select(col("cell"), col("vec_id").as("ia"))
        .join(cells.select(col("cell"), col("vec_id").as("ib")), Seq("cell"))
        .filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib")).distinct()
      cand
        .join(e.select(col("vec_id").as("ia"), col("embedding").as("ea")), "ia")
        .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")), "ib")
        .withColumn("cos", expr("cosine_f32(ea, eb)"))
        .filter(col("cos") > 0.4)
        .select(col("ia"), col("ib"), col("cos"))
  }

  private val dedupEmbcos: QFn = (s, d) =>
    embcosPairsCached(s, d)
      .select(col("ia"), col("ib"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("ia"), col("ib"))

  /** The embedding-detector quality rung — dedup_eval's posture for the
    * THIRD detector (minhash and simhash have theirs; embcos was the
    * unmeasured one): the emitted anchor-cell pair set scored against
    * exact all-pairs cosine > 0.4 truth on the vec_id < 500 capped
    * range. The exact-verify stage pins precision at 1 by construction
    * (every emitted pair re-checked with the same cosine); RECALL is
    * the live number — pairs whose members were quantized into
    * different anchor cells are exactly what SemDeDup-style cell
    * bucketing can miss, and this rung watches that miss rate when the
    * anchor count or probe width is retuned. One row: n_emitted /
    * n_truth / n_hit / precision / recall. */
  private val dedupEvalEmbcos: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val cap = 500L
    val emitted = embcosPairsCached(s, d)
      .filter(col("ia") < cap && col("ib") < cap)
      .select(col("ia"), col("ib"), lit(1L).as("e"))
    val e = Tables.embeddings(s, d).filter(col("vec_id") < cap)
    val truth = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib"))
      .filter(expr("cosine_f32(ea, eb)") > 0.4)
      .select(col("ia"), col("ib"), lit(1L).as("t"))
    emitted.join(truth, Seq("ia", "ib"), "full")
      .agg(sum(coalesce(col("e"), lit(0L))).as("n_emitted"),
           sum(coalesce(col("t"), lit(0L))).as("n_truth"),
           sum(when(col("e").isNotNull && col("t").isNotNull, 1L).otherwise(0L))
             .as("n_hit"))
      .select(col("n_emitted"), col("n_truth"), col("n_hit"),
        when(col("n_emitted") > 0L,
          col("n_hit").cast(DoubleType) / col("n_emitted")).as("precision"),
        when(col("n_truth") > 0L,
          col("n_hit").cast(DoubleType) / col("n_truth")).as("recall"))
  }

  /** Multimodal column plumbing: text → opaque binary, then a
    * partition-wise "decoder" producing typed metadata. The decode body
    * is a STUB (deterministic byte-level features — this container has no
    * image/audio codecs); the Spark side (binary column, typed Dataset,
    * mapPartitions batch shape, schema) is real and oracled via the
    * ASCII equivalence bytes==codepoints. */
  /** Magic-byte MIME sniffing — the content-type detection a multimodal
    * ingest runs on every blob BEFORE routing it to a decoder (a
    * mislabeled or truncated file must be caught from its first bytes,
    * never by paying for a full decode attempt): blobs are synthesized
    * deterministically (doc_id % 5 picks a real magic header — PNG /
    * JPEG / GIF89a / %PDF- / none — prepended to the UTF-8 text bytes),
    * and the sniffer classifies from `hex(substring(bin, 1, k))`
    * prefix matches ONLY — a pure codegen row function that touches ≤8
    * bytes of each blob, the property that makes it free at 100 TB.
    * The ORACLE never sees the sniff: it derives the expected type
    * independently from doc_id % 5 and the magic table, so a broken
    * detector (wrong offset, wrong byte, wrong precedence) hash-fails
    * rather than being mirrored. magic_hex (first 4 bytes) crosses the
    * synthesis: for JPEG it includes the first text byte, exercising
    * the boundary between header and payload on both engines.
    * FIXTURE assumptions (round-11 advice, stated not guarded — they
    * hold by construction of /root/testdata's documents table and a
    * guard would hide a fixture regression the hash check should
    * catch): (1) the no-header branch (doc_id % 5 == 4) sniffs the raw
    * text bytes, so the fixture text must not itself start with a
    * magic prefix ('GIF89a', '%PDF-', ...) or the sniffer and the
    * doc_id-derived oracle would legitimately disagree; (2) the
    * fixture text is pure ASCII, which makes DuckDB's character-based
    * length/hex equal Spark's byte-based ones in n_bytes/magic_hex. */
  private val multimodalMime: QFn = (s, d) => {
    val bin = Tables.documents(s, d)
      .withColumn("magic", expr("""CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN unhex('89504E470D0A1A0A')
        WHEN 1 THEN unhex('FFD8FF')
        WHEN 2 THEN unhex('474946383961')
        WHEN 3 THEN unhex('255044462D')
        ELSE unhex('') END"""))
      .select(col("doc_id"),
        concat(col("magic"), encode(col("text"), "UTF-8")).as("bin"))
    bin.select(col("doc_id"),
        when(hex(expr("substring(bin, 1, 8)")) === "89504E470D0A1A0A", "image/png")
          .when(hex(expr("substring(bin, 1, 3)")) === "FFD8FF", "image/jpeg")
          .when(hex(expr("substring(bin, 1, 6)")) === "474946383961", "image/gif")
          .when(hex(expr("substring(bin, 1, 5)")) === "255044462D", "application/pdf")
          .otherwise("application/octet-stream").as("mime"),
        hex(expr("substring(bin, 1, 4)")).as("magic_hex"),
        length(col("bin")).cast(LongType).as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  private val multimodalMeta: QFn = (s, d) => {
    val sp = s
    import sp.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // STUB decoder: real codec calls would go here; features are
          // deterministic byte arithmetic so the pipeline stays testable.
          val n = bytes.length.toLong
          val checksum = bytes.map(x => (x & 0xff).toLong).sum % 997L
          val first = if (n > 0) (bytes.head & 0xff).toLong else 0L
          val last = if (n > 0) (bytes.last & 0xff).toLong else 0L
          (id, n, n % 64L, n / 64L, checksum, first, last)
        }
      }
      .toDF("doc_id", "n_bytes", "meta_w", "meta_h", "checksum", "first_byte", "last_byte")
      .orderBy(col("doc_id"))
  }

  /** Squared L2 distance (exact doubles, left-fold index order).
    * round-19 opt: the fused l2sq_f64 kernel replaces the interpreted
    * zip_with/aggregate HOF — bit-identical fold (pinned in
    * TextSigSpec), and the assign loops it powers (k-means, PQ, IVF)
    * stay in whole-stage codegen. Call sites all feed array<double>. */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.l2sqF64(a, b)

  /** Lloyd k-means over the embeddings: final (vec_id, cid, d2)
    * assignment after `iters` iterations. Fully deterministic — init =
    * vectors 0..k-1, exact double arithmetic, nearest-centroid ties
    * broken by min cid via struct ordering. Scale shape: each iteration
    * is one broadcast of k centroids + one partial-agg shuffle of k×dim
    * centroid cells — the corpus is scanned, never shuffled.
    * Package-visible so LawsSpec can assert inertia monotonicity. */
  private[graft] def kmeansFit(s: SparkSession, d: String, k: Int, iters: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    def assign(cent: DataFrame): DataFrame =
      e.crossJoin(broadcast(cent))
        .groupBy(col("vec_id"))
        .agg(min(struct(l2sq(col("v"), col("cv")).as("d2"), col("cid"))).as("m"),
             first(col("v")).as("v"))
        .select(col("vec_id"), col("v"), col("m.cid").as("cid"), col("m.d2").as("d2"))
    var cent = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast(IntegerType).as("cid"), col("v").as("cv"))
    // collect the k×dim centroids to the driver between iterations (they
    // are tiny by construction — this is how Lloyd is run in practice):
    // each iteration is then a short fresh plan instead of an
    // ever-deeper unrolled lineage that re-derives every prior round
    val centSchema = StructType(Seq(
      StructField("cid", IntegerType),
      StructField("cv", ArrayType(DoubleType))))
    for (_ <- 1 to iters) {
      val rows = meanVector(assign(cent), col("cid"), col("v"), "cid", "cv").collect()
      cent = s.createDataFrame(java.util.Arrays.asList(rows: _*), centSchema)
    }
    assign(cent)
  }

  /** Product quantization fit — the ANN-compression shape beyond
    * embed_quantize's scalar affine codes: the 64-dim vector splits
    * into 4×16-dim subspaces, each with its own k=16 codebook fit by 2
    * Lloyd iterations, so a vector stores as 4 bytes of codes (16
    * bytes/vector → 4; reconstruction = concatenated codewords). All
    * four subspace fits run as ONE keyed k-means (subspace id joins the
    * cluster key — one assign shuffle per iteration for all subspaces,
    * not m sequential fits); driver materialization is the m·k×16
    * codebook matrix per iteration (the kmeansFit posture). Returns
    * (vec_id, j, vj, cid, d2). */
  /** One PQ fit per (fixture fingerprint, construction version), a
    * ScratchParquet artifact — embed_pq, sim_knn_pq and sim_knn_ivfpq
    * all read it, so the iterative fit (and its per-iteration centroid
    * collects) runs once per fixture, not once per consumer or
    * session. */
  private[graft] def pqFit(s: SparkSession, d: String): DataFrame =
    ScratchParquet.ensure(s, "pq_fit", d, Tables.fingerprint(d, "embeddings"))(
      pqFitUncached(s, d))

  private def pqFitUncached(s: SparkSession, d: String): DataFrame = {
    val m = 4; val sub = 16; val k = 16; val iters = 2
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), j -> struct(CAST(j AS INT) AS j, slice(v, j*$sub + 1, $sub) AS vj))"))
        .as("x"))
      .select(col("vec_id"), col("x.j").as("j"), col("x.vj").as("vj"))
    def assign(cent: DataFrame): DataFrame =
      e.join(broadcast(cent), "j")
        .groupBy(col("vec_id"), col("j"))
        // cv rides the argmin struct (after the (d2, cid) total order)
        // so consumers get the winning CODEWORD too — ADC search
        // (sim_knn_pq) scores queries against codewords, never raw rows
        .agg(min(struct(l2sq(col("vj"), col("cv")).as("d2"), col("cid"),
          col("cv"))).as("m"),
             first(col("vj")).as("vj"))
        .select(col("vec_id"), col("j"), col("vj"),
          col("m.cid").as("cid"), col("m.cv").as("cv"), col("m.d2").as("d2"))
    var cent = e.filter(col("vec_id") < k)
      .select(col("j"), col("vec_id").cast(IntegerType).as("cid"), col("vj").as("cv"))
    val centSchema = StructType(Seq(
      StructField("j", IntegerType),
      StructField("cid", IntegerType),
      StructField("cv", ArrayType(DoubleType))))
    for (_ <- 1 to iters) {
      val rows = meanVector(assign(cent),
          struct(col("j"), col("cid")), col("vj"), "k2", "cv")
        .select(col("k2.j").as("j"), col("k2.cid").as("cid"), col("cv"))
        .collect()
      cent = s.createDataFrame(java.util.Arrays.asList(rows: _*), centSchema)
    }
    assign(cent)
  }

  /** PQ-accelerated kNN via Asymmetric Distance Computation: the query
    * stays exact, the corpus is its 4 code bytes — distance(q, v) ≈
    * Σⱼ ‖qⱼ − codeword(cⱼ(v))‖² = ADC. At scale the per-(j, cid)
    * distance table is m·k entries computed ONCE and broadcast; here
    * the codeword join expresses the same thing. No oracle (approx by
    * design); LawsSpec asserts the metric-space guarantee
    * √exact ≤ √ADC + √recon (triangle inequality through the
    * reconstruction), which holds for EVERY vector regardless of fit
    * quality. */
  /** Full per-vector ADC score table for query vec_id 0 — shared by the
    * flat PQ search, the IVF+PQ composite, and VectorSpec's consistency
    * law (the composite must score candidates IDENTICALLY to the flat
    * search; only the candidate set differs). */
  private[graft] def adcScores(s: SparkSession, d: String): DataFrame = {
    val sub = 16
    val qsub = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
      .select(explode(expr(
        s"transform(sequence(0, 3), j -> struct(CAST(j AS INT) AS j, slice(transform(embedding, x -> CAST(x AS DOUBLE)), j*$sub + 1, $sub) AS qj))"))
        .as("x"))
      .select(col("x.j").as("j"), col("x.qj").as("qj"))
    pqFit(s, d).filter(col("vec_id") =!= 0L)
      .join(broadcast(qsub), "j")
      .select(col("vec_id"), l2sq(col("cv"), col("qj")).as("dj"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("dj")), 6).as("adc"))
  }

  private val simKnnPq: QFn = (s, d) =>
    adcScores(s, d)
      .orderBy(col("adc"), col("vec_id"))
      .limit(10)

  /** IVF+PQ composite retrieval — the production ANN layout (FAISS
    * IVFPQ; Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): the IVF coarse index prunes the search to
    * nprobe cells (partition pruning — the corpus scan never happens),
    * and PQ's asymmetric distances then score ONLY the surviving
    * candidates from their 4 code bytes (16× less memory traffic than
    * raw vectors). Composes the two persisted artifacts this family
    * already maintains — the k-means cell index (ensureAnnIndex) and
    * the per-(vector, subspace) codeword table (pqFit) — exactly how a
    * deployment runs them: both builds amortized once per corpus, the
    * query cost is |probed cells| × code bytes. The candidate list
    * (bounded by the probed cells) broadcasts into the code-table join,
    * so the only full pass is over CODES, never vectors. No oracle
    * (both fits iterative by design); VectorSpec pins that the
    * composite's scores are IDENTICAL to the flat ADC search on the
    * shared codes, that its output is exactly the top-10 of
    * (ADC ∩ probed candidates), and that pruning is real. */
  private val simKnnIvfPq: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val path = ensureAnnIndex(s, d)
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val probed = s.read.parquet(s"$path/centroids").crossJoin(broadcast(q))
      .select(col("cell"), GraftOps.cosineSim(col("centroid"), col("qe")).as("ccos"))
      .orderBy(col("ccos").desc, col("cell")).limit(3)
      .select(col("cell"))
    val cand = s.read.parquet(s"$path/cells")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id"))
    adcScores(s, d)
      .join(broadcast(cand), Seq("vec_id"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(10)
  }

  /** Declared PQ summary: per-(subspace, code) population + distortion.
    * No oracle (iterative); LawsSpec asserts full code coverage, code
    * range, and that PQ distortion beats the k=1 (global-mean) baseline. */
  private val embedPq: QFn = (s, d) =>
    pqFit(s, d)
      .groupBy(col("j"), col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
           round(sum(col("d2")), 6).as("distortion"))
      .orderBy(col("j"), col("cid"))

  /** The declared query: k=4, 3 iterations, per-cluster size + inertia.
    * No oracle (iterative); VectorSpec asserts the partition covers the
    * corpus, LawsSpec asserts inertia never increases per iteration. */
  private val simKmeans: QFn = (s, d) =>
    kmeansFit(s, d, k = 4, iters = 3)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), round(sum(col("d2")), 6).as("inertia"))
      .orderBy(col("cid"))

  /** Frame-sampling over the opaque binary column: split each blob into
    * 256-byte frames, keep every 2nd frame (the decode/sample stub — a
    * real video path would seek keyframes here), emit per-frame typed
    * metadata. flatMap on the typed Dataset is the UDTF-shaped batch
    * plumbing; oracled via the ASCII bytes==codepoints equivalence. */
  private val multimodalFrames: QFn = (s, d) => {
    val sp = s
    import sp.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        bytes.grouped(256).zipWithIndex.collect { case (fr, i) if i % 2 == 0 =>
          (id, i.toLong, fr.length.toLong,
            fr.map(x => (x & 0xff).toLong).sum % 997L)
        }
      }
      .toDF("doc_id", "frame_no", "frame_bytes", "frame_checksum")
      .orderBy(col("doc_id"), col("frame_no"))
  }

  /** Audio-style energy profile over the opaque blob: 256-byte frames →
    * per-frame RMS energy and a silence gate — the
    * silence-trim/segmentation pass an audio ingest runs before
    * transcription (the decode stub convention: deterministic byte
    * arithmetic stands in for PCM samples). One generated row per
    * FRAME with the Σ(b−128)² fold inside the row (round-6 rewrite:
    * the per-char posexplode cost 2 s steady at sf0.1, this shape
    * runs ~0.9 s) — all in codegen, the multimodal_phash lesson; the
    * silence decision is the
    * ALL-INTEGER compare ssq < τ²·len (no float threshold can flip
    * between engines), and per-frame RMS is quantized to integer
    * micro-units via floor(x·1e6 + 0.5) — identical IEEE on both
    * engines (the embed_quantize recipe; a DECIMAL cast here is NOT
    * portable: Spark rounds the decimal string HALF_UP, DuckDB rounds
    * the binary double) — so the per-doc fold sums exact integers. */
  private val multimodalAudioRms: QFn = (s, d) => {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.documents(s, d)
      // sequence(1, 0) DESCENDS and would fabricate two phantom rows for
      // an empty doc (the textBigramLm/minhashPairs guard convention);
      // the oracle's range(1, 1) is empty, so guard before exploding
      .filter(length(col("text")) >= 1)
      // one generated row per 256-char FRAME (not per char — the r5
      // per-char explosion cost 2 s steady at sf0.1; this shape is the
      // same math at 1/256th the generated rows): substring slices out
      // each frame, and the per-frame Σ(b−128)² folds INSIDE the row
      // via the fused codegen kernel ssq128 (round-18 opt — replaces
      // the interpreted split+transform+aggregate HOF; identical exact
      // int64 char-order sum, pinned in VectorSpec) — order-fixed,
      // engine-exact, and no (doc_id, frame) shuffle at all
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (length(text) - 1) div 256), f -> substring(text, f * 256 + 1, 256))"))
        .as(Seq("frame", "chunk")))
      .select(col("doc_id"), col("frame"),
        length(col("chunk")).cast(LongType).as("flen"),
        expr("ssq128(chunk)").as("ssq"))
      .withColumn("urms", floor(
        sqrt(col("ssq").cast(DoubleType) / col("flen")) * 1e6 + 0.5).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
           sum(when(col("ssq") < lit(1225L) * col("flen"), 1L).otherwise(0L))
             .as("n_silent"),
           // mean stays in integer micro-units until the final exact
           // division: round() here would land on .5 decimal boundaries
           // (odd µ-sum / 2) where the engines' rounding modes diverge
           (floor(sum(col("urms")).cast(DoubleType) / count(lit(1)) + 0.5)
             .cast(LongType) / lit(1000000L)).as("mean_rms"))
      .orderBy(col("doc_id"))
  }

  /** "Resize" for vector payloads: average-pool the 64-dim embedding down
    * to 16 dims (4→1). Pure HOF — stays in codegen, no UDF. */
  private val multimodalResize: QFn = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        // string-joined %.6f cells (driver's checker can't hash array
        // columns); + 0.0 folds -0.0 so the sign can't reach the text
        expr("""concat_ws(',', transform(sequence(0, 15), i -> format_string('%.6f', round(
                  (CAST(embedding[i*4] AS DOUBLE) + embedding[i*4+1]
                   + embedding[i*4+2] + embedding[i*4+3]) / 4.0, 6) + 0.0d)))""").as("pooled"))
      .orderBy(col("vec_id"))

  /** Int8-style affine quantization of the embedding column — the
    * 100 TB storage shape (4 bytes/dim f32 → 1 byte/dim + two scalars
    * per vector): [[GraftOps.int8Quantize]], the quantized codes joined
    * to one string (array-free checker contract). No shuffle. */
  private val embedQuantize: QFn = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), GraftOps.int8Quantize(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.lo").as("lo"), col("z.hi").as("hi"),
        col("z.qscale").as("qscale"),
        concat_ws(",", transform(col("z.q"), x => x.cast(StringType))).as("q"))
      .orderBy(col("vec_id"))

  /** L2 normalization — the prep step every cosine-based retrieval /
    * clustering stage wants done ONCE at ingest rather than per query
    * (normalized vectors turn cosine into a plain dot product, which is
    * what the ANN index and dedup_embcos consume). The norm is
    * sqrt(`sumsq_f32`); the head dims of [[GraftOps.l2Normalize]] are
    * emitted as %.6f strings (array-free checker contract), divided by
    * the UNROUNDED norm so the text is a faithful sample of what a
    * normalized sink would store. No shuffle. */
  private val embedNorm: QFn = (s, d) => {
    val e = col("embedding")
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(sqrt(graft.functions.GraftFunctions.sumSqF32(e)), 6).as("l2_norm"),
        concat_ws(",", transform(slice(GraftOps.l2Normalize(e), 1, 4),
          x => format_string("%.6f", round(x, 6) + lit(0.0))))
          .as("head4_unit"))
      .orderBy(col("vec_id"))
  }

  /** Top principal component of the embedding corpus — the dimension-
    * reduction / whitening prep a training pipeline runs before
    * quantization or coarse clustering. Plan shape built for 100 TB:
    *
    *  1. per-dimension means: one posexplode + 64-group partial agg;
    *  2. scatter matrix C: each row expands IN-ROW to its d² centered
    *     products (codegen, no join, no corpus shuffle) and partial
    *     aggregation collapses every task to ≤d²=4096 groups before the
    *     only shuffle — the classic distributed-covariance shape;
    *  3. power iteration on the d×d matrix: 3 matvec+normalize rounds
    *     on a driver-local 4096-row relation (k×d-style collect, the
    *     kmeansFit precedent — the corpus is never touched again).
    *
    * Oracle mirrors the construction exactly (unrolled CTEs): every
    * aggregate is rounded to 9 dp on both sides before reuse, so
    * accumulation-order drift can never compound (the kmeans-mirror
    * technique); the deterministic all-0.125 init fixes the sign. */
  /** The corpus-touching stage of [[embedPca]]: centered d² scatter
    * sums. Package-visible so PlanSpec can assert the partial-aggregate
    * shuffle shape (the returned query's own plan is the already-
    * collected local eigenvector). */
  /** Per-dimension 9-dp means, collected (one tiny job) — shared by
    * [[pcaFit]] and [[pcaScatter]] (round-19 opt: the scatter stage
    * used to re-derive the same means as a second corpus subtree plus
    * a broadcast crossJoin; now the collected fit means enter the
    * centering as foldable literals, the embedProject posture). */
  private[graft] def pcaMeans(s: SparkSession, d: String): Array[Double] = {
    import org.apache.spark.sql.types.DoubleType
    val means = Array.ofDim[Double](64)
    Tables.embeddings(s, d)
      .select(posexplode(transform(col("embedding"), x => x.cast(DoubleType)))
        .as(Seq("i", "xi")))
      .groupBy(col("i")).agg(round(avg(col("xi")), 9).as("mi"))
      .collect().foreach(r => means(r.getInt(0)) = r.getDouble(1))
    means
  }

  private[graft] def pcaScatter(s: SparkSession, d: String): DataFrame =
    pcaScatterUpper(s, d, pcaMeans(s, d))

  /** Centered d² scatter sums, UPPER TRIANGLE ONLY (i ≤ j) — round-19
    * opt: cv(i,j) and cv(j,i) sum the identical per-row products
    * xi·xj in the identical row order, so the mirror is bit-exact and
    * emitting one triangle halves the hash-aggregate work (consumers
    * fill cm(j)(i) = cm(i)(j) on the driver). */
  private[graft] def pcaScatterUpper(
      s: SparkSession, d: String, ms: Array[Double]): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
    // center once per row (64-element HOF over the literal fit means —
    // cheap), then expand to the d² products with two CHAINED posexplode
    // generators: generators run inside whole-stage codegen as nested
    // loops, where an equivalent per-row transform() building 4096
    // structs would be interpreted (HOFs are CodegenFallback) — measured
    // 3× slower. Partial aggregation still collapses every task to
    // ≤2080 groups before the only shuffle.
    val msLit = array(ms.map(lit(_)): _*)
    t.select(col("vec_id"),
        transform(col("e"), (x, k) => x - element_at(msLit, k + 1)).as("ec"))
      .select(col("ec"), posexplode(col("ec")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("ec")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(round(sum(col("xi") * col("xj")), 9).as("cv"))
  }

  /** Spark's round(x, n) (BigDecimal HALF_UP) replicated exactly so the
    * driver-local fit arithmetic cannot drift from the oracle. */
  private def rnd(x: Double, sc: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The PCA fit shared by [[embedPca]] (reports the loadings) and
    * [[embedProject]] (applies them): 9-dp per-dimension means + the
    * 6-dp-rounded top-eigenvector loadings. The corpus-touching work is
    * [[pcaScatter]]; the 64×64 scatter is collected to the driver
    * (k×dim-collect precedent, kmeansFit) and the 3-round power
    * iteration runs locally — 3 DataFrame matvec rounds would cost ~15
    * scheduler round-trips for arithmetic on 4096 doubles. */
  private[graft] def pcaFit(s: SparkSession, d: String): (Array[Double], Array[Double]) = {
    // round-19 opt: the means collect feeds the scatter centering as
    // literals (one corpus means pass, not two), and the scatter ships
    // only the upper triangle — the mirror is bit-exact (identical
    // products in identical row order)
    val means = pcaMeans(s, d)
    val cm = Array.ofDim[Double](64, 64)
    pcaScatterUpper(s, d, means).collect().foreach { r =>
      cm(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      cm(r.getInt(1))(r.getInt(0)) = r.getDouble(2)
    }
    var w = Array.fill(64)(0.125)
    for (_ <- 1 to 3) {
      val u = Array.tabulate(64) { i =>
        rnd((0 until 64).map(j => cm(i)(j) * w(j)).sum, 9)
      }
      val nn = math.sqrt(u.map(x => x * x).sum)
      w = u.map(x => rnd(x / nn, 9))
    }
    (means, w.map(rnd(_, 6)))
  }

  private val embedPca: QFn = (s, d) => {
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, DoubleType}
    val (_, w) = pcaFit(s, d)
    val wSchema = StructType(Seq(
      StructField("dim", IntegerType), StructField("loading", DoubleType)))
    val rows = (0 until 64).map(i => org.apache.spark.sql.Row(i, w(i)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), wSchema)
      .orderBy(col("dim"))
  }

  /** PCA projection — embed_pca APPLIED: every vector's coordinate on
    * the fitted top principal component (the 64-float → 1-float
    * compression / visualization / drift-tracking axis; embed_pca only
    * reported the loadings). The fit is the shared [[pcaFit]]; the
    * projection itself is one shuffle-free codegen pass — the centered
    * dot product runs as an in-row HOF over the broadcast-as-literal
    * (means, loadings) arrays. Float policy: each of the 64 products is
    * quantized to nano-units (⌊t·10⁹ + 0.5⌋, int64) BEFORE the fold —
    * the agg_chisq technique — because the oracle's per-dimension JOIN
    * sums the same terms in engine order; the quantized sum is
    * order-free and exact, one closing division. */
  private val embedProject: QFn = (s, d) => {
    val (ms, ws) = pcaFit(s, d)
    // round-18 opt: the fused codegen kernel pc1q replaces the
    // interpreted per-element transform+aggregate fold — identical
    // term order and double arithmetic, exact int64 adds (pinned in
    // TextSigSpec). The fit arrays enter as foldable literals.
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        call_function("pc1q", col("embedding"),
          array(ms.map(lit(_)): _*), array(ws.map(lit(_)): _*)).as("sq"))
      .select(col("vec_id"),
        (round(col("sq") / lit(1000000000.0), 6) + lit(0.0)).as("pc1"))
      .orderBy(col("vec_id"))
  }

  /** Perceptual-hash analog over the opaque blob (the image-dedup shape:
    * pHash buckets before any pairwise compare): split each blob into 16
    * equal byte blocks (byte at offset p belongs to block p·16 div n —
    * the direct inverse, so a generator can derive it per byte), bit b =
    * (block-b mean byte > whole-blob mean byte), giving a 16-bit content
    * signature that is robust to local edits the way a cryptographic
    * digest is not; docs sharing a signature form a candidate bucket
    * (the LSH-equality shape — a verify pass would run inside buckets
    * only, never all-pairs). The bit rule is the exact-integer
    * cross-multiplication block_sum·n > total_sum·block_len (no doubles
    * anywhere), so the signature is portable by construction. Like the
    * other multimodal ops the byte access is a decode stub over the text
    * column (container has no codecs).
    *
    * Shape (the embed_pca lesson, r4 commit 1509d1a): higher-order
    * functions are CodegenFallback, so the former per-block
    * aggregate(transform(slice(…))) signature was the suite's slowest
    * query (~5 s). Now ONE posexplode generator (codegen'd nested loop)
    * → partial-aggregating groupBy(doc, block) that collapses each doc
    * to ≤16 rows before the only data-sized shuffle; the total is the
    * sum OF THE BLOCK SUMS (no second array pass), and the remaining
    * HOF folds a 16-element struct list. Bucket sizes come from a
    * groupBy(sig)+broadcast-join rather than a count-over window — no
    * sort, and a dominant signature can't skew a window partition;
    * ReuseExchange dedupes the shared per-doc aggregate under both
    * branches. */
  /** (doc_id, sig): the 16-block whole-blob perceptual signature over
    * any (doc_id, text) payload set — shared by multimodal_phash and
    * the pipeline_multimodal_e2e near-dup stage so the composition
    * cannot drift from the standalone operator. */
  private[operators] def phashSigs(docs: DataFrame): DataFrame = {
    // Round-18 opt: the fused codegen kernel [[graft.functions.TextSig
    // .phashSig16]] computes the identical exact-int64 block rule in
    // ONE generated-code call per row — replacing the former per-char
    // posexplode → partial-agg → collect_list → interpreted HOF fold
    // (one generated row per character plus two exchanges PER
    // CONSUMER). Equivalence to the pipeline formulation is pinned in
    // VectorSpec (same blocks, same cross-multiplication, same char
    // semantics as split('')+ascii), and every phash oracle is
    // unchanged.
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .filter(length(col("text")) >= 16L)
      .select(col("doc_id"), expr("phash_sig16(text)").as("sig"))
  }

  private val multimodalPhash: QFn = (s, d) => {
    val sig = phashSigs(Tables.documents(s, d).select(col("doc_id"), col("text")))
    val counts = sig.groupBy(col("sig")).agg(count(lit(1)).as("n_same_sig"))
    sig.join(broadcast(counts), "sig")
      .select(col("doc_id"), col("sig"), col("n_same_sig"))
      .orderBy(col("doc_id"))
  }

  /** Frame-level near-dup detection ACROSS documents — the video/image
    * segment-dedup shape (find the shared intro/boilerplate frames
    * before paying for per-pair compares): each blob splits into
    * non-overlapping 64-byte frames (ragged tail dropped so every
    * frame is exactly 64 bytes), each frame gets a 32-bit perceptual
    * signature (32 blocks of 2 bytes; bit = block sum above the frame
    * mean, spelled as the all-integer cross-multiplication
    * bsum·32 > ts — the multimodal_phash rule applied per frame), and
    * frames sharing a signature across ≥2 distinct docs are dup
    * candidates. Per-doc rollup: frame count, dup-frame count,
    * dup fraction. Scale shape: ONE posexplode generator (codegen) →
    * two partial-aggregating groupBys collapse chars → blocks →
    * frames before any data-sized shuffle; the bucket join is an
    * equality join on the signature (broadcast here — at corpus scale
    * it shuffles on sig, the LSH-bucket shape, never all-pairs).
    * Decode stub convention: text bytes stand in for pixels.
    *
    * Measured negative result (round 6): the audio_rms per-frame
    * generator rewrite (one row per frame, signature folded in-row via
    * aggregate(sequence(0,31)) + element_at into a bytes array) ran
    * 33 s steady vs this shape's 1.9 s at sf0.1 — CollapseProject
    * inlines the bytes/ts projections into the CodegenFallback HOF, so
    * transform(split(chunk)) re-evaluates per element_at, O(64²)
    * interpreted work per frame. The explode→partial-agg pipeline
    * stays in codegen and wins; do not "optimize" this back. */
  /** (doc_id, frame_no, sig): the 32-block all-integer perceptual frame
    * signature — shared by the cross-doc frame dedup and the
    * scene-change detector (one construction, two consumers, both
    * oracles mirror it CTE-for-CTE). */
  /** The corpus frame-sig table has THREE consumers (frame dedup,
    * scene detection, and their shared plan audits) and is bounded —
    * one row per 64-byte frame, int64 sig, never char-sized — so it is
    * a ScratchParquet artifact per fixture fingerprint (§7.4's
    * multi-consumer-lineage recipe: re-deriving from the char explode
    * re-scans the corpus per consumer, bench-visible at ~1.7 s per
    * re-derivation at sf0.1). */
  private def frameSigs(s: SparkSession, d: String): DataFrame =
    ScratchParquet.ensure(s, "frame_sigs", d, Tables.fingerprint(d, "documents"))(
      frameSigs(Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** The same construction over any (doc_id, text) payload set —
    * shared with pipeline_multimodal_e2e's scene-sampling stage
    * (graft-visible so PlanSpec can pin the map-side collapse). */
  private[graft] def frameSigs(docs: DataFrame): DataFrame = {
    // Round-18 opt (the phashSigs device per frame): the fused codegen
    // kernel [[graft.functions.TextSig.frameSigs32]] emits all of a
    // doc's per-64-char-frame 32-block signatures in one call —
    // posexplode over the RESULT array generates one row per FRAME
    // where the former pipeline generated one per CHARACTER and paid
    // two exchanges collapsing chars → blocks → frames. Identical
    // exact-int64 rule (bsum·32 > ts, ragged tail dropped); pinned in
    // VectorSpec, oracles unchanged.
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .filter(length(col("text")) >= 64L)
      .select(col("doc_id"), posexplode(expr("frame_sigs32(text)")))
      .select(col("doc_id"), col("pos").cast("long").as("frame_no"),
        col("col").as("sig"))
  }

  private val multimodalFrameDedup: QFn = (s, d) => {
    val sig = frameSigs(s, d)
    val buckets = sig.groupBy(col("sig"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    // buckets is one row per DISTINCT frame signature — bounded by the
    // corpus's total frame count, i.e. data-sized, NOT metadata-sized.
    // Deliberately unhinted: a broadcast() here would ship a
    // corpus-sized table to every executor (driver OOM at 100×). The
    // equality join on sig lets AQE broadcast only when it actually
    // fits, else shuffle both sides on sig (both are already
    // sig-keyed post-aggregate, so the shuffle carries int64 sigs +
    // counts, never frame data).
    sig.join(buckets, "sig")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
           sum(when(col("n_docs") >= 2L, 1L).otherwise(0L)).as("n_dup_frames"))
      .select(col("doc_id"), col("n_frames"), col("n_dup_frames"),
        (round(col("n_dup_frames").cast("double") / col("n_frames"), 6)
          + lit(0.0)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Scene-change detection over the frame signatures — the
    * frame-SAMPLING heuristic a video ingest runs before paying for
    * decode/embedding (keep one frame per scene instead of every
    * frame): consecutive frames whose 32-block signatures differ in
    * more than 14 blocks (the fixture distribution's median — a real
    * pipeline tunes this on labeled cuts) mark a boundary; scenes =
    * boundaries + 1. All-integer: XOR + bit_count on the int64 sigs,
    * so the boundary decision is bit-identical on any engine. Shape:
    * the per-char generator collapses map-side into frame sigs (the
    * frame_dedup plan), then ONE doc-partitioned lag window over
    * frame-count-sized rows — no cross-doc shuffle of anything
    * data-sized. Mean hamming is exact-int summed with one closing
    * division. */
  private val multimodalSceneDetect: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    frameSigs(s, d)
      .withColumn("prev", lag(col("sig"), 1).over(w))
      .withColumn("ham",
        when(col("prev").isNotNull,
          expr("CAST(bit_count(sig ^ prev) AS BIGINT)")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
           (sum(when(col("ham") > 14L, 1L).otherwise(0L)) + lit(1L))
             .as("n_scenes"),
           sum(col("ham")).as("ham_sum"),
           count(col("ham")).as("n_trans"))
      .select(col("doc_id"), col("n_frames"), col("n_scenes"),
        when(col("n_trans") > 0L,
          round(col("ham_sum").cast("double") / col("n_trans"), 6) + lit(0.0))
          .as("mean_ham"))
      .orderBy(col("doc_id"))
  }

  /** documents⨝embeddings (doc_id=vec_id): correlation of text length vs
    * embedding L2 norm per label. */
  private val multimodalJoin: QFn = (s, d) => {
    val doc = Tables.documents(s, d)
    val e = Tables.embeddings(s, d)
    doc.join(e, doc("doc_id") === e("vec_id"))
      .select(col("label"), length(col("text")).cast(DoubleType).as("tlen"),
              sqrt(graft.functions.GraftFunctions.sumSqF32(col("embedding"))).as("l2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           // + 0.0 folds DuckDB's -0.0 when corr rounds to zero from below
           (round(corr(col("tlen"), col("l2")), 6) + lit(0.0)).as("len_norm_corr"))
      .orderBy(col("label"))
  }

  /** CLIP-score image-text alignment gate — the LAION/DataComp curation
    * step this family was missing: web-scale image-text corpora are
    * filtered by cosine(text_embedding, image_embedding) ≥ τ before any
    * other gate runs (LAION-400M kept pairs at CLIP score ≥ 0.3; DataComp
    * made the threshold the primary baseline axis). The image side is the
    * fixture embedding (doc_id = vec_id, the multimodal_join pairing);
    * the text side is the text_hash_features 64-bucket hashed
    * bag-of-tokens — the same vocabulary-free featurizer, landing in the
    * SAME 64-dim space as the image vector, so the alignment score is a
    * real sparse×dense cosine (a deterministic stand-in for the text
    * tower; the container has no model weights — SURVEY §2.I multimodal
    * stub contract).
    *
    * Determinism: embedding values are quantized per-DIMENSION to integer
    * MICROS (floor(x·1e6 + 0.5) on the exact float→double value) before
    * anything sums, so dot = Σ cnt_b·evq_b and both norms are exact
    * int64 folds — order-free across partitions, identical in DuckDB —
    * and the gate compares the identical double quotient (τ = 0.01 can
    * never drift). Scores straddle zero → the +0.0 fold on the rounded
    * display column (multimodal_join's -0.0 note).
    *
    * Scale: one token explode → per-(doc, bucket) count with map-side
    * combine, collapsed to ONE ≤64-entry row per doc (round-19 opt —
    * the former shape posexploded every embedding to 64 (vec_id, dim)
    * rows and equi-joined ≤64 rows per doc; exact-integer commutativity
    * makes the in-row fold bit-identical); the join ships one compact
    * row per doc against one row per vector, and the vec-sized norm
    * table joins UNHINTED (AQE broadcasts while it fits, shuffles when
    * data-sized). 100 TB: linear, no all-pairs, no global state. */
  /** The scoring core behind multimodal_clip_filter, parameterized over
    * caller DataFrames (api.GraftOps.clipAlignment delegates here; the
    * declared rung applies THIS function — no-drift posture). `docs` must
    * carry (doc_id, text); `embeds` (vec_id, embedding). Returns one row
    * per paired doc: (doc_id, sraw) with sraw the raw alignment cosine —
    * callers round/gate. The embedding dimension must be ≥ 64 (the text
    * featurizer's fixed bucket width; extra dims only add norm mass) —
    * enforced at run time by a raise_error inside esq, since a shorter
    * vector would silently drop high buckets from dot and tsq. */
  private[graft] def clipAlignmentOn(docs: DataFrame, embeds: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("bkt",
        graft.functions.GraftFunctions.md5Prefix48(col("tok")) % 64L)
      .groupBy(col("doc_id"), col("bkt")).agg(count(lit(1)).as("cnt"))
    val eq = embeds.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))")
        .as("evq"))
    // round-19 opt (VERDICT item 7): dq and tsq are exact int64 sums, so
    // the fold is ORDER-FREE — collapse each doc's ≤64 bucket counts to
    // one row first and fold against the un-exploded quantized vector
    // in-row. The former shape posexploded every embedding into 64
    // (vec_id, dim) rows and equi-joined ~64 rows per doc; this joins
    // ONE row per doc against ONE row per vector and reduces nothing
    // downstream (bit-identical dq/tsq by exact-integer commutativity).
    val tfd = tf.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("bkt"), col("cnt"))).as("bc"))
    val doc = tfd.join(eq, tfd("doc_id") === eq("vec_id"))
      .select(col("doc_id"),
        expr("aggregate(bc, CAST(0 AS BIGINT), (a, s) -> a + s.cnt * evq[CAST(s.bkt AS INT)])")
          .as("dq"),
        expr("aggregate(bc, CAST(0 AS BIGINT), (a, s) -> a + s.cnt * s.cnt)")
          .as("tsq"))
    // the dimension precondition enforced AT RUN TIME inside esq (the
    // one term every consumer evaluates — a standalone check column
    // would be pruned away): a <64-dim vector would otherwise silently
    // drop high buckets from dot and tsq and gate on a wrong cosine
    val en = eq.select(col("vec_id"),
      expr("""CASE WHEN size(evq) < 64 THEN CAST(raise_error(
                'clipAlignment: embedding dimension must be >= 64 '
                || '(the 64-bucket text featurizer indexes dims 1-64)') AS BIGINT)
              ELSE aggregate(evq, CAST(0 AS BIGINT), (a, x) -> a + x * x)
              END""").as("esq"))
    doc.join(en, doc("doc_id") === en("vec_id"))
      .select(col("doc_id"),
        (col("dq").cast(DoubleType) /
          (sqrt(col("tsq").cast(DoubleType)) * sqrt(col("esq").cast(DoubleType))))
          .as("sraw"))
  }

  private val multimodalClipFilter: QFn = (s, d) => {
    val scores = clipAlignmentOn(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    scores
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        scores("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("label"),
        (round(col("sraw"), 6) + lit(0.0)).as("clip_score"),
        (col("sraw") > 0.01).as("kept"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Binary (1-bit) embedding quantization + Hamming retrieval — the
  // 64×-compression deployment rung of the quantization ladder
  // (f32 → int8 `embed_quantize` → PQ `embed_pq` → sign bits here).
  // At 100 TB a 64-dim f32 corpus is 256 B/vector; the sign code is
  // 8 B/vector and the scan distance is two XOR+POPCNT ops — the shape
  // binary-embedding retrieval systems ship. All-integer end to end,
  // so every rung below is fully DuckDB-oracled (unlike the k-means
  // quantizers, binarization has no iterative fit).
  // ------------------------------------------------------------------

  /** Declared binarization rung: [[GraftOps.signBinarize]] — the packed
    * code plus the population count (a balance diagnostic — a healthy
    * embedding distribution binarizes to ~half the bits set; heavy skew
    * means the sign grid carries little information and Hamming recall
    * will be poor). */
  private val embedBinarize: QFn = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id") +: codeFields("code_hi", "code_lo", "n_pos"): _*)
      .orderBy(col("vec_id"))

  /** Fields of [[GraftOps.signBinarize]] over the embedding, each
    * extracted in the projection that builds the struct: the optimizer
    * then reduces every field to its own expression (a struct
    * projected first and read by a later projection stays a struct). */
  private def codeFields(names: String*): Seq[Column] = {
    val b = GraftOps.signBinarize(col("embedding"))
    names.map(n => b.getField(n).as(n))
  }

  /** The embeddings with their sign-code halves (code_hi, code_lo)
    * beside them — one shuffle-free projection over the scan, shared
    * by every Hamming rung. */
  private def withCodes(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(Seq(col("vec_id"), col("embedding")) ++ codeFields("code_hi", "code_lo"): _*)

  /** [[GraftOps.hammingDistance]] between (code_hi, code_lo) and the
    * broadcast query halves (qhi, qlo). */
  private val ham: Column = GraftOps.hammingDistance(
    col("code_hi"), col("code_lo"), col("qhi"), col("qlo"))

  /** Hamming top-10 for 5 query codes over the binarized corpus — the
    * cheap first-pass retrieval: one corpus pass × a broadcast query
    * batch (sim_knn_batch's shape), distance = 2 XOR+POPCNT inside
    * codegen, per-query rank window on the integer distance with
    * vec_id tie-break (total order — Hamming ties are common by
    * construction, so the tie-break is load-bearing here). 100 TB:
    * linear scan of 8-byte codes, no corpus shuffle. */
  private val simKnnHamming: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val c = withCodes(s, d)
    val q = c.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"),
        col("code_hi").as("qhi"), col("code_lo").as("qlo"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ham").asc, col("vec_id").asc)
    c.filter(col("vec_id") >= 5L)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"), ham.as("ham"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn").cast(LongType).as("rank"),
        col("vec_id"), col("ham"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Detector-quality rung for the 64-bit sign code (ivf_eval posture):
    * per query, exact full-precision cosine top-10 is truth, Hamming
    * top-10 is the candidate, overlap = recall@10. This is the number
    * that justifies (or kills) shipping the 64×-compressed index — and
    * unlike ivf_eval's 3-bit grid this measures the code actually
    * deployed by sim_knn_hamming/sim_knn_rerank. */
  private val hammingEval: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = withCodes(s, d)
    val q = e.filter(col("vec_id") < 20L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("code_hi").as("qhi"), col("code_lo").as("qlo"))
    // both rankings come off ONE crossJoin pass and one
    // hashpartitioning(qid) exchange (two sorts — the orderings differ)
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.GraftFunctions.cosineF32(col("embedding"), col("qe")).as("cs"),
        ham.as("ham"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))
    val wH = Window.partitionBy(col("qid")).orderBy(col("ham").asc, col("vec_id"))
    cand
      .withColumn("rne", row_number().over(wE))
      .withColumn("rnh", row_number().over(wH))
      .groupBy(col("qid"))
      .agg(sum(when(col("rne") <= 10, 1L).otherwise(0L)).as("n_exact"),
           sum(when(col("rne") <= 10 && col("rnh") <= 10, 1L).otherwise(0L))
             .as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  /** Two-stage retrieval cascade — how binary codes are actually
    * deployed: a Hamming shortlist (top-50 by the 8-byte code, the
    * only pass that touches the whole corpus) re-ranked by exact f32
    * cosine (touches 50 vectors). Stage 1 is a
    * TakeOrderedAndProject over codegen'd XOR+POPCNT; stage 2 reads
    * full vectors ONLY for the shortlist — at 100 TB that's the
    * difference between streaming 8 B/vector and 256 B/vector through
    * the scan. The final order is on the rounded cosine with vec_id
    * tie-break (sim_knn's determinism recipe). */
  private val simKnnRerank: QFn = (s, d) => {
    val e = withCodes(s, d)
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"),
        col("code_hi").as("qhi"), col("code_lo").as("qlo"))
    e.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .withColumn("ham", ham)
      .orderBy(col("ham").asc, col("vec_id").asc)
      .limit(50)
      .select(col("vec_id"), col("ham"),
        (round(graft.functions.GraftFunctions.cosineF32(col("embedding"), col("qe")), 6)
          + lit(0.0)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Contrastive hard-negative mining — the embedding-TRAINING data
    * operator (every dual-encoder recipe needs, per anchor, the most
    * similar examples that are NOT the same class): for 10 anchor
    * vectors, the top-3 by cosine among vectors with a different
    * `label`, capped below 0.95 to exclude near-duplicates (a
    * duplicate mislabeled as a negative poisons the loss — the
    * false-negative filter every large-scale mining pipeline runs).
    * Broadcast anchor batch × one corpus pass; ranking on the raw
    * double cosine (identical fold both engines — the ivf_eval
    * precedent) with vec_id tie-break. 100 TB: per-anchor cost is one
    * corpus scan amortized across the whole broadcast batch; the
    * at-scale variant shards anchors into batches exactly like
    * sim_knn_batch. */
  private val simHardNegatives: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlab"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlab"))
      // codegen cosine (bit-identical to the HOF fold, VectorSpec)
      .withColumn("cs", expr("cosine_f32(embedding, qe)"))
      .filter(col("cs") < 0.95)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn").cast(LongType).as("rank"), col("vec_id"),
        col("label").as("neg_label"),
        (round(col("cs"), 6) + lit(0.0)).as("cos_sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Hybrid retrieval fusion — [[GraftOps.rrfFuse]] (Reciprocal Rank
    * Fusion, Cormack, Clarke & Buettcher 2009; k = 60, the standard
    * constant) over the two retrieval legs this engine already serves:
    * the text_bm25 lexical ranking and the [[GraftOps.knnCosine]]
    * top-10 of the first 5 vectors, bridged by the fixture's
    * doc_id == vec_id contract. This is the fusion step
    * a production RAG stack runs between retrieval and rerank — BM25
    * catches exact-term matches embeddings miss, embeddings catch
    * paraphrases BM25 misses, and RRF folds the two WITHOUT score
    * calibration (ranks only):
    *
    *   rrf(q, d) = Σ_legs 1/(60 + rank_leg(q, d)), missing leg → 0
    *
    * Determinism: both legs' ranks are exact integers (tie-broken
    * rank windows), each 1/(60+r) term is a double of exact-integer
    * input mirrored op-for-op in the oracle, the two-term sum has a
    * fixed spelling (bm-term + cos-term), and the fused ranking
    * tie-breaks on doc_id — engine-exact end to end, so the rung is
    * fully oracled (rare for a fusion stage). A provable structural
    * law rides the constants: min both-leg score 2/70 > max
    * single-leg score 1/61, so every doc in BOTH top-10s outranks
    * every single-leg doc (VectorSpec asserts it live). Scale: each
    * leg is its own bounded top-10 (the legs' own 100 TB shapes —
    * posting-list join, broadcast query batch × one corpus pass); the
    * fusion itself joins two ≤10·|queries|-row tables — free. */
  private val simHybridRrf: QFn = (s, d) => {
    val e = Tables.embeddings(s, d)
    val cosLeg = GraftOps.knnCosine(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5L), col("vec_id"), col("embedding"),
        k = 10, excludeSelf = true)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    GraftOps.rrfFuse(
      LlmText.bm25TopK(s, d).select(col("qid"), col("doc_id"), col("rank")),
      cosLeg)
  }

  /** Voice-activity segmentation over the audio-stub frames — the step
    * after multimodal_audio_rms's silence gate: group CONSECUTIVE
    * active frames into speech segments (what an ASR ingest feeds the
    * transcriber, one segment per utterance). Frames reuse the
    * audio_rms shape at a FINER 64-byte granularity (VAD hop sizes are
    * 10-30 ms vs RMS's coarser windows; 64 B gives ~5 frames/doc on the
    * fixture so segmentation is non-trivial — at 256 B nearly every doc
    * was one all-active frame) with the in-row exact Σ(b−128)² fold;
    * active = the all-integer gate ssq ≥ τ²·len at τ=45 (measured to
    * split the fixture's frames ≈44% active / 56% silent — τ=35, the
    * RMS rung's gate, marks 98% active here); islands via the
    * classic gaps-and-islands key (frame − running-active-count) built
    * with ONE per-doc window pass — no self-join, no second scan — then
    * two map-side-combining aggregations (per-(doc, island), per-doc).
    * Inactive frames carry a NULL island so one grouping pass counts
    * both populations. All outputs integer or exact-rational. 100 TB:
    * the window partitions by doc (bounded by blob size), the shuffles
    * carry (doc, frame) rows — linear. */
  private val multimodalAudioVad: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(s)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (length(text) - 1) div 64), f -> substring(text, f * 64 + 1, 64))"))
        .as(Seq("frame", "chunk")))
      .select(col("doc_id"), col("frame").cast(LongType).as("frame"),
        length(col("chunk")).cast(LongType).as("flen"),
        // fused codegen Σ(cp−128)² (round-18 opt; identical exact
        // int64 char-order sum — VectorSpec pins the equivalence)
        expr("ssq128(chunk)").as("ssq"))
      .withColumn("active", col("ssq") >= lit(2025L) * col("flen"))
      .withColumn("apre",
        sum(when(col("active"), 1L).otherwise(0L)).over(w))
      .withColumn("isl", when(col("active"), col("frame") - col("apre")))
      .groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_frames"),
           sum(when(col("isl").isNotNull, col("n")).otherwise(0L)).as("n_active"),
           count(col("isl")).as("n_segments"),
           coalesce(max(when(col("isl").isNotNull, col("n"))), lit(0L))
             .as("longest_seg"))
      .select(col("doc_id"), col("n_frames"), col("n_active"),
        col("n_segments"), col("longest_seg"),
        round(col("n_active").cast(DoubleType) / col("n_frames"), 6)
          .as("active_ratio"))
      .orderBy(col("doc_id"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "sim_cosine_pairs" -> simCosinePairs,
    "sim_knn" -> simKnn,
    "sim_knn_batch" -> simKnnBatch,
    "sim_range_search" -> simRangeSearch,
    "sink_ann_index" -> sinkAnnIndex,
    "sim_knn_ivf" -> simKnnIvf,
    "ann_upsert" -> annUpsert,
    "ivf_eval" -> ivfEval,
    "ivf_nprobe_curve" -> ivfNprobeCurve,
    "embed_truncate_eval" -> embedTruncateEval,
    "sim_mmr" -> simMmr,
    "sim_knn_ivfpq" -> simKnnIvfPq,
    "multimodal_scene_detect" -> multimodalSceneDetect,
    "sim_centroids" -> simCentroids,
    "sim_kmeans" -> simKmeans,
    "embed_pq" -> embedPq,
    "sim_knn_pq" -> simKnnPq,
    "dedup_embcos" -> dedupEmbcos,
    "dedup_eval_embcos" -> dedupEvalEmbcos,
    "embed_quantize" -> embedQuantize,
    "embed_norm" -> embedNorm,
    "embed_pca" -> embedPca,
    "embed_project" -> embedProject,
    "multimodal_meta" -> multimodalMeta,
    "multimodal_mime" -> multimodalMime,
    "multimodal_frames" -> multimodalFrames,
    "multimodal_audio_rms" -> multimodalAudioRms,
    "multimodal_resize" -> multimodalResize,
    "multimodal_phash" -> multimodalPhash,
    "multimodal_frame_dedup" -> multimodalFrameDedup,
    "multimodal_join" -> multimodalJoin,
    "multimodal_clip_filter" -> multimodalClipFilter,
    "embed_binarize" -> embedBinarize,
    "sim_knn_hamming" -> simKnnHamming,
    "hamming_eval" -> hammingEval,
    "sim_knn_rerank" -> simKnnRerank,
    "sim_hard_negatives" -> simHardNegatives,
    "sim_hybrid_rrf" -> simHybridRrf,
    "multimodal_audio_vad" -> multimodalAudioVad,
  )

  /** The packed-sign-code construction as a DuckDB CTE ending in
    * `bc(vec_id, code_hi, code_lo)` — generated from the same >= 0
    * convention and 32-bit halves as the `sign_pack32` kernel, shared
    * by the binarize/Hamming oracles so they cannot drift apart. */
  private val duckBinCodesCte: String =
    """bbit AS (SELECT vec_id, CAST(i AS BIGINT) AS i,
                       CASE WHEN embedding[i + 1] >= 0 THEN 1 ELSE 0 END AS bit
                FROM embeddings, unnest(range(0, 64)) AS u(i)),
       bc AS MATERIALIZED (SELECT vec_id,
               CAST(sum(CASE WHEN i >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (i - 32))
                             ELSE 0 END) AS BIGINT) AS code_hi,
               CAST(sum(CASE WHEN i < 32
                             THEN bit * (CAST(1 AS BIGINT) << i)
                             ELSE 0 END) AS BIGINT) AS code_lo,
               CAST(sum(bit) AS BIGINT) AS n_pos
             FROM bbit GROUP BY vec_id)"""

  private val duckHam =
    "CAST(bit_count(xor(code_hi, qhi)) + bit_count(xor(code_lo, qlo)) AS BIGINT)"

  private val duckPairCos = duckCos("ea", "eb")

  /** The embcos candidate/verify pipeline as composable DuckDB CTEs —
    * em-prefixed names so they co-exist with the minhash/simhash pair
    * CTEs in ONE WITH clause (the dedup_clusters_multimodal oracle).
    * Mirrors ensureEmbcosAnchors' persisted 2-Lloyd fit exactly (one
    * unrolled assign per iteration: bit-identical l2sq fold, ties by
    * min cid, 9-dp-rounded per-dimension means), then the round-7
    * HIERARCHICAL assignment ([[coarseFit]]): a second 2-Lloyd fit over
    * the anchor set itself (⌈n¼⌉ coarse centroids, same determinism
    * recipe), anchor→3-nearest-coarse map, vector→4-nearest-coarse
    * probe, 4 nearest anchors among the probed set (the round-9 recall
    * widths — [[ProbeCoarseCells]]/[[AnchorMapWidth]]/[[CellsPerVector]],
    * mirrored literally in the rn <= bounds below); ends at
    * `empairs(ia, ib, c)` — verified cosine pairs above the 0.4
    * near-dup threshold. */
  private[operators] val duckEmbcosPairsCtes: String = {
    def lloyd(prevCent: String, i: Int): String =
      s"""ema$i AS (SELECT vec_id, cid FROM (
                     SELECT e.vec_id, c.cid,
                            row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ${duckL2sq("e.ev", "c.cv")} ASC, c.cid ASC) AS rn
                     FROM eme e CROSS JOIN $prevCent c) t
                   WHERE rn = 1),
            emt$i AS (SELECT ema$i.cid, CAST(unnest(range(len(e.ev))) AS BIGINT) AS pos,
                             unnest(e.ev) AS val
                      FROM ema$i JOIN eme e USING (vec_id)),
            emc$i AS MATERIALIZED (SELECT cid, list(c ORDER BY pos ASC) AS cv
                      FROM (SELECT cid, pos, round(avg(val), 9) AS c
                            FROM emt$i GROUP BY cid, pos) g
                      GROUP BY cid)"""
    // coarse Lloyd iteration over the ANCHOR table emc2 (cid, cv):
    // assign each anchor to its nearest coarse centroid, re-mean at 9 dp
    def glloyd(prevCent: String, i: Int): String =
      s"""emga$i AS (SELECT cid, gid FROM (
                      SELECT a.cid, g.gid,
                             row_number() OVER (PARTITION BY a.cid
                               ORDER BY ${duckL2sq("a.cv", "g.gv")} ASC, g.gid ASC) AS rn
                      FROM emc2 a CROSS JOIN $prevCent g) t
                    WHERE rn = 1),
            emgt$i AS (SELECT emga$i.gid, CAST(unnest(range(len(a.cv))) AS BIGINT) AS pos,
                              unnest(a.cv) AS val
                       FROM emga$i JOIN emc2 a USING (cid)),
            emg$i AS MATERIALIZED (SELECT gid, list(c ORDER BY pos ASC) AS gv
                      FROM (SELECT gid, pos, round(avg(val), 9) AS c
                            FROM emgt$i GROUP BY gid, pos) g
                      GROUP BY gid)"""
    s"""eme AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings),
          emc0 AS (SELECT vec_id AS cid, ev AS cv FROM eme
                   WHERE vec_id < (SELECT ceil(sqrt(count(*))) FROM eme)),
          ${lloyd("emc0", 1)},
          ${lloyd("emc1", 2)},
          emg0 AS (SELECT cid AS gid, cv AS gv FROM emc2
                   WHERE cid < (SELECT ceil(sqrt(count(*))) FROM emc2)),
          ${glloyd("emg0", 1)},
          ${glloyd("emg1", 2)},
          emmap AS MATERIALIZED (SELECT cid, gid FROM (
                      SELECT a.cid, g.gid,
                             row_number() OVER (PARTITION BY a.cid
                               ORDER BY ${duckL2sq("a.cv", "g.gv")} ASC, g.gid ASC) AS rn
                      FROM emc2 a CROSS JOIN emg2 g) t
                    WHERE rn <= 3),
          emvg AS MATERIALIZED (SELECT vec_id, gid FROM (
                     SELECT e.vec_id, g.gid,
                            row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ${duckCos("e.ev", "g.gv")} DESC NULLS LAST, g.gid ASC) AS rn
                     FROM eme e CROSS JOIN emg2 g) t
                   WHERE rn <= 4),
          emsc AS (SELECT vc.vec_id, vc.a_id, ${duckCos("e.ev", "c.cv")} AS acos
                   FROM (SELECT DISTINCT v.vec_id, m.cid AS a_id
                         FROM emvg v JOIN emmap m USING (gid)) vc
                        JOIN emc2 c ON c.cid = vc.a_id
                        JOIN eme e ON e.vec_id = vc.vec_id),
          emcells AS MATERIALIZED (SELECT vec_id, a_id AS cell FROM (
                        SELECT vec_id, a_id,
                               row_number() OVER (PARTITION BY vec_id
                                 ORDER BY acos DESC NULLS LAST, a_id ASC) AS rn
                        FROM emsc) t
                      WHERE rn <= 4),
          emcand AS (SELECT DISTINCT x.vec_id ia, y.vec_id ib
                     FROM emcells x JOIN emcells y
                       ON x.cell = y.cell AND x.vec_id < y.vec_id),
          emp AS (SELECT ia, ib, ea.ev ea, eb.ev eb
                  FROM emcand JOIN eme ea ON ea.vec_id = ia
                              JOIN eme eb ON eb.vec_id = ib),
          empairs AS MATERIALIZED (SELECT ia, ib, c FROM
                        (SELECT ia, ib, $duckPairCos AS c FROM emp) t
                      WHERE c > 0.4)"""
  }

  /** The embed_pca fit as DuckDB CTEs (means → centered scatter → 3
    * power-iteration rounds, every aggregate 9-dp-rounded exactly like
    * the Spark fit) — shared by embed_pca and embed_project. */
  private val duckPcaCtes =
    """t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
            x AS (SELECT vec_id, generate_subscripts(e, 1) - 1 AS i, unnest(e) AS xi FROM t),
            m AS (SELECT i, round(avg(xi), 9) AS mi FROM x GROUP BY i),
            xc AS (SELECT vec_id, i, xi - mi AS xc FROM x JOIN m USING (i)),
            c AS (SELECT a.i AS i, b.i AS j, round(sum(a.xc * b.xc), 9) AS cv
                  FROM xc a JOIN xc b USING (vec_id) GROUP BY a.i, b.i),
            w0 AS (SELECT i AS j, 0.125 AS wj FROM range(64) r(i)),
            u1 AS (SELECT c.i AS i, round(sum(cv * wj), 9) AS ui
                   FROM c JOIN w0 ON c.j = w0.j GROUP BY c.i),
            n1 AS (SELECT sqrt(sum(ui * ui)) AS nn FROM u1),
            w1 AS (SELECT i AS j, round(ui / nn, 9) AS wj FROM u1 CROSS JOIN n1),
            u2 AS (SELECT c.i AS i, round(sum(cv * wj), 9) AS ui
                   FROM c JOIN w1 ON c.j = w1.j GROUP BY c.i),
            n2 AS (SELECT sqrt(sum(ui * ui)) AS nn FROM u2),
            w2 AS (SELECT i AS j, round(ui / nn, 9) AS wj FROM u2 CROSS JOIN n2),
            u3 AS (SELECT c.i AS i, round(sum(cv * wj), 9) AS ui
                   FROM c JOIN w2 ON c.j = w2.j GROUP BY c.i),
            n3 AS (SELECT sqrt(sum(ui * ui)) AS nn FROM u3),
            w3 AS (SELECT i AS j, round(ui / nn, 9) AS wj FROM u3 CROSS JOIN n3)"""

  val oracles: Seq[(String, String)] = Seq(
    "embed_binarize" ->
      s"""WITH $duckBinCodesCte
          SELECT vec_id, code_hi, code_lo, n_pos
          FROM bc ORDER BY vec_id ASC NULLS FIRST""",
    "sim_knn_hamming" ->
      s"""WITH $duckBinCodesCte,
            q AS (SELECT vec_id qid, code_hi qhi, code_lo qlo
                  FROM bc WHERE vec_id < 5),
            c AS (SELECT qid, vec_id, $duckHam AS ham
                  FROM bc CROSS JOIN q WHERE vec_id >= 5),
            r AS (SELECT qid, vec_id, ham, row_number() OVER (PARTITION BY qid
                    ORDER BY ham ASC, vec_id ASC) rn FROM c)
          SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id, ham
          FROM r WHERE rn <= 10
          ORDER BY qid ASC NULLS FIRST, rank ASC NULLS FIRST""",
    "hamming_eval" ->
      s"""WITH $duckBinCodesCte,
            e AS (SELECT bc.vec_id, CAST(embedding AS DOUBLE[]) ev,
                         code_hi, code_lo
                  FROM bc JOIN embeddings USING (vec_id)),
            q AS (SELECT vec_id qid, ev qe, code_hi qhi, code_lo qlo
                  FROM e WHERE vec_id < 20),
            c AS (SELECT qid, vec_id, ${duckCos("ev", "qe")} AS cs, $duckHam AS ham
                  FROM e CROSS JOIN q WHERE vec_id <> qid),
            ex AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs DESC NULLS LAST, vec_id ASC) rn FROM c) t
                   WHERE rn <= 10),
            ap AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY ham ASC, vec_id ASC) rn FROM c) t
                   WHERE rn <= 10),
            j AS (SELECT ex.qid,
                         CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END hit
                  FROM ex LEFT JOIN ap
                    ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id)
          SELECT qid, CAST(count(*) AS BIGINT) AS n_exact,
                 CAST(sum(hit) AS BIGINT) AS n_hit,
                 CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_10
          FROM j GROUP BY qid ORDER BY qid ASC NULLS FIRST""",
    "sim_knn_rerank" ->
      s"""WITH $duckBinCodesCte,
            e AS (SELECT bc.vec_id, CAST(embedding AS DOUBLE[]) ev,
                         code_hi, code_lo
                  FROM bc JOIN embeddings USING (vec_id)),
            q AS (SELECT ev qe, code_hi qhi, code_lo qlo FROM e WHERE vec_id = 0),
            sl AS (SELECT vec_id, ev, $duckHam AS ham
                   FROM e CROSS JOIN q WHERE vec_id <> 0
                   ORDER BY ham ASC, vec_id ASC LIMIT 50)
          SELECT vec_id, ham,
                 round(${duckCos("ev", "qe")}, 6) + 0.0 AS cos_sim
          FROM sl CROSS JOIN q
          ORDER BY cos_sim DESC NULLS LAST, vec_id ASC LIMIT 10""",
    "sim_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev, label
                     FROM embeddings),
            q AS (SELECT vec_id qid, ev qe, label qlab FROM e WHERE vec_id < 10),
            c AS (SELECT qid, vec_id, label, ${duckCos("ev", "qe")} AS cs
                  FROM e CROSS JOIN q WHERE label <> qlab),
            r AS (SELECT qid, vec_id, label, cs, row_number() OVER (
                    PARTITION BY qid ORDER BY cs DESC NULLS LAST, vec_id ASC) rn
                  FROM c WHERE cs < 0.95)
          SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id,
                 label AS neg_label, round(cs, 6) + 0.0 AS cos_sim
          FROM r WHERE rn <= 3
          ORDER BY qid ASC NULLS FIRST, rank ASC NULLS FIRST""",
    "sim_hybrid_rrf" ->
      s"""WITH ${LlmText.bm25OracleCtes},
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev
                  FROM embeddings),
            q AS (SELECT vec_id qid, ev qe FROM e WHERE vec_id < 5),
            cc AS (SELECT qid, vec_id, ${duckCos("ev", "qe")} AS cs
                   FROM e CROSS JOIN q WHERE vec_id <> qid),
            ct AS (SELECT qid, vec_id AS doc_id, rc FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs DESC NULLS LAST, vec_id ASC) rc
                     FROM cc) t
                   WHERE rc <= 10),
            bl AS (SELECT qid, doc_id, rb FROM bml WHERE rb <= 10),
            f AS (SELECT qid, doc_id,
                         coalesce(1.0 / (60.0 + rb), 0.0)
                           + coalesce(1.0 / (60.0 + rc), 0.0) AS rrf,
                         CAST((CASE WHEN rb IS NOT NULL THEN 1 ELSE 0 END)
                            + (CASE WHEN rc IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_legs
                  FROM bl FULL JOIN ct USING (qid, doc_id))
          SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
                 round(rrf, 6) + 0.0 AS rrf, n_legs
          FROM (SELECT qid, doc_id, rrf, n_legs,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY rrf DESC, doc_id ASC) rank
                FROM f) t
          WHERE rank <= 10
          ORDER BY qid ASC NULLS FIRST, rank ASC""",
    "multimodal_audio_vad" ->
      """WITH ch AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                            CAST(ascii(substr(text, i, 1)) AS BIGINT) AS b
                     FROM documents, unnest(range(1, length(text) + 1)) r(i)),
            fr AS (SELECT doc_id, pos // 64 AS frame, count(*) AS flen,
                          CAST(sum((b - 128) * (b - 128)) AS BIGINT) AS ssq
                   FROM ch GROUP BY doc_id, pos // 64),
            ac AS (SELECT doc_id, frame,
                          CASE WHEN ssq >= 2025 * flen THEN 1 ELSE 0 END AS active,
                          sum(CASE WHEN ssq >= 2025 * flen THEN 1 ELSE 0 END)
                            OVER (PARTITION BY doc_id ORDER BY frame
                                  ROWS UNBOUNDED PRECEDING) AS apre
                   FROM fr),
            seg AS (SELECT doc_id,
                           CASE WHEN active = 1 THEN frame - apre END AS isl,
                           count(*) AS n
                    FROM ac GROUP BY doc_id,
                           CASE WHEN active = 1 THEN frame - apre END)
          SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_frames,
                 CAST(sum(CASE WHEN isl IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
                   AS n_active,
                 CAST(count(isl) AS BIGINT) AS n_segments,
                 CAST(coalesce(max(CASE WHEN isl IS NOT NULL THEN n END), 0)
                   AS BIGINT) AS longest_seg,
                 round(CAST(sum(CASE WHEN isl IS NOT NULL THEN n ELSE 0 END)
                         AS DOUBLE) / sum(n), 6) AS active_ratio
          FROM seg GROUP BY doc_id
          ORDER BY doc_id ASC NULLS FIRST""",
    "sim_cosine_pairs" ->
      s"""WITH p AS (
            SELECT a.vec_id ia, b.vec_id ib,
                   CAST(a.embedding AS DOUBLE[]) ea, CAST(b.embedding AS DOUBLE[]) eb
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 200 AND b.vec_id < 200)
          SELECT ia, ib, round(c, 6) AS cos_sim
          FROM (SELECT ia, ib, $duckPairCos AS c FROM p) t
          WHERE c > 0.3
          ORDER BY ia ASC NULLS FIRST, ib ASC NULLS FIRST""",
    "sim_knn" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) eb FROM embeddings WHERE vec_id = 0),
           sc AS (SELECT vec_id, round($duckPairCos, 6) + 0.0 AS cos_sim
                  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) ea FROM embeddings
                        WHERE vec_id <> 0) e CROSS JOIN q)
          SELECT vec_id, cos_sim FROM sc
          ORDER BY cos_sim DESC NULLS LAST, vec_id ASC NULLS FIRST
          LIMIT 10""",
    "ivf_eval" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev,
                     CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END b0,
                     CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END b1,
                     CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END b2
              FROM embeddings),
            q AS (SELECT vec_id qid, ev qe, b0 q0, b1 q1, b2 q2
                  FROM e WHERE vec_id < 20),
            c AS (SELECT qid, vec_id, ${duckCos("ev", "qe")} AS cs,
                         abs(b0 - q0) + abs(b1 - q1) + abs(b2 - q2) AS ham
                  FROM e CROSS JOIN q WHERE vec_id <> qid),
            ex AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs DESC NULLS LAST, vec_id ASC) rn FROM c) t
                   WHERE rn <= 10),
            ap AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs DESC NULLS LAST, vec_id ASC) rn
                     FROM c WHERE ham <= 1) t
                   WHERE rn <= 10),
            j AS (SELECT ex.qid,
                         CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END hit
                  FROM ex LEFT JOIN ap
                    ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id)
          SELECT qid, CAST(count(*) AS BIGINT) AS n_exact,
                 CAST(sum(hit) AS BIGINT) AS n_hit,
                 CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_10
          FROM j GROUP BY qid ORDER BY qid ASC NULLS FIRST""",
    "ivf_nprobe_curve" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev,
                     CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END b0,
                     CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END b1,
                     CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END b2
              FROM embeddings),
            q AS (SELECT vec_id qid, ev qe, b0 q0, b1 q1, b2 q2
                  FROM e WHERE vec_id < 20),
            c AS (SELECT qid, vec_id, ${duckCos("ev", "qe")} AS cs,
                         abs(b0 - q0) + abs(b1 - q1) + abs(b2 - q2) AS ham
                  FROM e CROSS JOIN q WHERE vec_id <> qid),
            r AS (SELECT * FROM (VALUES (0, 1), (1, 4), (2, 7), (3, 8))
                  AS t(radius, nprobe)),
            ex AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs DESC NULLS LAST, vec_id ASC) rn FROM c) t
                   WHERE rn <= 10),
            ap AS (SELECT radius, qid, vec_id FROM (
                     SELECT r.radius, qid, vec_id,
                            row_number() OVER (PARTITION BY r.radius, qid
                              ORDER BY cs DESC NULLS LAST, vec_id ASC) rn
                     FROM c JOIN r ON c.ham <= r.radius) t
                   WHERE rn <= 10),
            j AS (SELECT r.radius, r.nprobe,
                         CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END hit
                  FROM ex CROSS JOIN r
                  LEFT JOIN ap ON ap.radius = r.radius AND ap.qid = ex.qid
                              AND ap.vec_id = ex.vec_id)
          SELECT radius, nprobe,
                 CAST(count(*) AS BIGINT) AS n_exact,
                 CAST(sum(hit) AS BIGINT) AS n_hit,
                 CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_10
          FROM j GROUP BY radius, nprobe
          ORDER BY radius ASC NULLS FIRST""",
    "embed_truncate_eval" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings),
            q AS (SELECT vec_id qid, ev qe FROM e WHERE vec_id < 20),
            c AS (SELECT qid, vec_id,
                         ${duckCos("ev", "qe")} AS cs_full,
                         ${duckCos("ev", "qe", 16)} AS cs_trunc
                  FROM e CROSS JOIN q WHERE vec_id <> qid),
            ex AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs_full DESC NULLS LAST, vec_id ASC) rn FROM c) t
                   WHERE rn <= 10),
            tr AS (SELECT qid, vec_id FROM (
                     SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY cs_trunc DESC NULLS LAST, vec_id ASC) rn FROM c) t
                   WHERE rn <= 10),
            j AS (SELECT ex.qid,
                         CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END hit
                  FROM ex LEFT JOIN tr
                    ON ex.qid = tr.qid AND ex.vec_id = tr.vec_id)
          SELECT qid, CAST(count(*) AS BIGINT) AS n_exact,
                 CAST(sum(hit) AS BIGINT) AS n_hit,
                 CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_10
          FROM j GROUP BY qid ORDER BY qid ASC NULLS FIRST""",
    "sim_mmr" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings),
            q AS (SELECT vec_id qid, ev qe FROM e WHERE vec_id < 5),
            cand AS (SELECT vec_id cid, ev ce FROM e
                     WHERE vec_id >= 20 AND vec_id < 120),
            rel AS (SELECT qid, cid, ce,
                           round(${duckCos("ce", "qe")}, 9) AS rel
                    FROM q CROSS JOIN cand),
            s1 AS (SELECT qid, cid AS sid1, ce AS se1, rel AS sc1 FROM (
                     SELECT qid, cid, ce, rel, row_number() OVER (PARTITION BY qid
                       ORDER BY rel DESC, cid ASC) rn FROM rel) t WHERE rn = 1),
            r2 AS MATERIALIZED (SELECT r.qid, r.cid, r.ce, r.rel,
                           round(${duckCos("r.ce", "s.se1")}, 9) AS sim1,
                           round(0.7 * r.rel
                                 - 0.3 * round(${duckCos("r.ce", "s.se1")}, 9), 9)
                             AS mmr
                    FROM rel r JOIN s1 s ON r.qid = s.qid
                    WHERE r.cid <> s.sid1),
            s2 AS (SELECT qid, cid AS sid2, ce AS se2, mmr AS sc2 FROM (
                     SELECT qid, cid, ce, mmr, row_number() OVER (PARTITION BY qid
                       ORDER BY mmr DESC, cid ASC) rn FROM r2) t WHERE rn = 1),
            r3 AS (SELECT r.qid, r.cid, r.rel,
                          round(0.7 * r.rel
                                - 0.3 * greatest(r.sim1,
                                    round(${duckCos("r.ce", "s.se2")}, 9)), 9)
                            AS mmr
                   FROM r2 r JOIN s2 s ON r.qid = s.qid
                   WHERE r.cid <> s.sid2),
            s3 AS (SELECT qid, cid AS sid3, mmr AS sc3 FROM (
                     SELECT qid, cid, mmr, row_number() OVER (PARTITION BY qid
                       ORDER BY mmr DESC, cid ASC) rn FROM r3) t WHERE rn = 1)
          SELECT qid, CAST(1 AS BIGINT) AS rank, sid1 AS vec_id,
                 round(sc1, 6) + 0.0 AS score FROM s1
          UNION ALL
          SELECT qid, CAST(2 AS BIGINT), sid2, round(sc2, 6) + 0.0 FROM s2
          UNION ALL
          SELECT qid, CAST(3 AS BIGINT), sid3, round(sc3, 6) + 0.0 FROM s3
          ORDER BY qid ASC NULLS FIRST, rank ASC NULLS FIRST""",
    "sim_knn_batch" ->
      s"""WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) eb FROM embeddings
                     WHERE vec_id < 10),
           e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ea FROM embeddings),
           sc AS (SELECT qid, vec_id, $duckPairCos AS c
                  FROM e CROSS JOIN q WHERE vec_id <> qid),
           r AS (SELECT qid, vec_id, c,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY c DESC NULLS LAST, vec_id ASC) AS rank
                 FROM sc)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, round(c, 6) + 0.0 AS cos_sim
          FROM r WHERE rank <= 5
          ORDER BY qid ASC NULLS FIRST, rank ASC NULLS FIRST""",
    "sim_range_search" ->
      s"""WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) eb FROM embeddings
                     WHERE vec_id < 10),
           e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ea FROM embeddings
                 WHERE vec_id >= 10),
           sc AS (SELECT qid, vec_id, $duckPairCos AS c FROM e CROSS JOIN q)
          SELECT qid, vec_id, round(c, 6) AS cos_sim
          FROM sc WHERE c >= 0.3
          ORDER BY qid ASC NULLS FIRST, vec_id ASC NULLS FIRST""",
    "sim_centroids" ->
      """WITH terms AS (
            SELECT vec_id, label,
                   CAST(unnest(range(len(embedding))) AS BIGINT) AS pos,
                   unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings),
          cent AS (SELECT label, pos, avg(v) AS c FROM terms GROUP BY label, pos)
          SELECT t.vec_id, t.label, round(sqrt(sum((t.v - c.c) * (t.v - c.c))), 6) AS dist
          FROM terms t JOIN cent c ON t.label = c.label AND t.pos = c.pos
          GROUP BY t.vec_id, t.label
          ORDER BY t.vec_id ASC NULLS FIRST""",
    "dedup_embcos" ->
      s"""WITH $duckEmbcosPairsCtes
          SELECT ia, ib, round(c, 6) AS cos_sim FROM empairs
          ORDER BY ia ASC NULLS FIRST, ib ASC NULLS FIRST""",
    "dedup_eval_embcos" ->
      s"""WITH $duckEmbcosPairsCtes,
            em AS (SELECT ia, ib FROM empairs WHERE ia < 500 AND ib < 500),
            tp AS (SELECT ia, ib, $duckPairCos AS c FROM (
                     SELECT a.vec_id ia, b.vec_id ib, a.ev ea, b.ev eb
                     FROM eme a JOIN eme b ON a.vec_id < b.vec_id
                     WHERE a.vec_id < 500 AND b.vec_id < 500) s),
            tr AS (SELECT ia, ib FROM tp WHERE c > 0.4),
            f AS (SELECT CASE WHEN em.ia IS NOT NULL THEN 1 ELSE 0 END e,
                         CASE WHEN tr.ia IS NOT NULL THEN 1 ELSE 0 END t
                  FROM em FULL JOIN tr ON em.ia = tr.ia AND em.ib = tr.ib)
         SELECT CAST(sum(e) AS BIGINT) AS n_emitted,
                CAST(sum(t) AS BIGINT) AS n_truth,
                CAST(sum(e * t) AS BIGINT) AS n_hit,
                CASE WHEN sum(e) > 0 THEN
                  CAST(CAST(sum(e * t) AS BIGINT) AS DOUBLE)
                    / CAST(sum(e) AS BIGINT) END AS precision,
                CASE WHEN sum(t) > 0 THEN
                  CAST(CAST(sum(e * t) AS BIGINT) AS DOUBLE)
                    / CAST(sum(t) AS BIGINT) END AS recall
         FROM f""",
    "embed_quantize" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
            m AS (SELECT vec_id, e, list_min(e) lo, list_max(e) hi FROM t)
         SELECT vec_id, lo, hi, (hi - lo) / 255.0 AS qscale,
                array_to_string(list_transform(e, x ->
                  CAST(CASE WHEN hi = lo THEN 0
                       ELSE least(255, greatest(0, CAST(floor((x - lo) / ((hi - lo) / 255.0) + 0.5) AS BIGINT))) END
                     AS VARCHAR)), ',') AS q
         FROM m ORDER BY vec_id ASC NULLS FIRST""",
    "embed_pca" ->
      s"""WITH $duckPcaCtes
         SELECT CAST(j AS INTEGER) AS dim, round(wj, 6) + 0.0 AS loading
         FROM w3 ORDER BY dim ASC NULLS FIRST""",
    "embed_project" ->
      // the same fit CTEs; loadings re-rounded to 6 dp exactly like the
      // Spark side's published fit, then the per-dimension products
      // nano-quantized BEFORE the per-vector sum (order-free int64)
      s"""WITH $duckPcaCtes,
            wf AS (SELECT j, round(wj, 6) AS wf FROM w3),
            proj AS (SELECT x.vec_id,
                            CAST(sum(CAST(floor((xi - mi) * wf * 1000000000.0 + 0.5)
                                          AS BIGINT)) AS BIGINT) AS sq
                     FROM x JOIN m USING (i) JOIN wf ON wf.j = x.i
                     GROUP BY x.vec_id)
         SELECT vec_id, round(sq / 1000000000.0, 6) + 0.0 AS pc1
         FROM proj ORDER BY vec_id ASC NULLS FIRST""",
    "embed_norm" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
            m AS (SELECT vec_id, e,
                         sqrt(list_reduce(list_prepend(0.0,
                                list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
                  FROM t)
         SELECT vec_id,
                round(nrm, 6) AS l2_norm,
                array_to_string(list_transform(e[1:4],
                  x -> printf('%.6f', round(x / nrm, 6) + 0.0)), ',') AS head4_unit
         FROM m ORDER BY vec_id ASC NULLS FIRST""",
    "multimodal_mime" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 'image/png'
                  WHEN 1 THEN 'image/jpeg'
                  WHEN 2 THEN 'image/gif'
                  WHEN 3 THEN 'application/pdf'
                  ELSE 'application/octet-stream' END AS mime,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN '89504E47'
                  WHEN 1 THEN 'FFD8FF' || upper(hex(substr(text, 1, 1)))
                  WHEN 2 THEN '47494638'
                  WHEN 3 THEN '25504446'
                  ELSE upper(hex(substr(text, 1, 4))) END AS magic_hex,
                CAST(length(text) + CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 8 WHEN 1 THEN 3 WHEN 2 THEN 6
                  WHEN 3 THEN 5 ELSE 0 END AS BIGINT) AS n_bytes
         FROM documents ORDER BY doc_id ASC NULLS FIRST""",
    "multimodal_meta" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_bytes,
                CAST(length(text) % 64 AS BIGINT) AS meta_w,
                CAST(length(text) // 64 AS BIGINT) AS meta_h,
                CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ''), c -> ascii(c))),
                                 (a, b) -> a + b) % 997 AS BIGINT) AS checksum,
                CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
                CAST(ascii(substr(text, length(text), 1)) AS BIGINT) AS last_byte
         FROM documents ORDER BY doc_id ASC NULLS FIRST""",
    "multimodal_audio_rms" ->
      """WITH ch AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                            CAST(ascii(substr(text, i, 1)) AS BIGINT) AS b
                     FROM documents, unnest(range(1, length(text) + 1)) r(i)),
            fr AS (SELECT doc_id, pos // 256 AS frame, count(*) AS flen,
                          CAST(sum((b - 128) * (b - 128)) AS BIGINT) AS ssq
                   FROM ch GROUP BY doc_id, pos // 256)
         SELECT doc_id, count(*) AS n_frames,
                CAST(sum(CASE WHEN ssq < 1225 * flen THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_silent,
                CAST(floor(CAST(CAST(sum(CAST(floor(sqrt(CAST(ssq AS DOUBLE) / flen)
                                                    * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                                AS DOUBLE) / count(*) + 0.5) AS BIGINT)
                  / 1000000.0 AS mean_rms
         FROM fr GROUP BY doc_id
         ORDER BY doc_id ASC NULLS FIRST""",
    "multimodal_phash" ->
      """WITH t AS (SELECT doc_id, string_split(text, '') AS ch,
                           CAST(length(text) AS BIGINT) AS n
                    FROM documents WHERE length(text) >= 16),
            x AS (SELECT doc_id, n,
                         CAST(unnest(range(len(ch))) AS BIGINT) AS pos,
                         ascii(unnest(ch)) AS v
                  FROM t),
            blk AS (SELECT doc_id, n, (pos * 16) // n AS block,
                           CAST(sum(v) AS BIGINT) AS bsum,
                           count(*) AS blen
                    FROM x GROUP BY doc_id, n, (pos * 16) // n),
            tot AS (SELECT doc_id, CAST(sum(bsum) AS BIGINT) AS ts
                    FROM blk GROUP BY doc_id),
            sg AS (SELECT blk.doc_id,
                          CAST(sum(CASE WHEN bsum * n > ts * blen
                                        THEN 1 << block ELSE 0 END) AS BIGINT) AS sig
                   FROM blk JOIN tot ON blk.doc_id = tot.doc_id
                   GROUP BY blk.doc_id)
         SELECT doc_id, sig, count(*) OVER (PARTITION BY sig) AS n_same_sig
         FROM sg ORDER BY doc_id ASC NULLS FIRST""",
    "multimodal_scene_detect" ->
      """WITH t AS (SELECT doc_id, string_split(text, '') AS ch,
                           CAST(length(text) AS BIGINT) AS n
                    FROM documents WHERE length(text) >= 64),
            x AS (SELECT doc_id, n,
                         CAST(unnest(range(len(ch))) AS BIGINT) AS pos,
                         ascii(unnest(ch)) AS v
                  FROM t),
            blk AS (SELECT doc_id, pos // 64 AS frame_no,
                           (pos % 64) // 2 AS blk,
                           CAST(sum(v) AS BIGINT) AS bsum
                    FROM x WHERE pos < (n // 64) * 64
                    GROUP BY doc_id, pos // 64, (pos % 64) // 2),
            fr AS (SELECT doc_id, frame_no, CAST(sum(bsum) AS BIGINT) AS ts
                   FROM blk GROUP BY doc_id, frame_no),
            sg AS (SELECT blk.doc_id, blk.frame_no,
                          CAST(sum(CASE WHEN bsum * 32 > ts
                                        THEN CAST(1 AS BIGINT) << blk
                                        ELSE 0 END) AS BIGINT) AS sig
                   FROM blk JOIN fr ON blk.doc_id = fr.doc_id
                                   AND blk.frame_no = fr.frame_no
                   GROUP BY blk.doc_id, blk.frame_no),
            lg AS (SELECT doc_id, frame_no, sig,
                          lag(sig) OVER (PARTITION BY doc_id
                                         ORDER BY frame_no) AS prev
                   FROM sg),
            hm AS (SELECT doc_id,
                          CASE WHEN prev IS NOT NULL
                               THEN CAST(bit_count(xor(sig, prev)) AS BIGINT)
                               END AS ham
                   FROM lg)
         SELECT doc_id,
                count(*) AS n_frames,
                CAST(sum(CASE WHEN ham > 14 THEN 1 ELSE 0 END) + 1 AS BIGINT)
                  AS n_scenes,
                CASE WHEN count(ham) > 0
                     THEN round(CAST(sum(ham) AS DOUBLE) / count(ham), 6) + 0.0
                     END AS mean_ham
         FROM hm GROUP BY doc_id
         ORDER BY doc_id ASC NULLS FIRST""",
    "multimodal_frame_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, '') AS ch,
                           CAST(length(text) AS BIGINT) AS n
                    FROM documents WHERE length(text) >= 64),
            x AS (SELECT doc_id, n,
                         CAST(unnest(range(len(ch))) AS BIGINT) AS pos,
                         ascii(unnest(ch)) AS v
                  FROM t),
            blk AS (SELECT doc_id, pos // 64 AS frame_no,
                           (pos % 64) // 2 AS blk,
                           CAST(sum(v) AS BIGINT) AS bsum
                    FROM x WHERE pos < (n // 64) * 64
                    GROUP BY doc_id, pos // 64, (pos % 64) // 2),
            fr AS (SELECT doc_id, frame_no, CAST(sum(bsum) AS BIGINT) AS ts
                   FROM blk GROUP BY doc_id, frame_no),
            sg AS (SELECT blk.doc_id, blk.frame_no,
                          CAST(sum(CASE WHEN bsum * 32 > ts
                                        THEN CAST(1 AS BIGINT) << blk
                                        ELSE 0 END) AS BIGINT) AS sig
                   FROM blk JOIN fr ON blk.doc_id = fr.doc_id
                                   AND blk.frame_no = fr.frame_no
                   GROUP BY blk.doc_id, blk.frame_no),
            bu AS (SELECT sig, count(DISTINCT doc_id) AS n_docs
                   FROM sg GROUP BY sig)
         SELECT sg.doc_id,
                count(*) AS n_frames,
                CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_frames,
                round(CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*), 6) + 0.0 AS dup_frac
         FROM sg JOIN bu ON sg.sig = bu.sig
         GROUP BY sg.doc_id
         ORDER BY doc_id ASC NULLS FIRST""",
    "multimodal_frames" ->
      """WITH f AS (
           SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
                  substr(text, CAST(i * 256 + 1 AS INTEGER), 256) AS fr
           FROM documents,
                unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT), 2)) r(i))
         SELECT doc_id, frame_no,
                CAST(length(fr) AS BIGINT) AS frame_bytes,
                CAST(list_reduce(list_prepend(0, list_transform(string_split(fr, ''), c -> ascii(c))),
                                 (a, b) -> a + b) % 997 AS BIGINT) AS frame_checksum
         FROM f
         ORDER BY doc_id ASC NULLS FIRST, frame_no ASC NULLS FIRST""",
    "multimodal_resize" ->
      """SELECT vec_id,
                array_to_string(list_transform(range(0, 16), i -> printf('%.6f', round(
                  (e[CAST(i*4 + 1 AS INTEGER)] + e[CAST(i*4 + 2 AS INTEGER)]
                   + e[CAST(i*4 + 3 AS INTEGER)] + e[CAST(i*4 + 4 AS INTEGER)]) / 4.0, 6) + 0.0)), ',') AS pooled
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings) t
         ORDER BY vec_id ASC NULLS FIRST""",
    "multimodal_join" ->
      """WITH j AS (
            SELECT label, CAST(length(text) AS DOUBLE) tlen,
                   sqrt(list_reduce(list_prepend(0.0,
                          list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
                        (a, b) -> a + b)) AS l2
            FROM documents JOIN embeddings ON doc_id = vec_id)
          SELECT label, count(*) AS n, round(corr(tlen, l2), 6) AS len_norm_corr
          FROM j GROUP BY label ORDER BY label ASC NULLS FIRST""",
    // multimodal_clip_filter: same micro-quantized integers as the Spark
    // side (floor(ev·1e6 + 0.5) per dimension BEFORE any sum), so dot and
    // both norms are exact int64 on both engines and the τ = 0.01 gate
    // compares the identical double; the oracle indexes ev[bkt+1] per
    // (doc, bucket) row — same integers as Spark's posexploded join.
    "multimodal_clip_filter" ->
      """WITH eme AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) ev
                      FROM embeddings),
            t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
            b AS (SELECT doc_id,
                         ('0x' || substr(md5(tok), 1, 12))::BIGINT % 64 AS bkt,
                         count(*) AS cnt
                  FROM t GROUP BY doc_id, bkt),
            dd AS (SELECT b.doc_id,
                          sum(b.cnt * CAST(floor(e.ev[CAST(b.bkt + 1 AS INT)]
                                                 * 1e6 + 0.5) AS BIGINT)) AS dq,
                          sum(b.cnt * b.cnt) AS tsq
                   FROM b JOIN eme e ON e.vec_id = b.doc_id
                   GROUP BY b.doc_id),
            en AS (SELECT vec_id, label,
                          list_reduce(list_prepend(CAST(0 AS BIGINT),
                            list_transform(ev,
                              x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)
                                 * CAST(floor(x * 1e6 + 0.5) AS BIGINT))),
                            (a, c) -> a + c) AS esq
                   FROM eme)
         SELECT d.doc_id, en.label,
                round(CAST(d.dq AS DOUBLE)
                      / (sqrt(CAST(d.tsq AS DOUBLE))
                         * sqrt(CAST(en.esq AS DOUBLE))), 6) + 0.0 AS clip_score,
                (CAST(d.dq AS DOUBLE)
                 / (sqrt(CAST(d.tsq AS DOUBLE))
                    * sqrt(CAST(en.esq AS DOUBLE)))) > 0.01 AS kept
         FROM dd d JOIN en ON en.vec_id = d.doc_id
         ORDER BY doc_id ASC NULLS FIRST""",
  )
}
