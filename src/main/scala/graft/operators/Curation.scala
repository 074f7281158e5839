package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators a 100 TB training-data pipeline runs
  * between raw ingest and tokenization — span-level dedup, benchmark
  * decontamination, column profiling, and domain-mixture weighting.
  * Where [[graft.api.GraftOps]] holds a construction, the query here
  * binds fixture columns to it and adds only its ORDER BY.
  * (Reference snapshot is empty — /root/reference/README.md:1 — so
  * these derive from the published pipeline recipes: C4's span dedup,
  * GPT-3's n-gram decontamination, DoReMi-style mixture reweighting.)
  *
  * Scale postures, per operator:
  *   - span dedup shuffles fixed-width (digest, doc_id, span_id)
  *     keys, never document text; the survivor choice is a single
  *     min-struct aggregate (no window over the corpus);
  *   - decontamination builds the eval shingle set ONCE (it is
  *     benchmark-sized, i.e. tiny vs the corpus) and broadcast-joins
  *     it against train shingles — the corpus side is touched by one
  *     equality join and one groupBy(doc_id);
  *   - profiling is one single-distinct union branch per column (no
  *     Expand fan-out; swap countDistinct for approx_count_distinct at
  *     100 TB);
  *   - mixture weighting is one groupBy(source) plus a broadcast of
  *     the 1-row corpus total.
  */
object Curation extends QueryGroup {

  /** C4-style span-level exact dedup (C4 dedupes three-sentence spans;
    * the fixture corpus has no sentence marks, so the span unit is 8
    * consecutive tokens, non-overlapping). A span occurrence survives
    * iff it is the corpus-wide FIRST occurrence of its text, "first" =
    * min (doc_id, span_id); every later occurrence is dropped. Per doc:
    * span total, survivors, and the cleaned text reassembled from
    * surviving spans in order. The construction is
    * [[graft.api.GraftOps.spanDedup]] (digest-keyed min-struct survivor
    * pick, checkpointed span stream). */
  private val textDedupSpan: QFn = (s, d) =>
    GraftOps.spanDedup(Tables.documents(s, d), col("doc_id"), col("text"),
        spanTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Exact substring-level dedup — the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" EXACTSUBSTR operator,
    * re-expressed for a shared-nothing engine (the paper builds one
    * giant suffix array; a 100 TB corpus can't, so the distributed
    * spelling uses the sliding-shingle identity below). This closes
    * the family's known blind spot: `text_dedup_span` dedupes ALIGNED
    * fixed 8-token spans, so a verbatim quote shifted by one token is
    * invisible to it, and doc-level minhash Jaccard dilutes a short
    * quote inside a long document. The UNALIGNED detector here catches
    * exactly those.
    *
    * Identity that makes it exact: a token range is part of a repeated
    * substring of length ≥ k  ⇔  it is covered by some k-token window
    * whose text occurs ≥ 2 times corpus-wide (any repeated substring
    * of length L ≥ k has every one of its L−k+1 windows repeated, and
    * every repeated window IS a repeated substring of length k). So:
    * sliding k-token shingle digests at EVERY offset (the
    * text_decontaminate builder's shape, k = 10 at the fixture's
    * ~50-token docs; the paper uses 50 BPE tokens), one
    * map-side-combining groupBy(digest) marking digests with ≥ 2
    * occurrences (self-repetition within one doc counts — the paper
    * dedupes those too), then an equality join back — the LSH-equality
    * posture, never an all-pairs compare. Digest-equality seeds the
    * match; merging CONSECUTIVE duplicated offsets per doc is the
    * exact substring extension (a maximal run of r duplicated offsets
    * is a maximal shared substring of r+k−1 tokens). Per doc:
    * `n_shingles`, `n_dup_shingles`, `n_dup_tokens` (size of the
    * union of covered token ranges — the paper's "duplicated bytes"
    * analog) and `longest_run` (longest maximal shared substring, in
    * tokens). md5 digest-collision risk is the same standard
    * assumption `text_dedup_span` and `text_decontaminate` already
    * make.
    *
    * Scale shape: the shuffle carries fixed-width (digest, doc_id,
    * offset) rows, never shingle text; the dup-digest set is
    * duplicate-sized and deliberately UNHINTED — AQE broadcasts it
    * when it is runtime-small (the fixture) and falls back to a plain
    * equality shuffle join when it is data-sized (100 TB), the same
    * posture as multimodal_frame_dedup's sig join; coverage and run lengths
    * fold per-doc over the sorted duplicated-offset array with
    * integer-only higher-order aggregates, bounded by doc length — no
    * second corpus shuffle, no window over the corpus. */
  private[graft] def substringDedupOn(docs: org.apache.spark.sql.DataFrame,
                                      k: Int) = {
    // round-19 opt: the fused shingle_md5s kernel digests every window
    // straight off the raw byte spans (join is split's inverse — the
    // span from token i to token i+k−1 IS the original bytes), where
    // the round-18 offsets-explode still allocated a slice array and a
    // join string per window before each md5. Same (doc_id, i, dig)
    // rows bit for bit (pinned in TextSigSpec; texts with < k tokens
    // yield an empty array ≡ the old size(tk) ≥ k filter).
    val sh = docs
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.shingleMd5s(col("text"), k)))
      .select(col("doc_id"), col("pos").cast(LongType).as("i"),
        col("col").as("dig"))
      // the shingle stream feeds BOTH the dup-set build and the probe:
      // materialize it once (multi-consumer corpus lineage recipe) so
      // the corpus isn't re-scanned and every window isn't re-hashed
      // for the second consumer — bench-visible (2.3 s → ~1.5 s at
      // sf0.1). At 100 TB this is the persist-the-digest-stream vs
      // two-pass trade; either is sound, re-deriving md5 twice is not.
      .localCheckpoint()
    val dup = sh.groupBy(col("dig"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2L)
      .select(col("dig"), lit(1L).as("hit"))
    // interval-union length over sorted equal-length-k starts: first
    // start contributes k, each later start min(k, gap); longest run:
    // consecutive-offset islands, best island + (k-1). Both are exact
    // integer folds, so the result is partitioning- and engine-exact.
    val kL = s"CAST($k AS BIGINT)"
    sh.join(dup, Seq("dig"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dup_shingles"),
        sort_array(collect_list(when(col("hit").isNotNull, col("i")))).as("offs"))
      .withColumn("n_dup_tokens", when(size(col("offs")) === 0, lit(0L))
        .otherwise(expr(
          s"""aggregate(offs,
                named_struct('prev', CAST(-1 AS BIGINT), 'tot', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct('prev', x, 'tot',
                  acc.tot + CASE WHEN acc.prev < CAST(0 AS BIGINT) THEN $kL
                                 ELSE least($kL, x - acc.prev) END),
                acc -> acc.tot)""")))
      .withColumn("longest_run", when(size(col("offs")) === 0, lit(0L))
        .otherwise(expr(
          s"""aggregate(offs,
                named_struct('prev', CAST(-2 AS BIGINT), 'cur', CAST(0 AS BIGINT),
                             'best', CAST(0 AS BIGINT)),
                (acc, x) -> CASE WHEN x = acc.prev + CAST(1 AS BIGINT)
                  THEN named_struct('prev', x, 'cur', acc.cur + CAST(1 AS BIGINT),
                         'best', greatest(acc.best, acc.cur + CAST(1 AS BIGINT)))
                  ELSE named_struct('prev', x, 'cur', CAST(1 AS BIGINT),
                         'best', greatest(acc.best, CAST(1 AS BIGINT))) END,
                acc -> acc.best + CAST(${k - 1} AS BIGINT))""")))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
        col("n_dup_tokens"), col("longest_run"))
      .orderBy(col("doc_id"))
  }

  private val textDedupSubstring: QFn = (s, d) =>
    substringDedupOn(Tables.documents(s, d), 10)

  /** C4-style LINE-level boilerplate removal (Raffel et al. 2020 §2.2;
    * jusText's coarse cousin) — the gate production web curation runs
    * BEFORE any document-level scoring: drop navigation/menu/JS-notice
    * LINES, keep prose lines, reassemble the page. C4's three line
    * rules, verbatim: keep a line iff (1) it ends in a terminal
    * punctuation mark, (2) it has ≥ 3 words, (3) it does not contain
    * 'javascript' (case-insensitive) or a curly brace. (C4's PAGE
    * gates — lorem ipsum, bad words — are `text_blocklist`'s job; the
    * split of duties mirrors the paper's.) The fixture corpus has no
    * line structure, so a multi-line page is synthesized
    * deterministically per doc (the text_pii_scan posture): the doc's
    * tokens become two '.'-terminated body lines, and three classic
    * boilerplate species are injected keyed on doc_id — a no-punct
    * menu line ('Home About Contact', kills rule 1), a 2-word
    * call-to-action ('Click here!', kills rule 2), and a JS notice
    * that PASSES rules 1-2 and dies only on rule 3 — so every rule
    * provably fires. The gate chain IS api.GraftOps.boilerplateClean
    * (this operator calls it, so the reusable API helper and the
    * declared rung cannot drift — the dedup_url posture). CurationSpec
    * law: injected lines are gone and body lines survive BYTE-exact in
    * order.
    *
    * Shape: split + per-line gates + reassembly are array higher-order
    * functions over each row — a pure row function, zero shuffle
    * before the closing sort; at 100 TB this is a scan. */
  private val textBoilerplate: QFn = (s, d) => {
    val nl = "\n"
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), concat(
        when(col("doc_id") % 3L === 0L, lit(s"Home About Contact$nl"))
          .otherwise(lit("")),
        expr("array_join(slice(tk, 1, CAST(size(tk) div 2 AS INT)), ' ')"),
        lit(s".$nl"),
        when(col("doc_id") % 4L === 1L, lit(s"Click here!$nl")).otherwise(lit("")),
        when(col("doc_id") % 5L === 2L,
          lit(s"Enable javascript to continue.$nl")).otherwise(lit("")),
        expr("array_join(slice(tk, CAST(size(tk) div 2 AS INT) + 1, size(tk)), ' ')"),
        lit(".")).as("pg"))
      .withColumn("bp", graft.api.GraftOps.boilerplateClean(col("pg")))
      .select(col("doc_id"), col("bp.n_lines").as("n_lines"),
        col("bp.n_kept").as("n_kept"), col("bp.clean_text").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** GPT-3-style benchmark decontamination, scaled to the fixture's
    * ~50-token docs: the held-out eval set is source = 'src0'; a train
    * doc (every other source) is contaminated iff any of its sliding
    * 8-token shingles appears verbatim in any eval doc (GPT-3 used
    * 13-grams; the unit scales with doc length, the set-membership
    * shape is identical). Per train doc: shingle total, eval hits, and
    * the drop flag. The construction is
    * [[graft.api.GraftOps.decontaminate]]: the eval shingle digest set
    * is built once, distinct'd and BROADCAST, so the corpus side sees
    * one broadcast equality join on a fixed-width digest plus one
    * groupBy(doc_id). */
  private val textDecontaminate: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    GraftOps.decontaminate(docs.filter(col("source") =!= "src0"),
        col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("text"), n = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Zero-extra-scan ingest monitoring via `Dataset.observe` — the
    * production data-quality surface the profile_* rungs deliberately
    * do NOT cover (each of those is its own second pass over the
    * data): per-ingest counters (row count, key-null count, domain
    * violations) accumulate INSIDE the same physical pass that serves
    * a real business query, surfacing through `CollectMetrics` to any
    * registered QueryExecutionListener / StreamingQueryListener at
    * action time. The observed metrics are accumulator-style
    * (commutative aggregates, merged across partitions — exact here:
    * integer counts only) and cost no extra scan, no extra shuffle;
    * the query RESULT is byte-identical to the unobserved spelling,
    * which is exactly what the oracle checks (the DuckDB SQL knows
    * nothing of the observation). The metrics themselves are asserted
    * in LawsSpec against an independent aggregation, through a real
    * QueryExecutionListener. At 100 TB this is THE way to monitor an
    * ingest — a second profiling pass doubles the bill; observe rides
    * along free. */
  private val profileObserve: QFn = (s, d) => {
    Tables.orders(s, d)
      .observe("graft_ingest_metrics",
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("n_domain_bad"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round((sum(expr("CAST(floor((o_totalprice) * 1e6 + 0.5) AS BIGINT)")).cast("decimal(26,0)") / lit(1000000)).cast("double"), 4)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact column profile of orders — the data-quality gate a
    * pipeline runs on every new ingest drop: per column, null count and
    * exact distinct count, one row per column. The construction is
    * [[graft.api.GraftOps.profileColumns]] (one single-distinct union
    * branch per column — no Expand fan-out). */
  private val profileColumns: QFn = (s, d) =>
    GraftOps.profileColumns(Tables.orders(s, d), Seq("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
      .orderBy(col("col_name"))

  /** Data-freshness audit — the SLA table a pipeline operator reads
    * before trusting a partition ("is every event stream still
    * landing?"): per event_type, volume, last-seen timestamp, and
    * staleness measured against the CORPUS max (the newest row defines
    * "now" — the audit needs no wall clock, so it is reproducible and
    * oracle-able; a production run substitutes the batch watermark).
    * Staleness is exact integer seconds on the raw int64 ns column;
    * the 1800 s SLA flag is an integer compare (the fixture's types
    * split 0–2009 s around it). One groupBy + a broadcast 1-row max —
    * no second scan, no shuffle beyond the |types|-row aggregate. */
  private val profileFreshness: QFn = (s, d) => {
    val perType = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .localCheckpoint() // feeds the corpus max AND the output
    val now = perType.agg(max(col("last_ts")).as("now_ts"))
    perType.crossJoin(broadcast(now))
      .select(col("event_type"), col("n_events"), col("last_ts"),
        expr("(now_ts - last_ts) div 1000000000").as("staleness_s"))
      .withColumn("sla_ok", col("staleness_s") <= 1800L)
      .orderBy(col("event_type"))
  }

  /** Domain-mixture weighting — the reweighting step every multi-source
    * training mix runs (DoReMi / The Pile recipe shape): per source,
    * doc and token counts, realized token share, and the uniform-target
    * sampling weight  w = target_share / realized_share  (so sampling
    * each source's docs with probability ∝ w yields a uniform token
    * mix). One groupBy(source) over per-doc token counts; the corpus
    * total joins back as a broadcast of ONE row. */
  private val textDomainMix: QFn = (s, d) => {
    // eager localCheckpoint: |sources|-row aggregate referenced by the
    // total AND the final select — one corpus scan, not two
    val perSrc = Tables.documents(s, d)
      .select(col("source"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast(LongType).as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .localCheckpoint()
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType) / col("tot"), 6).as("token_share"),
        round((lit(1.0) / col("n_sources")) /
          (col("n_tokens").cast(DoubleType) / col("tot")), 6).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** Per-source n-gram novelty — the data-mixer's MARGINAL-value
    * question next to text_domain_mix's share arithmetic ("src7 is 5%
    * of tokens, but does it contain anything the other 19 sources
    * don't?"): for each source, the fraction of its distinct word
    * 3-grams that appear in NO other source. A redundant source scores
    * near 0 and is a deduplication target however many tokens it has; a
    * high scorer is irreplaceable at any share. Scale: grams are
    * md5-hashed to int64 BEFORE any shuffle (both engines hash
    * identically, so the oracle carries the same negligible collision
    * behavior) and deduped to (source, hash) pairs — the gram-keyed
    * source-count aggregate is the only data-sized exchange, two-phase,
    * carrying 16-byte rows. Counts exact; one rounded division at
    * output. */
  private val textNgramNovelty: QFn = (s, d) => {
    // gram hashes come from the SHARED gram base (one tokenize+md5
    // pass per session+fixture — LlmText.gramsCached); this rung's gh
    // was already the same 48-bit md5 prefix, so the value is
    // bit-identical and the oracle is untouched
    val sg = LlmText.gramsCached(s, d)
      .select(col("source"), col("gh"))
      .distinct()
      // feeds the per-gram source counts AND the per-source fold
      .localCheckpoint()
    val perGram = sg.groupBy(col("gh")).agg(count(lit(1)).as("n_src"))
    sg.join(perGram, Seq("gh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("n_src") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        (round(col("n_novel").cast(DoubleType) / col("n_grams"), 6) + lit(0.0))
          .as("novelty_rate"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled source sampling (the multilingual-mixing recipe
    * popularized by multilingual BERT / mT5: sample source s with
    * probability ∝ p_s^(1/T), T > 1 flattening the mix toward uniform
    * without discarding the head). T = 2 here, so q_s ∝ √p_s. Float
    * policy: p_s divides exact int64 token counts (identical doubles
    * everywhere); the libm power output is rounded to 6 dp (the
    * fn_trig precedent) and micro-quantized to int64 BEFORE the
    * normalizer sum, so the Σq fold is order-insensitive and the
    * final weights are one exact-int division per source. The
    * construction is [[graft.api.GraftOps.temperatureWeights]]: one
    * checkpointed groupBy(source) + two broadcast 1-row totals — corpus
    * touched once. */
  private val sampleTemperature: QFn = (s, d) =>
    GraftOps.temperatureWeights(Tables.documents(s, d), col("source"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast(LongType),
        temperature = 2.0)
      .select(col("group").as("source"), col("n_docs"), col("n_tokens"),
        col("share").as("token_share"), col("temp_weight"))
      .orderBy(col("source"))

  /** CCNet-style quality bucketing: rank every document by its mean
    * unigram logprob (the text_unigram_logprob score — CCNet uses LM
    * perplexity; the corpus unigram model is its engine-portable
    * stand-in) and split into head / middle / tail thirds. The split
    * is ntile(3) over a fully tie-broken global order (score DESC,
    * doc_id ASC).
    *
    * Scale note: the global ntile is a sort of DOC-level rows (narrow:
    * id + one double — ~16 bytes/doc, TBs of text → GBs of scores);
    * past that, [[textQualityBucketApprox]] (`text_quality_bucket_
    * approx`) is the PROVEN at-scale twin: two broadcast
    * approx_percentile cutpoints as a CASE — same output modulo
    * boundary ties, no global sort. The exact window is the oracled
    * shape. The construction is [[graft.api.GraftOps.qualityBuckets]];
    * both rungs read [[graft.api.GraftOps.docQualityScore]]. */
  private val textQualityBucket: QFn = (s, d) =>
    GraftOps.qualityBuckets(Tables.documents(s, d), col("doc_id"), col("text"),
        buckets = 3)
      .select(col("id").as("doc_id"), col("mean_logprob"), col("bucket"))
      .orderBy(col("doc_id"))

  /** The 100 TB twin of text_quality_bucket, made RUNNABLE (round-15
    * verdict item 6 — the swap every global-ntile rung's scale note
    * points at now has a proven in-repo recipe): the same per-doc
    * score, but the head/middle/tail split comes from two
    * approx_percentile cutpoints (ranks 2/3 and 1/3 of the score
    * distribution — score DESC thirds) computed in ONE constant-memory
    * aggregation (Greenwald-Khanna, accuracy 10⁴ → rank error ≤
    * n/10⁴) and broadcast into a CASE. No global sort, no
    * single-partition WindowExec anywhere in the plan
    * (PlanSpec-pinned); agreement with the exact rung is
    * LawsSpec-bounded (bucket sizes within the sketch's rank error of
    * n/3; bucketing monotone in score by construction). Not oracled:
    * the sketch is engine-specific — the exact rung remains the
    * oracled shape, this twin is the scale path. */
  private val textQualityBucketApprox: QFn = (s, d) => {
    val score = GraftOps.docQualityScore(Tables.documents(s, d),
      col("doc_id"), col("text"))
    val cuts = score.agg(expr(
      "approx_percentile(mean_logprob, array(CAST(2.0/3.0 AS DOUBLE), CAST(1.0/3.0 AS DOUBLE)), 10000)")
      .as("c"))
    score.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("mean_logprob"),
        when(col("mean_logprob") >= element_at(col("c"), 1), "head")
          .when(col("mean_logprob") >= element_at(col("c"), 2), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Numeric-column profile of lineitem — profile_columns' continuous
    * companion (the stats a drift monitor baselines on every ingest):
    * per column min / max / exact-DECIMAL mean / null count, all four
    * columns in ONE aggregation pass, unpivoted driver-side (1 row →
    * 4). The mean divides a DECIMAL(18,6)-pre-cast sum by the non-null
    * count (the agg_pricing_summary float policy) so partial-agg
    * ordering can't move it. */
  private val profileNumeric: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // round-18 opt: int64-micros accumulators (the agg_linreg idiom)
    // replace the per-row DECIMAL(18,6) casts; the exact integer sum
    // is rescaled through DECIMAL so the closing double equals the
    // old decimal-sum cast bit for bit (all four columns are ≤ ~1.1e5
    // with 2 dp — far inside both the int64 and the 0.5 µ bounds).
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__mn"),
      max(col(c)).as(s"${c}__mx"),
      (sum(expr(s"CAST(floor($c * 1e6 + 0.5) AS BIGINT)"))
        .cast("decimal(26,0)") / lit(1000000)).as(s"${c}__sm"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn")))
    val one = li.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"""struct('$c' AS col_name, `${c}__mn` AS mn, `${c}__mx` AS mx,
                 CAST(`${c}__sm` AS DOUBLE) AS sm, `${c}__nn` AS n_null)""")
      .mkString(", ")
    one.select(col("n_rows"), explode(expr(s"array($stacked)")).as("p"))
      .select(col("p.col_name").as("col_name"), col("n_rows"),
        col("p.mn").as("min_val"), col("p.mx").as("max_val"),
        round(col("p.sm") / (col("n_rows") - col("p.n_null")), 6).as("mean_val"),
        col("p.n_null").as("n_null"))
      .orderBy(col("col_name"))
  }

  /** Regex PII scan — the detection half of the scrub step every
    * public-corpus pipeline runs (text_scrub is the dictionary half;
    * this is the pattern half: emails, phone numbers). The fixture
    * text contains no PII, so the scan input is SYNTHESIZED
    * deterministically from it (the fn_url / ingest_fixed_width
    * posture): every doc_id % 3 == 0 doc gains an email, every
    * doc_id % 5 == 0 a 555-prefixed phone — so hit/miss/both/neither
    * rows all exist and the counts are provable. Patterns stay in the
    * POSIX-safe subset both regex engines (Java util.regex, RE2)
    * parse identically (§7.4); they and the redaction are
    * [[graft.api.GraftOps.redactPii]]'s. Pure row function: detection
    * and redaction run inside one codegen stage, no shuffle at all. */
  private val textPiiScan: QFn = (s, d) =>
    Tables.documents(s, d)
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(GraftOps.PiiEmailRe), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(GraftOps.PiiPhoneRe), lit(0)))
          .cast(LongType).as("n_phones"),
        GraftOps.redactPii(col("t")).as("redacted"))
      .withColumn("has_pii", col("n_emails") + col("n_phones") > 0L)
      .orderBy(col("doc_id"))

  /** DSIR-style domain-relevance selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — the
    * published hashed-n-gram recipe): importance weight of each raw doc
    * = Σ_tokens ln p_target(bucket)/p_raw(bucket) over 256 md5 hash
    * buckets (text_hash_features' portable bucket spelling), target =
    * the 'en' slice, both distributions Laplace-smoothed; the top
    * quarter by mean per-token importance is selected. Deterministic
    * to the bit: the per-BUCKET log-ratio is nano-quantized once in the
    * 256-row bucket table (the text_js_divergence idiom — ln runs on
    * identical doubles in both engines, ×1e9 floor+0.5), so each doc's
    * weight is an EXACT integer sum and the ranking double w/n is one
    * IEEE division on identical ints. Shapes: token-sized work is two
    * map-side-combining groupBys (per-bucket counts, per-doc sums) and
    * one broadcast of the 256-row unit table; the rank is a |docs|-row
    * window over per-doc aggregates — never tokens. This rung is the
    * declared EXACT companion; at 100 TB run its shipped twin
    * `sample_dsir_approx`, which thresholds on one broadcast
    * approx_percentile of mean importance instead of ranking (zero
    * WindowExec, LawsSpec-bounded against this rung). */
  /** The per-doc DSIR weight table (doc_id, n_tokens, w_nano) shared
    * by the exact and approx selection rungs — all the token-sized
    * work lives here; both consumers only differ in how they turn the
    * |docs|-row weights into a top-quarter selection. */
  private def dsirPerDoc(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame =
    dsirPerDocOf(Tables.documents(s, d)
      .select(col("doc_id"), (col("lang") === "en").as("is_tgt"), col("text")))

  /** The construction over any (doc_id, is_tgt, text) frame — the
    * target slice is a caller predicate instead of the fixture's
    * lang = 'en', which is what the GraftOps.dsirWeights API surfaces
    * (ApiSpec pins equality with the declared rung on the fixture). */
  private[graft] def dsirPerDocOf(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val B = 256L
    // ONE tokenize+hash pass, collapsed map-side to the per-(doc, bucket)
    // count table — bounded by |docs|·256, a fraction of token count —
    // and checkpointed: the two distributions AND the per-doc weights
    // all fold from it (three consumers, one corpus scan; re-deriving
    // from the explode would re-tokenize the corpus per consumer)
    val docBkt = docsIn
      .select(col("doc_id"), col("is_tgt"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("bkt",
        graft.functions.GraftFunctions.md5Prefix48(col("tok")) % B)
      .groupBy(col("doc_id"), col("is_tgt"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val all = docBkt.groupBy(col("bkt")).agg(sum(col("c")).as("a"))
    val tgt = docBkt.filter(col("is_tgt"))
      .groupBy(col("bkt")).agg(sum(col("c")).as("t"))
    val totA = all.agg(sum(col("a")).as("ta"))
    val totT = tgt.agg(sum(col("t")).as("tt"))
    val units = all.join(tgt, Seq("bkt"), "left")
      .crossJoin(broadcast(totA)).crossJoin(broadcast(totT))
      .select(col("bkt"),
        floor((log((coalesce(col("t"), lit(0L)) + lit(1L)).cast(DoubleType)
                 / (col("tt") + lit(B)).cast(DoubleType))
             - log((col("a") + lit(1L)).cast(DoubleType)
                 / (col("ta") + lit(B)).cast(DoubleType))) * 1e9 + 0.5)
          .cast(LongType).as("unit"))
    docBkt.join(broadcast(units), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("unit")).as("w_nano"))
  }

  private val sampleDsir: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perDoc = dsirPerDoc(s, d)
    val nd = perDoc.agg(count(lit(1)).as("nd"))
    val w = Window.orderBy(
      (col("w_nano").cast(DoubleType) / col("n_tokens").cast(DoubleType)).desc,
      col("doc_id"))
    perDoc
      .withColumn("rk", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("n_tokens"), col("w_nano"),
        // floored integer nano-mean, NOT a rounded double: w/n sits on
        // a round-half boundary whenever n divides w_nano at the 9th
        // decimal, and Spark (HALF_UP) and DuckDB (half-even) split
        // there — floor of the exact-within-2^53 double w/n has no
        // boundary to disagree on
        floor(col("w_nano").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .cast(LongType).as("imp_nano"),
        (col("rk") <= expr("(nd + 3L) div 4L")).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** The RUNNABLE 100 TB twin of sample_dsir (round-15 verdict item 1
    * — the text_quality_bucket_approx recipe applied to the last of
    * the three exact-rank rungs): identical per-doc integer weights,
    * but "top quarter" comes from ONE broadcast approx_percentile
    * cutpoint of the mean importance (Greenwald-Khanna, accuracy 10⁴)
    * instead of a |docs|-row global row_number. selected = imp >= cut
    * — no global sort, zero WindowExec (PlanSpec-pinned). Threshold
    * semantics keep importance TIES together where the exact rung
    * splits them by doc_id; LawsSpec bounds both the selected-count
    * deviation and the per-doc disagreement by tie mass + rank error.
    * Not oracled: the sketch is engine-specific — sample_dsir remains
    * the oracled shape. */
  private val sampleDsirApprox: QFn = (s, d) => {
    val perDoc = dsirPerDoc(s, d)
    val imp = col("w_nano").cast(DoubleType) / col("n_tokens").cast(DoubleType)
    val cut = perDoc.agg(
      expr("approx_percentile(CAST(w_nano AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.75D, 10000)")
        .as("c"))
    perDoc.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_tokens"), col("w_nano"),
        floor(imp).cast(LongType).as("imp_nano"),
        (imp >= col("c")).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing — the concat-and-chop materialization every LLM
    * pretraining loader runs (docs concatenated in stable doc_id order,
    * the token stream chopped into fixed 2048-token training sequences):
    * per sequence, how many docs contribute, its token fill, the first/
    * last doc ids, and how many docs CARRY IN across its left boundary
    * (the attention-masking bookkeeping packed training needs). Built on
    * sample_token_budget's distributed two-pass prefix sum — each doc
    * gets its global [start, end) token interval from bucket offsets +
    * within-bucket running sums (every corpus-sized stage key-partitioned
    * by bucket, the only global pass a bounded one-row-per-bucket
    * window) — then one bounded explode maps a doc to the ⌈ntok/2048⌉+1
    * sequences it overlaps (sequence ids are interval arithmetic, all
    * integer, engine-exact). Total exploded rows ≈ n_docs + n_tokens/2048
    * — never token-sized. The oracle is the plain global-window
    * spelling over the same interval math. */
  /** The distributed two-pass prefix sum shared by sample_pack,
    * sample_token_budget, and the GraftOps.tokenIntervals API: each doc
    * gets its global [start, end) token interval in stable doc_id
    * order from bucket offsets + within-bucket running sums. Expects a
    * MATERIALIZED (doc_id, ntok) frame (callers localCheckpoint the
    * narrow projection — it is read twice here); every corpus-sized
    * stage is key-partitioned by bucket, the only global pass is the
    * one-row-per-bucket offset window. */
  private[graft] def tokenIntervalsOf(docs0: org.apache.spark.sql.DataFrame,
                                      bucket: Long = 1000L)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docs0.withColumn("bkt", expr(s"doc_id div ${bucket}L"))
    val offsets = docs.groupBy(col("bkt")).agg(sum(col("ntok")).as("bt"))
      .withColumn("off",
        coalesce(sum(col("bt")).over(
          Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    docs
      .withColumn("run",
        sum(col("ntok")).over(Window.partitionBy(col("bkt"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("bkt"))
      .select(col("doc_id"), col("ntok"),
        (col("off") + col("run") - col("ntok")).as("start"),
        (col("off") + col("run")).as("end"))
  }

  private val samplePack: QFn = (s, d) => {
    val B = 2048L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast(LongType).as("ntok"))
      .localCheckpoint()
    val spans = tokenIntervalsOf(docs)
      .filter(col("ntok") > 0L)
      .select(col("doc_id"), col("start"), col("end"),
        explode(expr(s"sequence(start div ${B}L, (`end` - 1L) div ${B}L)"))
          .as("seq_id"))
      .withColumn("tok_in_seq",
        least(col("end"), (col("seq_id") + 1L) * B)
          - greatest(col("start"), col("seq_id") * B))
    spans.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("tok_in_seq")).as("n_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"),
           sum(when(col("start") < col("seq_id") * B, 1L).otherwise(0L))
             .as("n_carry_in"))
      .withColumn("fill_rate",
        (round(col("n_tokens").cast(DoubleType) / B, 6) + lit(0.0)))
      .orderBy(col("seq_id"))
  }

  /** Token-budget cutoff — "take exactly the first B tokens" (the
    * sampling step that turns mixture weights into an actual training
    * set): docs in stable doc_id order, kept while the running token
    * total stays within budget B = half the corpus. The prefix sum is
    * computed DISTRIBUTED, not as one global window: per-range-bucket
    * totals (bounded: one row per bucket) get a tiny window pass for
    * bucket offsets, broadcast back, and each doc's cum = bucket
    * offset + within-bucket running sum — every corpus-sized stage is
    * key-partitioned by bucket. The oracle is the plain global-window
    * spelling, proving the two-pass formulation exact. */
  private val sampleTokenBudget: QFn = (s, d) => {
    // eager localCheckpoint of the NARROW (doc_id, ntok) projection
    // (~16 B/doc — GBs where the text is TBs): budget, offsets, and the
    // running-sum pass all read it; without it each would re-scan and
    // re-tokenize the full text column. The bucket id inside
    // tokenIntervalsOf uses true integer `div` (doc_id non-negative by
    // fixture construction): long/long `/` routes through DOUBLE,
    // inexact above 2^53 — the prefixBudgetKeep contract.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast(LongType).as("ntok"))
      .localCheckpoint()
    val budget = docs.agg(expr("sum(ntok) div 2L").as("budget"))
    tokenIntervalsOf(docs)
      .crossJoin(broadcast(budget))
      .select(col("doc_id"), col("ntok"),
        col("end").as("cum_tokens"),
        (col("end") <= col("budget")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** k-anonymity audit — the re-identification check run before ANY
    * dataset release (Sweeney's k-anonymity: every quasi-identifier
    * combination must describe ≥ k individuals, else those rows are
    * linkable): equivalence classes over the (nationkey, mktsegment)
    * quasi-identifier pair, then a k-sweep report — for each policy k,
    * how many classes violate and how many rows are at risk. Scale: the
    * class table is |quasi-id domain|-sized (ONE map-side-combining
    * count over the data — never a row-level shuffle); the sweep crosses
    * the 3-row literal k table against CLASSES, not rows, so broadcast
    * is correct by construction. All-integer output. */
  private val profileKanon: QFn = (s, d) => {
    val cls = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz"))
    val ks = s.createDataFrame(Seq(Tuple1(5L), Tuple1(10L), Tuple1(25L))).toDF("k")
    cls.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"),
           sum(when(col("sz") < col("k"), 1L).otherwise(0L)).as("n_small"),
           sum(when(col("sz") < col("k"), col("sz")).otherwise(0L)).as("rows_at_risk"),
           min(col("sz")).as("min_class"))
      .orderBy(col("k"))
  }

  /** Per-column top-k frequent values — profile_columns' categorical
    * companion (the third leg of the per-ingest data-quality report:
    * null/distinct counts, numeric ranges, and now the dominant
    * category values a drifted upstream enum shows up in first): one
    * map-side-combining count per profiled column (≤|domain| groups),
    * the per-column rank window runs over those aggregated counts —
    * never rows — and ties break on the value so the report is
    * deterministic. */
  private val profileTopk: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val counts = o
      .groupBy(lit("o_orderstatus").as("column"),
               col("o_orderstatus").as("value"))
      .agg(count(lit(1)).as("n"))
      .unionByName(o
        .groupBy(lit("o_orderpriority").as("column"),
                 col("o_orderpriority").as("value"))
        .agg(count(lit(1)).as("n")))
    val w = Window.partitionBy(col("column")).orderBy(col("n").desc, col("value"))
    counts.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .orderBy(col("column"), col("rk"))
  }

  /** URL-canonicalization dedup — the FIRST dedup pass a web-corpus
    * pipeline runs (CCNet / RefinedWeb posture: collapse re-crawls of
    * the same page by canonical URL before any content hashing —
    * it is orders of magnitude cheaper than minhash and removes the
    * bulk of crawl duplication). The fixture has no URL column, so one
    * is synthesized deterministically from doc_id (the fn_url posture)
    * with the five classic aliasing noises injected by construction —
    * upper-cased host, utm-only tracking query (uppercase/digit/
    * underscore values), MIXED query whose non-tracking param must
    * survive the strip, trailing slash, #fragment — so every
    * canonicalization rule provably fires. Canonical form = the
    * api.GraftOps.urlCanonicalize chain (this operator CALLS it, so
    * the API helper and the declared rung cannot drift): strip
    * fragment → strip every utm_* pair individually in three anchored
    * passes (no separator re-anchor guess; path-literal `&` is safe)
    * → strip trailing slash → lowercase scheme+host (path case is
    * PRESERVED — it is semantic on real servers). Each rule is one
    * POSIX-safe regexp both engines parse identically; the whole
    * canonicalization is a pure row function in a single codegen
    * stage, and the dedup itself ([[graft.api.GraftOps.urlDedup]]) is
    * ONE map-side-combining groupBy(canonical) — survivor = min doc_id,
    * n_dups per canonical. Zero joins, zero windows: at 100 TB this is
    * a scan plus one bounded-key aggregation. */
  private val dedupUrl: QFn = (s, d) => {
    val urls = Tables.documents(s, d)
      .withColumn("host0",
        concat(lit("www.s"), (col("doc_id") % 7L).cast(StringType),
               lit(".example.com")))
      .withColumn("url", concat(
        lit("https://"),
        when(col("doc_id") % 2L === 0L, upper(col("host0"))).otherwise(col("host0")),
        lit("/doc/"), (col("doc_id") % 200L).cast(StringType),
        when(col("doc_id") % 8L === 0L,
            lit("?utm_source=feed&utm_campaign=Spring_2024"))
          .when(col("doc_id") % 8L === 4L, lit("?id=3&utm_source=feed-x"))
          .when(col("doc_id") % 4L === 1L, lit("/"))
          .when(col("doc_id") % 4L === 2L, lit("#sec2"))
          .otherwise(lit(""))))
    GraftOps.urlDedup(urls, col("doc_id"), col("url"))
      .orderBy(col("canonical_url"))
  }

  /** Blocklist filtering — the C4 "banned word list" gate (Raffel et al.
    * 2020 drop any page containing a blocklisted word; Gopher keeps a
    * softer per-1000-tokens rate): per document the token-exact hit
    * count against a broadcast-literal blocklist and the any-hit drop
    * flag. TOKEN-exact matching (filter over split tokens), not
    * substring — the classic blocklist false-positive ("class" contains
    * a banned substring) is the recipe's known failure mode and exact
    * token equality is the standard fix. The fixture vocabulary is
    * synthetic, so the two-word list here stands in for the real one —
    * the RECIPE is the deliverable (fn_geo's posture). Pure row
    * function in one codegen stage, zero shuffle before the closing
    * sort; at 100 TB this is a scan. */
  private val textBlocklist: QFn = (s, d) =>
    // fused tok_count kernel (value-identical to size(split(...)),
    // pinned in TextSigSpec); the hit count is GraftOps.blocklistHits
    // (tok_hits) — both scan the text bytes once with zero allocation
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.tokCount(col("text")).as("n_tokens"),
        GraftOps.blocklistHits(col("text"), Seq("dup", "slow")).as("n_bad"))
      .withColumn("keep", col("n_bad") === 0L)
      .orderBy(col("doc_id"))

  /** The trained-classifier quality gate — production curation ships a
    * linear/fastText-style scorer next to the hand rules (the CCNet /
    * GPT-3 "quality classifier" stage): score = σ(w·x + b) over the
    * text_hash_features 64-bucket hashed bag-of-tokens, with the
    * weight vector as the driver-held MODEL (here: a tiny lexicon
    * "trained" offline, folded into per-BUCKET weights — token weight
    * = w[bucket(token)], collisions merge weights, exactly the
    * hashing-trick semantics; non-lexicon tokens sharing a weighted
    * bucket pick up its weight, the trick's documented noise).
    * Exactness: weights are INTEGER NANOS, so each term cnt·w_nano is
    * exact int64 and the per-doc fold is order-free integer
    * arithmetic (agg_chisq idiom); σ is monotone, so the gate
    * σ(s) > 0.5 ⟺ s > 0 is an INTEGER COMPARE — no exp() ever runs
    * (cross-engine exp bit-parity is NOT promised, unlike ln on
    * identical doubles; not emitting σ avoids the only unportable
    * term). Scale: one token→bucket map-side count collapse + a
    * broadcast of the 64-row model — broadcast is CORRECT here, the
    * model is metadata-sized by construction. */
  private[graft] val QualityLexiconNano: Seq[(String, Long)] = Seq(
    "value" -> 1500000000L, "fast" -> 1000000000L, "big" -> 750000000L,
    "dup" -> -1500000000L, "slow" -> -1000000000L, "spam" -> -2000000000L)
  private[graft] val QualityBiasNano: Long = -250000000L

  private[graft] def qualityClassifierScore(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def bkt(c: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.md5Prefix48(c) % 64L
    val wt = s.createDataFrame(QualityLexiconNano).toDF("tok", "w_nano")
      .groupBy(bkt(col("tok")).as("bkt"))
      .agg(sum(col("w_nano")).as("w"))
    val bc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), bkt(col("tok")).as("bkt"))
      .agg(count(lit(1)).as("c"))
    val sc = bc.join(broadcast(wt), Seq("bkt"), "left")
      .groupBy(col("doc_id"))
      .agg((coalesce(sum(col("c") * col("w")), lit(0L)) + lit(QualityBiasNano))
        .as("score_nano"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .join(sc, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("score_nano"),
        (col("score_nano") > 0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val textQualityClassifier: QFn = (s, d) =>
    qualityClassifierScore(s, Tables.documents(s, d)
      .select(col("doc_id"), col("text")))

  /** Flesch readability scoring — the lightweight quality gate HTML
    * curation stacks run next to the stopword/punct heuristics (a
    * grade-level band is a standard corpus-mix axis: textbook-style
    * "easy" prose vs technical "hard" text). The fixture corpus has no
    * sentence punctuation, so the rung first SYNTHESIZES deterministic
    * sentence boundaries (the text_boilerplate/text_pii_scan posture:
    * construction mirrored verbatim in the oracle): a period is
    * appended to every k-th token, k = 8 + doc_id % 5, plus a terminal
    * period — then the REAL pipeline runs on the page
    * ([[graft.api.GraftOps.fleschReadingEase]]): sentences = regexp
    * runs of [.!?]+ (at least 1), words = whitespace tokens, syllables =
    * vowel-group count with the standard ≥1-per-word floor (vowel-less
    * tokens contribute 1). Flesch reading-ease and Flesch-Kincaid
    * grade are fixed-shape double expressions over these exact integer
    * counts — identical IEEE on both engines, so the band gate
    * compares the raw double, never a rounded rendering. Zero shuffle:
    * pure row functions + the final ORDER BY; at 100 TB this rides the
    * ingest scan like text_normalize. */
  private val textReadability: QFn = (s, d) =>
    Tables.documents(s, d)
      .withColumn("k", (col("doc_id") % 5 + 8).cast(IntegerType))
      .withColumn("page", concat(expr(
        """array_join(transform(split(text, ' '),
             (w, i) -> IF((i + 1) % k = 0, concat(w, '.'), w)), ' ')"""),
        lit(".")))
      .select(col("doc_id"), GraftOps.fleschReadingEase(col("page")).as("f"))
      .select(col("doc_id"), col("f.n_words").as("n_words"),
        col("f.n_sentences").as("n_sentences"),
        col("f.n_syllables").as("n_syllables"),
        (round(col("f.flesch"), 6) + lit(0.0)).as("flesch"),
        when(col("f.flesch") >= 60.0, "easy")
          .when(col("f.flesch") >= 30.0, "medium")
          .otherwise("hard").as("band"))
      .orderBy(col("doc_id"))

  val queries: Seq[(String, QFn)] = Seq(
    "text_readability" -> textReadability,
    "text_quality_classifier" -> textQualityClassifier,
    "profile_topk" -> profileTopk,
    "profile_kanon" -> profileKanon,
    "dedup_url" -> dedupUrl,
    "text_blocklist" -> textBlocklist,
    "text_pii_scan" -> textPiiScan,
    "sample_token_budget" -> sampleTokenBudget,
    "sample_pack" -> samplePack,
    "sample_dsir" -> sampleDsir,
    "sample_dsir_approx" -> sampleDsirApprox,
    "text_dedup_span" -> textDedupSpan,
    "text_dedup_substring" -> textDedupSubstring,
    "text_boilerplate" -> textBoilerplate,
    "text_decontaminate" -> textDecontaminate,
    "profile_observe" -> profileObserve,
    "profile_columns" -> profileColumns,
    "profile_freshness" -> profileFreshness,
    "text_domain_mix" -> textDomainMix,
    "text_ngram_novelty" -> textNgramNovelty,
    "sample_temperature" -> sampleTemperature,
    "text_quality_bucket" -> textQualityBucket,
    "text_quality_bucket_approx" -> textQualityBucketApprox,
    "profile_numeric" -> profileNumeric,
  )

  val oracles: Seq[(String, String)] = Seq(
    "text_readability" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                           8 + doc_id % 5 AS k
                    FROM documents),
            pg AS (SELECT doc_id, toks,
                     array_to_string(list_transform(range(1, len(toks) + 1),
                       i -> CASE WHEN i % k = 0 THEN toks[i] || '.'
                                 ELSE toks[i] END), ' ') || '.' AS page
                   FROM t),
            m AS (SELECT doc_id,
                    CAST(len(toks) AS BIGINT) AS n_words,
                    CAST(len(regexp_extract_all(page, '[.!?]+')) AS BIGINT)
                      AS n_sentences,
                    CAST(len(regexp_extract_all(lower(page), '[aeiouy]+'))
                      AS BIGINT)
                    + CAST(len(list_filter(toks,
                        w -> NOT regexp_matches(lower(w), '[aeiouy]')))
                      AS BIGINT) AS n_syllables
                  FROM pg),
            r AS (SELECT doc_id, n_words, n_sentences, n_syllables,
                    206.835
                      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
                      AS fre_raw
                  FROM m)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                round(fre_raw, 6) + 0.0 AS flesch,
                CASE WHEN fre_raw >= 60.0 THEN 'easy'
                     WHEN fre_raw >= 30.0 THEN 'medium'
                     ELSE 'hard' END AS band
         FROM r ORDER BY doc_id ASC NULLS FIRST""",
    "profile_kanon" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz
                      FROM customer GROUP BY 1, 2),
            ks AS (SELECT CAST(unnest([5, 10, 25]) AS BIGINT) AS k)
         SELECT k, count(*) AS n_classes,
                CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
                CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
                  AS rows_at_risk,
                min(sz) AS min_class
         FROM cls CROSS JOIN ks GROUP BY k
         ORDER BY k ASC NULLS FIRST""",
    "text_quality_classifier" ->
      """WITH lex(tok, w_nano) AS (VALUES
             ('value', 1500000000), ('fast', 1000000000), ('big', 750000000),
             ('dup', -1500000000), ('slow', -1000000000), ('spam', -2000000000)),
         wt AS (SELECT ('0x' || substr(md5(tok), 1, 12))::BIGINT % 64 AS bkt,
                       CAST(sum(w_nano) AS BIGINT) AS w
                FROM lex GROUP BY 1),
         tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
         bc AS (SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 12))::BIGINT % 64 AS bkt,
                       count(*) AS c
                FROM tk GROUP BY 1, 2),
         sc AS (SELECT doc_id,
                       CAST(coalesce(sum(c * w), 0) - 250000000 AS BIGINT)
                         AS score_nano
                FROM bc LEFT JOIN wt USING (bkt) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                sc.score_nano, sc.score_nano > 0 AS keep
         FROM documents d JOIN sc ON d.doc_id = sc.doc_id
         ORDER BY d.doc_id ASC NULLS FIRST""",
    "text_blocklist" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(string_split(text, ' '),
                                     t -> t IN ('dup', 'slow'))) AS BIGINT)
                  AS n_bad,
                len(list_filter(string_split(text, ' '),
                                t -> t IN ('dup', 'slow'))) = 0 AS keep
         FROM documents
         ORDER BY doc_id ASC NULLS FIRST""",
    "dedup_url" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://'
                  || CASE WHEN doc_id % 2 = 0
                          THEN upper('www.s' || CAST(doc_id % 7 AS VARCHAR)
                                     || '.example.com')
                          ELSE 'www.s' || CAST(doc_id % 7 AS VARCHAR)
                               || '.example.com' END
                  || '/doc/' || CAST(doc_id % 200 AS VARCHAR)
                  || CASE WHEN doc_id % 8 = 0 THEN '?utm_source=feed&utm_campaign=Spring_2024'
                          WHEN doc_id % 8 = 4 THEN '?id=3&utm_source=feed-x'
                          WHEN doc_id % 4 = 1 THEN '/'
                          WHEN doc_id % 4 = 2 THEN '#sec2'
                          ELSE '' END AS url
           FROM documents),
         c AS (
           SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              regexp_replace(url, '#.*$', ''),
                              '&utm_[A-Za-z0-9_]*=[^&#]*', '', 'g'),
                            '\?utm_[A-Za-z0-9_]*=[^&#]*&', '?'),
                          '\?utm_[A-Za-z0-9_]*=[^&#]*$', ''),
                        '(\?[^#]*?)&+$', '\1'),
                      '\?$', ''),
                    '/$', '') AS c3
           FROM u),
         k AS (
           SELECT doc_id,
                  lower(regexp_extract(c3, '^(https://[^/]+)', 1))
                  || regexp_replace(c3, '^https://[^/]+', '') AS canonical_url
           FROM c)
         SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS survivor
         FROM k GROUP BY canonical_url
         ORDER BY canonical_url ASC NULLS FIRST""",
    "profile_topk" ->
      """WITH counts AS (
           SELECT 'o_orderstatus' AS "column", o_orderstatus AS value,
                  count(*) AS n
           FROM orders GROUP BY o_orderstatus
           UNION ALL
           SELECT 'o_orderpriority' AS "column", o_orderpriority AS value,
                  count(*) AS n
           FROM orders GROUP BY o_orderpriority),
            ranked AS (
           SELECT "column", value, n,
                  row_number() OVER (PARTITION BY "column"
                                     ORDER BY n DESC, value ASC) AS rk
           FROM counts)
         SELECT "column", value, n, CAST(rk AS BIGINT) AS rk
         FROM ranked WHERE rk <= 3
         ORDER BY "column" ASC NULLS FIRST, rk ASC NULLS FIRST""",
    "text_pii_scan" ->
      """WITH synth AS (
           SELECT doc_id,
                  text ||
                  CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example.com'
                       ELSE '' END ||
                  CASE WHEN doc_id % 5 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
                regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '[email]', 'g'),
                               '555-[0-9]{4}', '[phone]', 'g') AS redacted,
                (CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT)
                 + CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT)) > 0 AS has_pii
         FROM synth
         ORDER BY doc_id ASC NULLS FIRST""",
    "sample_dsir" ->
      """WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
           tb AS (SELECT doc_id, lang,
                         ('0x' || substr(md5(tok), 1, 12))::BIGINT % 256 AS bkt
                  FROM tk),
           al AS (SELECT bkt, count(*) AS a FROM tb GROUP BY 1),
           tg AS (SELECT bkt, count(*) AS t FROM tb WHERE lang = 'en' GROUP BY 1),
           ta AS (SELECT CAST(sum(a) AS BIGINT) AS ta FROM al),
           tt AS (SELECT CAST(sum(t) AS BIGINT) AS tt FROM tg),
           u AS (SELECT al.bkt,
                        CAST(floor((ln((coalesce(tg.t, 0) + 1)
                                       / CAST(tt.tt + 256 AS DOUBLE))
                                  - ln((al.a + 1)
                                       / CAST(ta.ta + 256 AS DOUBLE))) * 1e9 + 0.5)
                             AS BIGINT) AS unit
                 FROM al LEFT JOIN tg USING (bkt) CROSS JOIN ta CROSS JOIN tt),
           pd AS (SELECT doc_id, count(*) AS n_tokens,
                         CAST(sum(u.unit) AS BIGINT) AS w_nano
                  FROM tb JOIN u USING (bkt) GROUP BY doc_id),
           nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM pd),
           rk AS (SELECT doc_id, n_tokens, w_nano,
                         row_number() OVER (
                           ORDER BY CAST(w_nano AS DOUBLE) / n_tokens DESC,
                                    doc_id ASC) AS rk
                  FROM pd)
         SELECT doc_id, n_tokens, w_nano,
                CAST(floor(CAST(w_nano AS DOUBLE) / n_tokens) AS BIGINT) AS imp_nano,
                rk <= (nd.nd + 3) // 4 AS selected
         FROM rk CROSS JOIN nd
         ORDER BY doc_id ASC NULLS FIRST""",
    "sample_pack" ->
      """WITH docs AS (SELECT doc_id,
                CASE WHEN len(text) >= 1
                     THEN CAST(len(string_split(text, ' ')) AS BIGINT)
                     ELSE 0 END AS ntok
              FROM documents),
           c AS (SELECT doc_id, ntok,
                        CAST(sum(ntok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                          AS e
                 FROM docs),
           sp AS (SELECT doc_id, e - ntok AS s, e
                  FROM c WHERE ntok > 0),
           x AS (SELECT doc_id, s, e, CAST(r.i AS BIGINT) AS seq_id
                 FROM sp, unnest(range(s // 2048, (e - 1) // 2048 + 1)) r(i)),
           t AS (SELECT seq_id, doc_id, s,
                        least(e, (seq_id + 1) * 2048)
                          - greatest(s, seq_id * 2048) AS tok_in_seq
                 FROM x)
         SELECT seq_id, count(*) AS n_docs,
                CAST(sum(tok_in_seq) AS BIGINT) AS n_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                CAST(sum(CASE WHEN s < seq_id * 2048 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_carry_in,
                round(CAST(sum(tok_in_seq) AS DOUBLE) / 2048, 6) AS fill_rate
         FROM t GROUP BY seq_id
         ORDER BY seq_id ASC NULLS FIRST""",
    "sample_token_budget" ->
      """WITH docs AS (SELECT doc_id,
                CASE WHEN len(text) >= 1
                     THEN CAST(len(string_split(text, ' ')) AS BIGINT)
                     ELSE 0 END AS ntok
              FROM documents),
           b AS (SELECT CAST(sum(ntok) // 2 AS BIGINT) AS budget FROM docs),
           c AS (SELECT doc_id, ntok,
                        CAST(sum(ntok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                          AS cum_tokens
                 FROM docs)
         SELECT doc_id, ntok, cum_tokens, cum_tokens <= budget AS kept
         FROM c CROSS JOIN b
         ORDER BY doc_id ASC NULLS FIRST""",
    "text_dedup_span" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents WHERE len(text) >= 1),
           spans AS (SELECT doc_id, CAST(r.i AS BIGINT) AS span_id,
                            array_to_string(list_slice(t, r.i*8 + 1, r.i*8 + 8), ' ') AS span
                     FROM tk, unnest(range(0, ((len(t)-1) // 8) + 1)) r(i)),
           firsts AS (SELECT md5(span) AS dig,
                             min(struct_pack(doc_id := doc_id, span_id := span_id)) AS f
                      FROM spans GROUP BY 1),
           marked AS (SELECT s.doc_id, s.span_id, s.span,
                             (s.doc_id = f.f.doc_id AND s.span_id = f.f.span_id) AS kept
                      FROM spans s JOIN firsts f ON md5(s.span) = f.dig)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                coalesce(string_agg(CASE WHEN kept THEN span END, ' '
                                    ORDER BY span_id), '') AS clean_text
         FROM marked GROUP BY doc_id
         ORDER BY doc_id ASC NULLS FIRST""",
    "text_dedup_substring" ->
      """WITH tk AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id, CAST(i AS BIGINT) AS i,
                  md5(array_to_string(t[i+1:i+10], ' ')) AS dig
           FROM tk, unnest(range(len(t) - 9)) AS u(i)
           WHERE len(t) >= 10),
         dup AS (
           SELECT dig FROM sh GROUP BY dig HAVING count(*) >= 2),
         marked AS (
           SELECT s.doc_id, s.i, (d.dig IS NOT NULL) AS is_dup
           FROM sh s LEFT JOIN dup d USING (dig)),
         base AS (
           SELECT doc_id, count(*) AS n_shingles,
                  sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup_shingles
           FROM marked GROUP BY doc_id),
         cov AS (
           SELECT doc_id, count(DISTINCT p) AS n_dup_tokens
           FROM marked, unnest(range(i, i + 10)) AS g(p)
           WHERE is_dup GROUP BY doc_id),
         runs AS (
           SELECT doc_id, i,
                  i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
           FROM marked WHERE is_dup),
         longest AS (
           SELECT doc_id, max(cnt) + 9 AS longest_run
           FROM (SELECT doc_id, grp, count(*) AS cnt
                 FROM runs GROUP BY doc_id, grp) r
           GROUP BY doc_id)
         SELECT b.doc_id, b.n_shingles,
                CAST(b.n_dup_shingles AS BIGINT) AS n_dup_shingles,
                CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
                CAST(coalesce(l.longest_run, 0) AS BIGINT) AS longest_run
         FROM base b LEFT JOIN cov c USING (doc_id)
                     LEFT JOIN longest l USING (doc_id)
         ORDER BY doc_id ASC NULLS FIRST""",
    "profile_observe" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4)
                  AS revenue
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
    "text_boilerplate" ->
      """WITH tk AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         page AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 3 = 0
                        THEN 'Home About Contact' || chr(10) ELSE '' END)
                  || array_to_string(t[1:len(t)//2], ' ') || '.' || chr(10)
                  || (CASE WHEN doc_id % 4 = 1
                           THEN 'Click here!' || chr(10) ELSE '' END)
                  || (CASE WHEN doc_id % 5 = 2
                           THEN 'Enable javascript to continue.' || chr(10)
                           ELSE '' END)
                  || array_to_string(t[len(t)//2+1:len(t)], ' ') || '.' AS pg
           FROM tk),
         gated AS (
           SELECT doc_id, string_split(pg, chr(10)) AS lines,
                  list_filter(string_split(pg, chr(10)),
                    x -> regexp_matches(x, '[.!?"]$')
                         AND len(string_split(trim(x), ' ')) >= 3
                         AND NOT contains(lower(x), 'javascript')
                         AND NOT contains(x, '{')) AS kept
           FROM page)
         SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(kept) AS BIGINT) AS n_kept,
                array_to_string(kept, chr(10)) AS clean_text
         FROM gated ORDER BY doc_id ASC NULLS FIRST""",
    "text_decontaminate" ->
      """WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
                     FROM documents WHERE len(text) >= 1),
           sh AS (SELECT doc_id, source,
                         md5(array_to_string(list_slice(t, r.i + 1, r.i + 8), ' ')) AS dig
                  FROM tk, unnest(range(0, len(t) - 7)) r(i)
                  WHERE len(t) >= 8),
           ev AS (SELECT DISTINCT dig FROM sh WHERE source = 'src0')
         SELECT s.doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN ev.dig IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                (CAST(sum(CASE WHEN ev.dig IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) > 0) AS contaminated
         FROM sh s LEFT JOIN ev ON s.dig = ev.dig
         WHERE s.source <> 'src0'
         GROUP BY s.doc_id
         ORDER BY s.doc_id ASC NULLS FIRST""",
    "profile_columns" ->
      """WITH b AS (SELECT * FROM orders)
         SELECT col_name, n_rows, n_null, n_distinct FROM (
           SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM b
           UNION ALL SELECT 'o_custkey', count(*),
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM b
           UNION ALL SELECT 'o_orderstatus', count(*),
                  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM b
           UNION ALL SELECT 'o_totalprice', count(*),
                  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM b
           UNION ALL SELECT 'o_orderdate', count(*),
                  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM b
           UNION ALL SELECT 'o_orderpriority', count(*),
                  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM b) t
         ORDER BY col_name ASC NULLS FIRST""",
    "text_domain_mix" ->
      """WITH perdoc AS (SELECT source,
                CASE WHEN len(text) >= 1
                     THEN CAST(len(string_split(text, ' ')) AS BIGINT)
                     ELSE 0 END AS ntok
              FROM documents),
           persrc AS (SELECT source, count(*) AS n_docs,
                             CAST(sum(ntok) AS BIGINT) AS n_tokens
                      FROM perdoc GROUP BY source),
           tot AS (SELECT sum(n_tokens) AS tot,
                          count(*) AS n_sources FROM persrc)
         SELECT source, n_docs, n_tokens,
                round(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share,
                round((CAST(1.0 AS DOUBLE) / n_sources) / (CAST(n_tokens AS DOUBLE) / tot), 6) AS mix_weight
         FROM persrc CROSS JOIN tot
         ORDER BY source ASC NULLS FIRST""",
    "profile_freshness" ->
      """WITH pertype AS (
           SELECT event_type, count(*) AS n_events,
                  max(epoch_ns(ts)) AS last_ts
           FROM events GROUP BY event_type),
         now_t AS (SELECT max(last_ts) AS now_ts FROM pertype)
         SELECT event_type, n_events, last_ts,
                (now_ts - last_ts) // 1000000000 AS staleness_s,
                ((now_ts - last_ts) // 1000000000 <= 1800) AS sla_ok
         FROM pertype CROSS JOIN now_t
         ORDER BY event_type ASC NULLS FIRST""",
    "text_ngram_novelty" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS t
                    FROM documents WHERE len(string_split(text, ' ')) >= 3),
           sg AS (SELECT DISTINCT source,
                         ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                         1, 12))::BIGINT AS gh
                  FROM t, unnest(range(1, len(t) - 1)) r(i)),
           pergram AS (SELECT gh, count(*) AS n_src FROM sg GROUP BY gh)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_novel,
                round(CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) + 0.0 AS novelty_rate
         FROM sg JOIN pergram USING (gh)
         GROUP BY source
         ORDER BY source ASC NULLS FIRST""",
    "sample_temperature" ->
      """WITH perdoc AS (SELECT source,
                CASE WHEN len(text) >= 1
                     THEN CAST(len(string_split(text, ' ')) AS BIGINT)
                     ELSE 0 END AS ntok
              FROM documents),
           persrc AS (SELECT source, count(*) AS n_docs,
                             CAST(sum(ntok) AS BIGINT) AS n_tokens
                      FROM perdoc GROUP BY source),
           tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM persrc),
           scored AS (SELECT source, n_docs, n_tokens,
                             CAST(n_tokens AS DOUBLE) / tot AS share,
                             CAST(floor(round(power(CAST(n_tokens AS DOUBLE) / tot, 0.5), 6) * 1e6 + 0.5) AS BIGINT) AS qi
                      FROM persrc CROSS JOIN tot),
           z AS (SELECT CAST(sum(qi) AS BIGINT) AS z FROM scored)
         SELECT source, n_docs, n_tokens,
                round(share, 6) AS token_share,
                round(CAST(qi AS DOUBLE) / z, 6) AS temp_weight
         FROM scored CROSS JOIN z
         ORDER BY source ASC NULLS FIRST""",
    "text_quality_bucket" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
           tf AS (SELECT tok, count(*) tf FROM toks GROUP BY tok),
           n AS (SELECT CAST(count(*) AS DOUBLE) n_tok FROM toks),
           score AS (SELECT doc_id,
                            round(sum(ln(tf / n_tok)) / count(*), 6) AS mean_logprob
                     FROM toks JOIN tf USING (tok) CROSS JOIN n
                     GROUP BY doc_id),
           bucketed AS (SELECT doc_id, mean_logprob,
                               ntile(3) OVER (ORDER BY mean_logprob DESC NULLS LAST,
                                              doc_id ASC) AS b
                        FROM score)
         SELECT doc_id, mean_logprob,
                CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket
         FROM bucketed
         ORDER BY doc_id ASC NULLS FIRST""",
    "profile_numeric" ->
      """WITH b AS (SELECT * FROM lineitem)
         SELECT col_name, n_rows, min_val, max_val, mean_val, n_null FROM (
           SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
                  min(l_quantity) AS min_val, max(l_quantity) AS max_val,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                        / (count(*) - sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)), 6) AS mean_val,
                  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
           FROM b
           UNION ALL SELECT 'l_extendedprice', count(*),
                  min(l_extendedprice), max(l_extendedprice),
                  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                        / (count(*) - sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)), 6),
                  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           FROM b
           UNION ALL SELECT 'l_discount', count(*),
                  min(l_discount), max(l_discount),
                  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                        / (count(*) - sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)), 6),
                  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           FROM b
           UNION ALL SELECT 'l_tax', count(*),
                  min(l_tax), max(l_tax),
                  round(CAST(sum(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE)
                        / (count(*) - sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END)), 6),
                  CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           FROM b) t
         ORDER BY col_name ASC NULLS FIRST""",
  )
}
