package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck property tests (SURVEY.md §5.5) over generated token sets —
  * pure-logic twins of the Spark HOF formulas, small case count because
  * each Spark check is a full local job. */
class DedupProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private val tokenGen = Gen.listOfN(12, Gen.oneOf(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "slow",
    "small", "value", "hash"))

  private def jaccard(a: Seq[String], b: Seq[String]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  /** Plain-Scala twin of the repo's load-bearing portable-hash idiom:
    * parse md5 hex chars [off, off+len) as an int64 — the
    * `conv(substring(md5(x), 1+off, len), 16, 10)` spelling every
    * sample_/split_/dsir/hash_features bucket derives from. */
  private def refMdSlice(s: String, off: Int, len: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.slice(off, off + len), 16)
  }

  property("conv-md5 slice, bucket, and weighted-keep arithmetic equal plain Scala") =
    Prop.forAll(
      Gen.listOfN(6, Gen.oneOf(
        Gen.choose(0L, Long.MaxValue).map(_.toString),
        Gen.alphaNumStr.suchThat(_.nonEmpty),
        Gen.const("naïve—文"))), // multibyte: UTF-8 agreement matters
      Gen.oneOf(10, 64, 256, 1024),
      Gen.choose(1L, 4096L)) { (keys, b, w) =>
      import org.apache.spark.sql.functions._
      val spark = TestSpark.spark
      val df = spark.createDataFrame(
        keys.distinct.zipWithIndex.map { case (k, i) => (i.toLong, k) })
        .toDF("id", "k")
      val got = df.select(col("id"),
          expr("conv(substring(md5(k), 1, 12), 16, 10)").cast("long").as("u48"),
          (expr("conv(substring(md5(k), 1, 12), 16, 10)").cast("long") % b).as("bkt"),
          expr("conv(substring(md5(k), 1, 8), 16, 10)").cast("long").as("u32"),
          expr("conv(substring(md5(k), 1, 15), 16, 10)").cast("long").as("u60"),
          expr("conv(substring(md5(k), 9, 8), 16, 10)").cast("long").as("mid"),
          api.GraftOps.weightedKeep(col("k"), lit(w), cap = 4096L).as("keep"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
           r.getLong(5), r.getBoolean(6))).toMap
      keys.distinct.zipWithIndex.forall { case (k, i) =>
        val u48 = refMdSlice(k, 0, 12)
        got(i.toLong) == ((u48, u48 % b, refMdSlice(k, 0, 8),
          refMdSlice(k, 0, 15), refMdSlice(k, 8, 8),
          u48 < w * ((1L << 48) / 4096L)))
      }
    }

  property("tokenIntervalsOf equals the sorted-scan reference on generated corpora") =
    Prop.forAll(
      Gen.listOfN(24, Gen.zip(Gen.choose(0L, 5000L), Gen.choose(0L, 50L))),
      Gen.choose(1L, 13L)) { (pairs0, bucket) =>
      // sparse, unordered, possibly-duplicate ids → dedup, keep sparse
      val docs = pairs0.toMap.toSeq
      val spark = TestSpark.spark
      val df = spark.createDataFrame(docs).toDF("doc_id", "ntok").localCheckpoint()
      val got = operators.Curation.tokenIntervalsOf(df, bucket).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      // reference: the plain sequential scan in doc_id order
      val want = docs.sortBy(_._1).foldLeft((Map.empty[Long, (Long, Long)], 0L)) {
        case ((m, off), (id, n)) => (m + (id -> (off, off + n)), off + n)
      }._1
      got == want
    }

  property("jaccard symmetric") = Prop.forAll(tokenGen, tokenGen) { (a, b) =>
    math.abs(jaccard(a, b) - jaccard(b, a)) < 1e-15
  }

  property("jaccard(x, x) == 1") = Prop.forAll(tokenGen) { a =>
    a.isEmpty || jaccard(a, a) == 1.0
  }

  property("spark HOF jaccard equals reference formula") =
    Prop.forAll(tokenGen, tokenGen) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val spark = TestSpark.spark
        import org.apache.spark.sql.functions._
        val df = spark.createDataFrame(Seq((a, b))).toDF("a", "b")
        val got = df.select(
          (size(array_intersect(array_distinct(col("a")), array_distinct(col("b")))).cast("double") /
           size(array_union(col("a"), col("b"))).cast("double")).as("j"))
          .collect()(0).getDouble(0)
        math.abs(got - jaccard(a, b)) < 1e-12
      }
    }

  /** Plain-Scala winnowing reference (Schleimer et al.): word 3-gram
    * hashes (first 8 md5 hex chars → int64, the operator's exact
    * recipe), min per 4-window with the RIGHTMOST position on ties,
    * full windows only, deduped (pos, hash) selections. */
  private def refWinnow(tokens: Seq[String]): Set[(Long, Long)] = {
    def h8(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val grams = tokens.sliding(3).filter(_.length == 3)
      .map(g => h8(g.mkString(" "))).toVector
    val W = 4
    (0 to grams.length - W).map { p =>
      val win = (p until p + W).map(i => (grams(i), i))
      val (h, pos) = win.minBy { case (hh, pp) => (hh, -pp) }
      (pos.toLong, h)
    }.toSet
  }

  property("spark winnowing equals the reference on generated docs") =
    Prop.forAll(Gen.listOfN(3, Gen.choose(6, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("the", "fast", "key", "order", "sort",
        "table", "scan", "merge", "slow", "value"))))) { docs =>
      val spark = TestSpark.spark
      val df = spark.createDataFrame(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
        .toDF("doc_id", "text")
      val got = operators.LlmText.winnowFpsOf(df).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSet
      val want = docs.zipWithIndex.flatMap { case (t, i) =>
        refWinnow(t).map(fp => (i.toLong, fp))
      }.toSet
      got == want
    }

  property("winnowing with duplicate ids is the union of each row's fingerprints") =
    Prop.forAll(
      Gen.listOfN(5, Gen.choose(0, 16).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("the", "fast", "key", "order", "sort",
          "table", "scan", "merge", "slow", "value")))),
      Gen.listOfN(5, Gen.choose(0L, 2L))) { (docs, ids) =>
      // 5 rows over at most 3 ids: most cases split one doc over rows,
      // and the texts' lengths straddle the 6-token (4-window) minimum
      val spark = TestSpark.spark
      val rows = ids.zip(docs)
      val df = spark.createDataFrame(rows.map { case (i, t) => (i, t.mkString(" ")) })
        .toDF("doc_id", "text")
      val got = operators.LlmText.winnowFpsOf(df).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSet
      val want = rows.flatMap { case (i, t) => refWinnow(t).map(fp => (i, fp)) }.toSet
      (got == want) :| s"extra=${got.diff(want)} missing=${want.diff(got)}"
    }

  /** Plain-Scala curriculum reference: stage by token-count literals,
    * rank inside (stage, src) by (md5-u48 of "id:cur", id), key =
    * stage·10¹² + (r−1)·20 + src — the operator's exact recipe. */
  private def refCurriculum(docs: Seq[(Long, Long, Int)]): Map[Long, Long] = {
    // docs: (doc_id, src_idx, ntok)
    def u48(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:cur".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16)
    }
    docs.map { case (id, src, ntok) =>
      val stage = if (ntok < 40) 0L else if (ntok < 69) 1L else 2L
      (id, src, stage)
    }.groupBy { case (_, src, stage) => (stage, src) }
      .flatMap { case ((stage, src), grp) =>
        grp.sortBy { case (id, _, _) => (u48(id), id) }.zipWithIndex.map {
          case ((id, _, _), i) => id -> (stage * 1000000000000L + i * 20L + src)
        }
      }
  }

  property("spark curriculum key equals the reference on generated corpora") =
    Prop.forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 19L),
      Gen.choose(8, 110)))) { specs =>
      val docs = specs.zipWithIndex.map { case ((src, ntok), i) =>
        (i.toLong, s"src$src", Seq.fill(ntok)("w").mkString(" "))
      }
      val spark = TestSpark.spark
      val df = spark.createDataFrame(docs).toDF("doc_id", "source", "text")
      val got = operators.Sampling.curriculumOf(df).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      val want = refCurriculum(docs.map { case (id, s, t) =>
        (id, s.drop(3).toLong, t.split(" ").length) })
      got == want
    }

  property("ntile closed form matches the ceil/floor split for every n") =
    Prop.forAll(Gen.choose(1, 200)) { n =>
      // reference semantics: the first n%4 tiles get ceil(n/4) rows,
      // the rest floor(n/4) — exactly what SQL ntile(4) assigns
      val base = n / 4
      val rem = n % 4
      val tiles = (Seq.fill(rem)(base + 1) ++ Seq.fill(4 - rem)(base))
        .zipWithIndex.flatMap { case (sz, i) => Seq.fill(sz)(i + 1) }
      (1 to n).forall { r =>
        // the win_ntile_pctrank closed form (Windows.scala); when
        // base == 0 the first branch always applies, so no div by zero
        val q =
          if (r <= rem * (base + 1)) (r - 1) / (base + 1) + 1
          else rem + (r - rem * (base + 1) - 1) / base + 1
        q == tiles(r - 1)
      }
    }

  property("minhash of identical sets is identical (via md5 min)") =
    Prop.forAll(tokenGen) { a =>
      a.nonEmpty ==> {
        def mh(xs: Seq[String]): String = xs.map(x =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString).min
        mh(a) == mh(scala.util.Random.shuffle(a))
      }
    }

  /** The exploded-join MinHash construction GraftOps.minhashNearDupPairs
    * had before the per-doc-set verify: distinct shingle STRINGS
    * (interpreted transform lambda), 16 minhashes over their md5
    * prefixes, 8 bands of r=2, then a verify that joins every candidate
    * to both docs' exploded (id, shingle) rows and counts matches. */
  private def explodedJoinPairs(df: org.apache.spark.sql.DataFrame,
                                threshold: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val P = 2147483647L
    val sh = df
      .select(col("doc_id").as("gid"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("gid"), explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as("s"))
      .distinct()
    val hashed = sh.withColumn("hm",
      conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long") % P)
    val mins = (0 until 16).map { i =>
      min((col("hm") * (2L * i + 3L) + (7919L * i + 13L)) % P).as(s"mh$i")
    }
    val sig = hashed.groupBy(col("gid")).agg(mins.head, mins.tail: _*)
    val bands = sig.select(col("gid"), explode(array((0 until 8).map { j =>
        struct(lit(j).as("band"), col(s"mh${2 * j}").as("s0"), col(s"mh${2 * j + 1}").as("s1"))
      }: _*)).as("b"))
      .select(col("gid"), col("b.band").as("band"), col("b.s0").as("s0"), col("b.s1").as("s1"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.s0") === col("y.s0") && col("x.s1") === col("y.s1") &&
        col("x.gid") < col("y.gid"))
      .select(col("x.gid").as("ida"), col("y.gid").as("idb"))
      .distinct()
    val cnt = sh.groupBy(col("gid")).agg(count(lit(1)).as("n"))
    cand
      .join(sh.select(col("gid").as("ida"), col("s")), "ida")
      .join(sh.select(col("gid").as("idb"), col("s")), Seq("idb", "s"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("ni"))
      .join(cnt.select(col("gid").as("ida"), col("n").as("na")), "ida")
      .join(cnt.select(col("gid").as("idb"), col("n").as("nb")), "idb")
      .withColumn("jaccard", col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Generated (doc_id, text) corpora for the minhash verify fold: each
    * base doc gets an exact copy and a one-token edit (so every case has
    * verified pairs), plus a doc repeating one shingle, sub-3-token,
    * empty, whitespace-only, multi-byte and NULL texts, and a second row
    * under an existing id (its shingles join that doc's set). */
  private val minhashCorpusGen: Gen[Seq[(Long, Option[String])]] = {
    val word = Gen.oneOf("the", "fast", "key", "order", "sort", "scan", "é", "文字")
    for {
      bases <- Gen.listOfN(3, Gen.choose(4, 12).flatMap(Gen.listOfN(_, word)))
      edits <- Gen.listOfN(3, Gen.zip(Gen.choose(0, 11), word))
      extra <- Gen.listOfN(2, word)
      dupOf <- Gen.choose(0, 2)
    } yield {
      val related = bases.zip(edits).flatMap { case (b, (at, w)) =>
        Seq(b, b, b.updated(at % b.length, w)).map(t => Some(t.mkString(" ")))
      }
      val odd = Seq(Some("key sort key sort key sort key"), Some("fast é"), Some("文字"),
        Some(""), Some("   "), Some("    "), None,
        Some((extra ++ bases(dupOf).take(3)).mkString(" ")))
      val docs = (related ++ odd).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      docs :+ ((dupOf * 3).toLong -> Some(extra.mkString(" ") + " fast fast"))
    }
  }

  property("minhash per-doc-set verify equals the exploded-join verify row for row") =
    Prop.forAll(minhashCorpusGen, Gen.oneOf(0.3, 0.5, 0.8, 1.0)) { (docs, threshold) =>
      val spark = TestSpark.spark
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      def pairs(p: org.apache.spark.sql.DataFrame) =
        p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = pairs(api.GraftOps.minhashNearDupPairs(
        df, org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"), threshold))
      val want = pairs(explodedJoinPairs(df, threshold))
      (want.nonEmpty && got == want) :| s"got=$got want=$want"
    }

  private val corpusGen = Gen.listOfN(6, Gen.listOfN(10, Gen.oneOf(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge")))

  property("spanDedup conserves spans on random corpora") =
    Prop.forAll(corpusGen) { docs =>
      docs.nonEmpty ==> {
        // keep-first span dedup keeps EXACTLY one occurrence per
        // distinct span text, and totals conserve — on ANY corpus,
        // not just the fixtures (the CurationSpec law, generalized)
        val spark = TestSpark.spark
        import org.apache.spark.sql.functions._
        val df = spark.createDataFrame(
          docs.zipWithIndex.map { case (tks, i) => (i.toLong, tks.mkString(" ")) })
          .toDF("doc_id", "text")
        val out = graft.api.GraftOps.spanDedup(df, col("doc_id"), col("text"),
          spanTokens = 3).collect()
        val spans = docs.flatMap(_.grouped(3).map(_.mkString(" ")).toSeq)
        out.map(_.getAs[Long]("n_kept")).sum == spans.distinct.size &&
          out.map(_.getAs[Long]("n_spans")).sum == spans.size
      }
    }

  /** Pure-Scala reference for substringDedup: mark every k-window whose
    * text occurs >= 2 times corpus-wide, cover = interval union of
    * marked [i, i+k-1], run = longest consecutive-island + k - 1. */
  private def substrRef(docs: Seq[(Long, Seq[String])], k: Int)
      : Map[Long, (Long, Long, Long, Long)] = {
    val windows = docs.flatMap { case (id, tks) =>
      if (tks.size < k) Seq.empty
      else (0 to tks.size - k).map(i => (id, i, tks.slice(i, i + k).mkString(" ")))
    }
    val counts = windows.groupBy(_._3).view.mapValues(_.size).toMap
    windows.groupBy(_._1).map { case (id, ws) =>
      val offs = ws.collect { case (_, i, t) if counts(t) >= 2 => i }.sorted
      val cover =
        if (offs.isEmpty) 0L
        else offs.tail.foldLeft((offs.head, k.toLong)) { case ((prev, tot), x) =>
          (x, tot + math.min(k.toLong, (x - prev).toLong))
        }._2
      val run =
        if (offs.isEmpty) 0L
        else {
          var best = 1; var cur = 1
          offs.sliding(2).foreach {
            case Seq(a, b) =>
              cur = if (b == a + 1) cur + 1 else 1
              best = math.max(best, cur)
            case _ => ()
          }
          best.toLong + (k - 1).toLong
        }
      id -> (ws.size.toLong, offs.size.toLong, cover, run)
    }
  }

  property("substringDedup equals the pure reference on random colliding corpora") =
    Prop.forAll(corpusGen) { raw =>
      raw.nonEmpty ==> {
        // the 8-word vocab makes real 4-gram collisions likely, so the
        // dup-marking / cover / run logic is exercised, not just zeros
        val spark = TestSpark.spark
        import org.apache.spark.sql.functions._
        val docs = raw.zipWithIndex.map { case (tks, i) => (i.toLong, tks) }
        val df = spark.createDataFrame(
          docs.map { case (i, tks) => (i, tks.mkString(" ")) })
          .toDF("doc_id", "text")
        val got = graft.api.GraftOps.substringDedup(df, col("doc_id"), col("text"), k = 4)
          .collect()
          .map(r => r.getAs[Long]("id") ->
            (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup_shingles"),
             r.getAs[Long]("n_dup_tokens"), r.getAs[Long]("longest_run")))
          .toMap
        got == substrRef(docs, 4)
      }
    }

  property("a planted L-token copy across disjoint-alphabet docs yields run == L exactly") =
    Prop.forAll(Gen.choose(4, 12), Gen.choose(0, 6), Gen.choose(0, 6)) { (l, padA, padB) =>
      val spark = TestSpark.spark
      import org.apache.spark.sql.functions._
      // doc A: unique a-tokens with the shared run at offset padA;
      // doc B: unique b-tokens with the same run at offset padB —
      // alphabets disjoint, so duplicated windows are EXACTLY the
      // windows inside the planted run on both sides
      val shared = (0 until l).map(j => s"s$j")
      val a = (0 until padA).map(j => s"a$j") ++ shared ++ (0 until 5).map(j => s"az$j")
      val b = (0 until padB).map(j => s"b$j") ++ shared ++ (0 until 5).map(j => s"bz$j")
      val df = spark.createDataFrame(
        Seq((0L, a.mkString(" ")), (1L, b.mkString(" ")))).toDF("doc_id", "text")
      val k = 4
      val got = graft.api.GraftOps.substringDedup(df, col("doc_id"), col("text"), k = k)
        .collect()
        .map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("n_dup_shingles"), r.getAs[Long]("n_dup_tokens"),
           r.getAs[Long]("longest_run"))).toMap
      val expected = ((l - k + 1).toLong, l.toLong, l.toLong)
      got(0L) == expected && got(1L) == expected
    }

  /** Pure-Scala greedy left-to-right single-pair BPE merge. */
  private def bpeRef(a: Seq[String], x: String, y: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < a.length) {
      if (i < a.length - 1 && a(i) == x && a(i + 1) == y) {
        out += s"$x▁$y"; i += 2
      } else { out += a(i); i += 1 }
    }
    out.toSeq
  }

  property("bpeMergeExpr (both branches) equals the pure greedy reference") =
    Prop.forAll(
      Gen.listOfN(10, Gen.oneOf("p", "q", "r")),
      Gen.oneOf("p", "q", "r"), Gen.oneOf("p", "q", "r")) { (a, x, y) =>
      a.nonEmpty ==> {
        // 3-symbol alphabet makes overlapping runs (x == y) and dense
        // matches (x != y) both common; x == y exercises the fold
        // branch, x != y the vectorized transform+filter branch
        val spark = TestSpark.spark
        import org.apache.spark.sql.functions._
        val got = spark.createDataFrame(Seq(Tuple1(a))).toDF("tk")
          .select(graft.operators.LlmText.bpeMergeExpr(x, y).as("m"))
          .collect()(0).getSeq[String](0).toSeq
        got == bpeRef(a, x, y)
      }
    }

  /** Pure-Scala reference of the C4 line gates. */
  private def boilerRef(page: String): (Long, Long, String) = {
    val lines = page.split("\n", -1)
    val kept = lines.filter(x =>
      x.nonEmpty && ".!?\"".contains(x.last) &&
        x.trim.split(" ", -1).length >= 3 &&
        !x.toLowerCase.contains("javascript") && !x.contains("{"))
    (lines.length.toLong, kept.length.toLong, kept.mkString("\n"))
  }

  private val lineGen: Gen[String] = for {
    words <- Gen.choose(1, 5)
    body <- Gen.listOfN(words, Gen.oneOf("alpha", "beta", "gamma", "javascript", "x{y"))
    tail <- Gen.oneOf(".", "!", "", "", "w")
  } yield body.mkString(" ") + tail

  property("boilerplateClean equals the pure C4 line-gate reference") =
    Prop.forAll(Gen.listOfN(5, lineGen)) { lines =>
      val spark = TestSpark.spark
      import org.apache.spark.sql.functions._
      val page = lines.mkString("\n")
      val r = spark.createDataFrame(Seq(Tuple1(page))).toDF("pg")
        .select(graft.api.GraftOps.boilerplateClean(col("pg")).as("bp"))
        .select(col("bp.n_lines"), col("bp.n_kept"), col("bp.clean_text"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getString(2)) == boilerRef(page)
    }

  /** Pure-Scala reference of the multimodal_clip_filter alignment score:
    * 64-bucket md5 token hashing, per-dimension micro-quantization of
    * the embedding, exact int64 dot/norm folds, one closing division —
    * the quantization makes the Spark path and this reference compute
    * the SAME integers, so equality here is exact, not approximate. */
  private def clipRef(tokens: Seq[String], emb: Seq[Float]): Double = {
    def bkt(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(12), 16) % 64L).toInt
    }
    val evq = emb.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val cnts = tokens.groupBy(bkt).map { case (b, ts) => b -> ts.size.toLong }
    val dot = cnts.map { case (b, c) => c * evq(b) }.sum
    val tsq = cnts.values.map(c => c * c).sum
    val esq = evq.map(x => x * x).sum
    dot.toDouble / (math.sqrt(tsq.toDouble) * math.sqrt(esq.toDouble))
  }

  private val embGen: Gen[List[Float]] =
    Gen.listOfN(64, Gen.choose(-0.6, 0.6).map(_.toFloat))

  property("clipAlignmentOn equals the pure quantized-cosine reference") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.oneOf(
      "the", "fast", "key", "order", "slow", "value", "dup")), embGen) {
      (toks, emb) =>
        // an all-(near-)zero vector quantizes to esq == 0 (NaN on both
        // sides but NaN != NaN) — vanishing-measure case, skip it
        emb.exists(x => math.abs(x) >= 0.01) ==> {
          val spark = TestSpark.spark
          import org.apache.spark.sql.functions._
          val docs = spark.createDataFrame(Seq((0L, toks.mkString(" "))))
            .toDF("doc_id", "text")
          val embeds = spark.createDataFrame(Seq((0L, emb.toArray)))
            .toDF("vec_id", "embedding")
          val got = graft.operators.LlmVector.clipAlignmentOn(docs, embeds)
            .collect()(0).getDouble(1)
          got == clipRef(toks, emb)
        }
    }

  /** Plain-Scala union-find: min-vertex representative per component.
    * The reference for the label-propagation properties below — an
    * algorithm with nothing in common with iterated min-joins, so
    * agreement is evidence, not tautology. */
  private def unionFind(vs: Set[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v).toSeq: _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to the MIN representative: union always roots the
    // smaller id, so find() lands on the component minimum
    vs.map(v => v -> find(v)).toMap
  }

  private val graphGen: Gen[(Set[Long], List[(Long, Long)])] = for {
    n <- Gen.choose(2, 10)
    // sparse ids — catches any accidental dependence on dense 0..n-1
    ids <- Gen.listOfN(n, Gen.choose(0L, 500L)).map(_.toSet).suchThat(_.size >= 2)
    idSeq = ids.toSeq.sorted
    ne <- Gen.choose(0, 12)
    es <- Gen.listOfN(ne, Gen.zip(Gen.oneOf(idSeq), Gen.oneOf(idSeq)))
  } yield (ids, es.filter(e => e._1 != e._2))

  property("labelPropUntilFixed equals union-find components on random graphs") =
    Prop.forAll(graphGen) { case (vs, es) =>
      val spark = TestSpark.spark
      import org.apache.spark.sql.functions._
      // the caller contract: symmetric edges + a self-loop per vertex
      val sym = es.flatMap(e => Seq(e, e.swap)) ++ vs.map(v => (v, v))
      val edges = spark.createDataFrame(sym.distinct).toDF("src", "dst")
      val got = graft.operators.LlmText.labelPropUntilFixed(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(vs, es)
      (got == want) :| s"labelPropUntilFixed=$got unionFind=$want"
    }

  property("multiLabelProp per-tag slices equal union-find over each tagged subgraph") =
    Prop.forAll(graphGen, Gen.listOfN(24, Gen.oneOf(0, 1, 2))) { case ((vs, es), tags) =>
      val spark = TestSpark.spark
      import org.apache.spark.sql.functions._
      // tag each edge like the cross-modal union graph: tag 0 → minhash
      // (m=a=true), 1 → simhash (a only), 2 → embcos (union only);
      // m ⊆ a ⊆ union by construction, like taggedUnionEdges
      val tagged = es.zipWithIndex.map { case ((a, b), i) =>
        val t = tags(i % tags.length)
        (a, b, t == 0, t <= 1)
      }
      // the taggedUnionEdges construction: symmetrize, then per-vertex
      // self-loops carrying max of incident memberships
      val symT = tagged.flatMap { case (a, b, m, aa) => Seq((a, b, m, aa), (b, a, m, aa)) }
      val loops = vs.toSeq.map { v =>
        val inc = symT.filter(_._1 == v)
        (v, v, inc.exists(_._3), inc.exists(_._4))
      }
      val edges = spark.createDataFrame((symT ++ loops).distinct)
        .toDF("src", "dst", "m", "a")
      val iters = vs.size // diameter ≤ |V|−1 < iters rounds guarantees convergence
      val got = graft.operators.LlmText.multiLabelProp(edges, iters)
        .collect().map(r => (r.getLong(0),
          (if (r.isNullAt(1)) None else Some(r.getLong(1)),
           if (r.isNullAt(2)) None else Some(r.getLong(2)),
           r.getLong(3)))).toMap
      def slice(p: ((Long, Long, Boolean, Boolean)) => Boolean) = {
        val se = tagged.filter(p).map(e => (e._1, e._2))
        val sv = se.flatMap(e => Seq(e._1, e._2)).toSet
        unionFind(sv, se)
      }
      val mRef = slice(_._3); val aRef = slice(_._4); val uRef = unionFind(vs, es)
      val want = vs.map(v => v -> (mRef.get(v), aRef.get(v), uRef(v))).toMap
      (got == want) :| s"multiLabelProp=$got want=$want"
    }
}
