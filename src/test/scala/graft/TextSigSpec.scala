package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 fused text-signal kernels (phash_sig16 / frame_sigs32 /
  * ssq128 / sumsq_f32): each must be BIT-IDENTICAL to the explode/HOF
  * pipeline formulation it replaced — the declared multimodal rungs'
  * oracles were written against that formulation and are unchanged. */
class TextSigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Fixture docs PLUS adversarial shapes: exact block boundaries,
    * repeated chars (ties in the bsum·n vs ts·blen rule), a non-ASCII
    * char (code-point semantics = split('')+ascii), ragged frame
    * tails, and an empty string. */
  private def docs = {
    import spark.implicits._
    val edge = Seq(
      (100001L, "a" * 16),                       // min phash length, all ties
      (100002L, "a" * 15),                       // below the phash gate
      (100003L, "ab" * 40),                      // alternating, 80 chars
      (100004L, "x" * 63),                       // below the frame gate
      (100005L, "x" * 64),                       // exactly one frame
      (100006L, "x" * 65),                       // one frame + ragged tail
      (100007L, ("z" * 30 + "é" + "q" * 40) * 3), // multibyte UTF-8 char
      (100008L, (0 until 200).map(i => ('a' + i % 26).toChar).mkString),
      (100009L, ""),                             // empty
    ).toDF("doc_id", "text")
    Tables.documents(spark, TestSpark.sf).select($"doc_id", $"text")
      .unionByName(edge)
  }

  test("phash_sig16 is bit-identical to the posexplode block pipeline") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = docs
    val blocks = d
      .filter(length(col("text")) >= 16L)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        posexplode(split(col("text"), "")))
      .select(col("doc_id"), col("n"),
        expr("CAST(pos AS BIGINT) * 16 div n").as("block"),
        ascii(col("col")).cast("long").as("v"))
      .groupBy(col("doc_id"), col("n"), col("block"))
      .agg(sum(col("v")).as("bsum"), count(lit(1)).as("blen"))
    val legacy = blocks
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("bsum")).as("ts"),
           collect_list(struct(col("block"), col("bsum"), col("blen"))).as("bl"))
      .select(col("doc_id"), expr(
        """aggregate(bl, CAST(0 AS BIGINT), (acc, s) ->
             acc + IF(s.bsum * n > ts * s.blen,
                      shiftleft(CAST(1 AS BIGINT), CAST(s.block AS INT)),
                      CAST(0 AS BIGINT)))""").as("sig_legacy"))
    val fused = d.filter(length(col("text")) >= 16L)
      .select(col("doc_id"), expr("phash_sig16(text)").as("sig"))
    val j = fused.join(legacy, Seq("doc_id"), "full_outer")
    assert(j.filter(col("sig").isNull || col("sig_legacy").isNull ||
      col("sig") =!= col("sig_legacy")).count() == 0)
  }

  test("frame_sigs32 is bit-identical to the posexplode frame pipeline") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = docs
    val blocks = d
      .filter(length(col("text")) >= 64L)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        posexplode(split(col("text"), "")))
      .filter(col("pos") < expr("(n div 64) * 64"))
      .select(col("doc_id"),
        expr("CAST(pos AS BIGINT) div 64").as("frame_no"),
        expr("(CAST(pos AS BIGINT) % 64) div 2").as("blk"),
        ascii(col("col")).cast("long").as("v"))
      .groupBy(col("doc_id"), col("frame_no"), col("blk"))
      .agg(sum(col("v")).as("bsum"))
    val legacy = blocks
      .groupBy(col("doc_id"), col("frame_no"))
      .agg(sum(col("bsum")).as("ts"),
           collect_list(struct(col("blk"), col("bsum"))).as("bl"))
      .select(col("doc_id"), col("frame_no"), expr(
        """aggregate(bl, CAST(0 AS BIGINT), (acc, s) ->
             acc + IF(s.bsum * 32 > ts,
                      shiftleft(CAST(1 AS BIGINT), CAST(s.blk AS INT)),
                      CAST(0 AS BIGINT)))""").as("sig_legacy"))
    val fused = d.filter(length(col("text")) >= 64L)
      .select(col("doc_id"), posexplode(expr("frame_sigs32(text)")))
      .select(col("doc_id"), col("pos").cast("long").as("frame_no"),
        col("col").as("sig"))
    val j = fused.join(legacy, Seq("doc_id", "frame_no"), "full_outer")
    assert(j.filter(col("sig").isNull || col("sig_legacy").isNull ||
      col("sig") =!= col("sig_legacy")).count() == 0)
  }

  test("ssq128 is bit-identical to the split+ascii HOF energy fold") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val chunks = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (length(text) - 1) div 64, 1), f -> substring(text, f * 64 + 1, 64))"))
        .as(Seq("frame", "chunk")))
    val both = chunks.select(
      expr("ssq128(chunk)").as("native"),
      expr("""aggregate(transform(split(chunk, ''),
                c -> CAST(ascii(c) AS BIGINT)),
                CAST(0 AS BIGINT), (acc, b) -> acc + (b - 128) * (b - 128))""")
        .as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("bpe_merge_all equals the chained bpeMergeExpr passes, merge order respected") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    // nasty shapes: overlapping runs (x = y), dense x≠y matches, a pair
    // whose LEFT side is a previously-merged token (order sensitivity),
    // 0/1-token rows (the size<2 guard)
    val rows = Seq(
      "p q p q q p p q",
      "p p p p",
      "q p q p q",
      "p q r p q r r",
      "p", "",
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val base = rows.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val pairs = Seq(("p", "q"), ("p", "p"), ("p▁q", "r"))
    val chained = pairs.foldLeft(base) { case (df, (x, y)) =>
      df.withColumn("tk", graft.operators.LlmText.bpeMergeExpr(x, y))
    }
    val fused = base.withColumn("tk",
      call_function("bpe_merge_all", col("tk"),
        array(pairs.map { case (x, y) => array(lit(x), lit(y)) }: _*)))
    val a = chained.orderBy("doc_id").collect().map(_.getSeq[String](1).toList)
    val b = fused.orderBy("doc_id").collect().map(_.getSeq[String](1).toList)
    assert(a.toSeq == b.toSeq, s"chained=${a.toSeq} fused=${b.toSeq}")
  }

  test("pc1q is bit-identical to the transform+aggregate projection fold") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val ms = (0 until 64).map(i => 0.01 * i - 0.3)
    val ws = (0 until 64).map(i => math.sin(i + 1.0))
    val both = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("ms", array(ms.map(lit(_)): _*))
      .withColumn("ws", array(ws.map(lit(_)): _*))
      .select(
        call_function("pc1q", col("e").cast("array<float>"),
          array(ms.map(lit(_)): _*), array(ws.map(lit(_)): _*)).as("native"),
        expr("""aggregate(
                  transform(e, (x, k) ->
                    CAST(floor((x - ms[k]) * ws[k] * 1000000000.0 + 0.5) AS BIGINT)),
                  CAST(0 AS BIGINT), (a, b) -> a + b)""").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("hll_distinct is bit-identical to approx_count_distinct (same helper, same hash)") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.events(spark, TestSpark.sf)
    val both = e.groupBy(col("event_type")).agg(
      approx_count_distinct(col("user_id"), 0.01).as("builtin"),
      expr("hll_distinct(user_id, 0.01D)").as("compact"))
    assert(both.filter(col("builtin") =!= col("compact")).count() == 0)
    val g = e.agg(approx_count_distinct(col("user_id"), 0.05).as("b"),
      expr("hll_distinct(user_id, 0.05D)").as("c")).head()
    assert(g.getLong(0) == g.getLong(1))
    // string inputs hash differently than longs — pin those too
    val s2 = e.agg(approx_count_distinct(col("event_type"), 0.02).as("b"),
      expr("hll_distinct(event_type, 0.02D)").as("c")).head()
    assert(s2.getLong(0) == s2.getLong(1))
  }

  test("md5_prefix48 is bit-identical to the conv(substring(md5)) chain") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val toks = Tables.documents(spark, TestSpark.sf)
      .select(explode(split(col("text"), " ")).as("s"))
      .unionByName(Seq("", "é", "a▁b", "0", "x" * 500).toDF("s"))
    val both = toks.select(
      expr("md5_prefix48(s)").as("native"),
      conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("chain"))
    assert(both.filter(col("native") =!= col("chain")).count() == 0)
  }

  test("sign_pack32 is bit-identical to the unrolled IF-sum pack") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def unrolled(off: Int): String =
      (0 until 32).map(i => s"IF(embedding[${i + off}] >= 0, ${1L << i}L, 0L)")
        .mkString("(", " + ", ")")
    val both = Tables.embeddings(spark, TestSpark.sf).select(
      expr("sign_pack32(embedding, 0)").as("lo"),
      expr(unrolled(0)).as("lo_ref"),
      expr("sign_pack32(embedding, 32)").as("hi"),
      expr(unrolled(32)).as("hi_ref"))
    assert(both.filter(col("lo") =!= col("lo_ref") || col("hi") =!= col("hi_ref"))
      .count() == 0)
  }

  /** Round-19 fused token kernels: whitespace-adversarial corpus —
    * leading/trailing/adjacent spaces (empty tokens under split's
    * limit=-1 semantics), all-space rows, banned words in every
    * position, repeats, multibyte neighbors, and the empty string. */
  private def tokDocs = {
    import spark.implicits._
    val edge = Seq(
      (200001L, ""),
      (200002L, " "),
      (200003L, "  "),
      (200004L, "dup"),
      (200005L, " dup"),
      (200006L, "dup "),
      (200007L, "dup  slow"),
      (200008L, "a dup b dup slow a a"),
      (200009L, "dups slowx xdup"),
      (200010L, "é dup é ü"),
      (200011L, "a b c d e f g a b c"),
      (200012L, "x" * 300 + " dup " + "x" * 300),
    ).toDF("doc_id", "text")
    Tables.documents(spark, TestSpark.sf).select($"doc_id", $"text")
      .unionByName(edge)
  }

  test("tok_count is bit-identical to size(split(text, ' '))") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val both = tokDocs.select(
      expr("tok_count(text)").as("native"),
      size(split(col("text"), " ")).cast("long").as("legacy"))
    assert(both.filter(col("native") =!= col("legacy")).count() == 0)
  }

  test("tok_hits is bit-identical to size(filter(split, isin))") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val banned = Seq("dup", "slow")
    val both = tokDocs.select(
      graft.functions.GraftFunctions.tokHits(col("text"), banned).as("native"),
      size(filter(split(col("text"), " "), t => t.isin(banned: _*)))
        .cast("long").as("legacy"),
      expr("tok_hits(text, array('dup', 'slow'))").as("registered"))
    assert(both.filter(col("native") =!= col("legacy") ||
      col("registered") =!= col("legacy")).count() == 0)
  }

  test("dedup_tokens is bit-identical to the array_position HOF filter") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val legacy = tokDocs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("uniq",
        expr("filter(toks, (t, i) -> array_position(toks, t) = i + 1)"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens_l"),
        size(col("uniq")).cast("long").as("n_unique_l"),
        array_join(col("uniq"), " ").as("dedup_text_l"))
    val fused = tokDocs.select(col("doc_id"),
      expr("dedup_tokens(text)").as("p"))
      .select(col("doc_id"), col("p.n_tokens").as("n_tokens"),
        col("p.n_unique").as("n_unique"), col("p.dedup_text").as("dedup_text"))
    val j = fused.join(legacy, Seq("doc_id"), "full_outer")
    assert(j.filter(
      col("n_tokens") =!= col("n_tokens_l") ||
      col("n_unique") =!= col("n_unique_l") ||
      col("dedup_text") =!= col("dedup_text_l")).count() == 0)
  }

  test("shingle_md5s is bit-identical to the md5(array_join(slice)) chain") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    for (k <- Seq(1, 3, 8, 10)) {
      val legacy = tokDocs
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= k)
        .select(col("doc_id"), col("tk"),
          explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(size(tk) - $k AS BIGINT))"))
            .as("i"))
        .select(col("doc_id"), col("i"),
          expr(s"md5(array_join(slice(tk, CAST(i + 1 AS INT), $k), ' '))")
            .as("dig_l"))
      val fused = tokDocs
        .select(col("doc_id"),
          posexplode(expr(s"shingle_md5s(text, $k)")))
        .select(col("doc_id"), col("pos").cast("long").as("i"),
          col("col").as("dig"))
      val j = fused.join(legacy, Seq("doc_id", "i"), "full_outer")
      assert(j.filter(col("dig").isNull || col("dig_l").isNull ||
        col("dig") =!= col("dig_l")).count() == 0, s"k=$k")
    }
  }

  test("l2sq_f64 is bit-identical to the zip_with/aggregate left fold") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val a = e.filter(col("vec_id") < 25L).select(col("v").as("va"))
    val both = e.crossJoin(a).select(
      expr("l2sq_f64(v, va)").as("native"),
      expr("""aggregate(zip_with(v, va, (x, y) -> (x - y) * (x - y)),
               0D, (acc, t) -> acc + t)""").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("sumsq_f32 is bit-identical to the HOF fold and joins codegen") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, TestSpark.sf)
    val both = e.select(
      expr("sumsq_f32(embedding)").as("native"),
      expr("""aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x),
               0D, (a, v) -> a + v)""").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    val df = e.select(expr("sumsq_f32(embedding)").as("q"))
      .filter(col("q") > 0.0)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  /** Per-document gram / normalize kernels (gram_hashes48, winnow_enc,
    * minhash16, ascii_norm): fixture docs plus NULL, empty and
    * whitespace-only text; leading, trailing and double spaces, tabs
    * and newlines; exactly 2-5 tokens; repeated grams; uppercase ASCII
    * and punctuation-only text; and multi-byte text whose ICU
    * lowercase differs from a naive mapping (dotted capital I, Kelvin
    * sign, capital sharp s, final sigma). */
  private def gramDocs = {
    import spark.implicits._
    val edge = Seq[(Long, Option[String])](
      (300001L, None),
      (300002L, Some("")),
      (300003L, Some(" ")),
      (300004L, Some("   ")),
      (300005L, Some(" lead space here now")),
      (300006L, Some("trail space here now ")),
      (300007L, Some("double  space  here  now  ok")),
      (300008L, Some("tab\there and\tthere too")),
      (300009L, Some("new\nline and more\nlines here")),
      (300010L, Some("two tokens")),
      (300011L, Some("three tok ens")),
      (300012L, Some("four tok ens here")),
      (300013L, Some("five tok ens here now")),
      (300014L, Some("x y z x y z x y z x y z x y")),
      (300015L, Some("a a a a a a a a a")),
      (300016L, Some("HELLO World FOO bar BAZ Qux")),
      (300017L, Some("!!! ... ,,, ??? ;;; :: -- !!")),
      (300018L, Some("\u0130stanbul IS big and \u0130I")),
      (300019L, Some("\u212A kelvin KELVIN k\u212A end")),
      (300020L, Some("\u1E9E stra\u00DFe GROSS \u1E9E\u1E9E end")),
      (300021L, Some("\u039F\u0394\u039F\u03A3 \u03A3\u039F\u03A6\u039F\u03A3 END")),
      (300022L, Some("Caf\u00E9 OK ok  Fine. \tTabbed")),
      (300023L, Some("  MiXeD  Case,  punct!  and   runs  ")),
    ).toDF("doc_id", "text")
    Tables.documents(spark, TestSpark.sf).select($"doc_id", $"text")
      .unionByName(edge)
  }

  /** The parent gram formulation: split, offsets explode, md5 prefix
    * of concat_ws over the three tokens. */
  private def legacyGrams(d: org.apache.spark.sql.DataFrame) =
    d.filter(size(split(col("text"), " ")) >= 3)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("t"), explode(expr("sequence(0, size(t) - 3)")).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("pos"),
        expr("conv(substring(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 12), 16, 10)")
          .cast("long").as("gh"))

  test("gram_hashes48 is bit-identical to the split/concat_ws/md5-prefix gram rows") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = gramDocs
    val fused = d.select(col("doc_id"), posexplode(expr("gram_hashes48(text)")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh_k"))
    val j = fused.join(legacyGrams(d), Seq("doc_id", "pos"), "full_outer")
    assert(j.filter(col("gh").isNull || col("gh_k").isNull ||
      col("gh") =!= col("gh_k")).count() == 0)
    assert(j.count() > 1000)
    val sizes = d.select(col("doc_id"), expr("gram_hashes48(text)").as("g"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getSeq[Long](1).length)).toMap
    assert(sizes(300001L) == -1, "NULL text has no array")
    assert(Seq(300002L, 300003L, 300010L).forall(sizes(_) == 0), sizes)
    assert(sizes(300004L) == 2 && sizes(300011L) == 1 && sizes(300013L) == 3, sizes)
  }

  test("winnow_enc is bit-identical to the doc-partitioned sliding-min Window") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.expressions.Window
    val d = gramDocs
    val P = 2147483648L
    // the Window construction winnow_enc replaced
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val legacy = legacyGrams(d)
      .select(col("doc_id"), col("pos"), expr("gh DIV 65536").as("h"))
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("enc", min(col("h") * P + (lit(P - 1L) - col("pos")))
        .over(byDoc.rowsBetween(0, 3)))
      .filter(col("pos") <= col("n_grams") - 4)
      .select(col("doc_id"), col("enc"), lit(1).as("l")).distinct()
    val encs = d.select(col("doc_id"), expr("winnow_enc(gram_hashes48(text))").as("e"))
    val fused = encs.select(col("doc_id"), explode(col("e")).as("enc"), lit(1).as("k"))
    val j = fused.join(legacy, Seq("doc_id", "enc"), "full_outer")
    assert(j.filter(col("l").isNull || col("k").isNull).count() == 0)
    assert(legacy.count() > 1000)
    // one entry per distinct selection, never a repeat
    assert(encs.filter(size(col("e")) =!= size(array_distinct(col("e")))).count() == 0)
    val err = intercept[Exception] {
      spark.sql("SELECT winnow_enc(array(1L, 2L, -3L, 4L))").collect()
    }
    assert(err.toString.contains("48-bit"), err.toString)
  }

  test("minhash16 is bit-identical to the 16-min aggregate; an empty set is NULL") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = gramDocs
    val P = 2147483647L
    val mins = (0 until 16).map { i =>
      min((col("gh") % P * (2L * i + 3L) + (7919L * i + 13L)) % P).as(s"mh$i")
    }
    val legacy = legacyGrams(d).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"mh$i")): _*).as("mh_l"))
    val fused = d.select(col("doc_id"),
      expr("minhash16(gram_hashes48(text))").as("mh"),
      expr("minhash16(sort_array(array_distinct(gram_hashes48(text))))").as("mh_set"))
    val j = fused.join(legacy, Seq("doc_id"), "left")
    assert(j.filter(col("mh_l").isNull =!= col("mh").isNull).count() == 0,
      "NULL exactly for the docs with no gram")
    assert(j.filter(col("mh") =!= col("mh_l") || col("mh_set") =!= col("mh_l")).count() == 0)
    assert(j.filter(col("mh").isNotNull).count() > 100)
    val r = spark.sql("SELECT minhash16(CAST(array() AS ARRAY<BIGINT>)), " +
      "minhash16(CAST(NULL AS ARRAY<BIGINT>))").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("ascii_norm equals the lower/regex chains; non-ASCII rows take the chain") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = gramDocs
    val chains = Seq(
      "alnum" -> regexp_replace(trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")), " +", " "),
      "dedup" -> regexp_replace(trim(lower(col("text"))), " +", " "))
    val entry = Map(
      "alnum" -> api.GraftOps.normalizeText(col("text")),
      "dedup" -> api.GraftOps.dedupNormalize(col("text")))
    for ((mode, chain) <- chains) {
      val both = d.select(col("doc_id"), col("text"), chain.as("want"),
        expr(s"ascii_norm(text, '$mode')").as("k"), entry(mode).as("got"))
      assert(both.filter(!col("got").eqNullSafe(col("want"))).count() == 0, mode)
      assert(both.filter(col("k").isNotNull && col("k") =!= col("want")).count() == 0, mode)
      // NULL exactly on NULL text and on rows with a byte >= 0x80
      val nonAscii = col("text").rlike("[^\\x00-\\x7F]")
      assert(both.filter(col("k").isNull =!= (col("text").isNull || nonAscii)).count() == 0, mode)
      assert(both.filter(nonAscii).count() == 5, mode)
    }
    val err = intercept[Exception] { spark.sql("SELECT ascii_norm('a', 'upper')").collect() }
    assert(err.toString.contains("ascii_norm"), err.toString)
  }
}
