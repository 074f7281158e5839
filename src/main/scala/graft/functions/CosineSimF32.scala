package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: fused cosine similarity over two
  * `array<float>` columns (SURVEY.md §2.K's optional perf item — made
  * non-optional by Bench: the HOF zip_with/aggregate form costs ~100 s on
  * the sf0.1 all-pairs query; this codegen loop reads ArrayData floats
  * with no boxing and no intermediate arrays).
  *
  * Numerics contract: accumulates in double, index order, three
  * independent accumulators — bit-identical to the HOF formula
  * `aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),0D,+)` over
  * `sqrt(Σx²)·sqrt(Σy²)` and therefore to the DuckDB oracle recipe
  * (SURVEY.md §7.3.3). VectorSpec asserts the equivalence exactly.
  *
  * Edge cases (deliberately NOT the HOF behavior, which null-propagates):
  * unequal lengths truncate to the shorter array; null elements read as
  * 0.0. Callers needing null-propagation should pre-filter — the fixture
  * embeddings are fixed-width non-null, so oracled queries are unaffected.
  */
case class CosineSimF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: fused Σx² over an `array<float>` column
  * (round-18 opt). Accumulates in double, index order — bit-identical
  * to the HOF formula `aggregate(transform(e, x -> double(x)*double(x)),
  * 0D, (a,v) -> a+v)` (the cosine_f32 nx accumulator run alone;
  * VectorSpec pins the equivalence). Null elements read as 0.0 like
  * cosine_f32; fixture embeddings are non-null fixed-width. */
case class SumSqF32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sumsq_f32 expects array<float>, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      acc += xi * xi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val xi = ctx.freshName("xi")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  $acc += $xi * $xi;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression (round-19 opt): fused squared-L2 over two
  * `array<double>` columns — the codegen replacement for the interpreted
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, +)` fold behind
  * every k-means / PQ / IVF assign loop. Accumulates in double, index
  * order, acc starts at 0.0 — exactly the HOF's left fold and therefore
  * bit-identical to the DuckDB oracle's list_reduce spelling (pinned in
  * TextSigSpec). Edge cases follow the cosine_f32 posture (NOT the
  * null-propagating HOF): unequal lengths truncate to the shorter
  * array, null elements read as 0.0 — all call sites feed fixed-width
  * non-null fit vectors. */
case class L2SqF64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"l2sq_f64 expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val dd = ctx.freshName("dd")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dd = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $dd * $dd;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression (round-18 opt): the embed_project
  * quantized centered projection Σ_k floor((x_k − ms_k)·ws_k·1e9 + 0.5)
  * as one fused loop. Bit-identical to the HOF formula
  * `aggregate(transform(e, (x, k) -> CAST(floor((double(x) - ms[k]) *
  * ws[k] * 1e9 + 0.5) AS BIGINT)), 0L, +)`: same element order, same
  * double arithmetic per term, exact int64 adds (pinned in
  * TextSigSpec). `ms`/`ws` must be foldable array<double> literals
  * (the driver-held PCA fit); an embedding longer than the fit yields
  * null exactly like the HOF's out-of-range ms[k]. */
case class Pc1Quant(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = LongType

  // round-19 fix (ADVICE r18): fold() returns null when the embedding is
  // longer than the fit arrays, so the expression must declare itself
  // nullable even over non-nullable children — otherwise nullSafeCodeGen
  // receives ev.isNull as the literal "false" and the generated
  // "${ev.isNull} = true" assignment would not compile (silent codegen
  // fallback), while interpreted eval yielded null from an expression
  // declared non-nullable.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _))
          if second.foldable && third.foldable => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"pc1q expects (array<float>, foldable array<double> means, foldable array<double> weights), got $t")
    }

  @transient private lazy val ms: Array[Double] =
    second.eval(null).asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val ws: Array[Double] =
    third.eval(null).asInstanceOf[ArrayData].toDoubleArray()

  def fold(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n > ms.length || n > ws.length) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor((x.getFloat(i).toDouble - ms(i)) * ws(i) * 1e9 + 0.5).toLong
      i += 1
    }
    acc
  }

  override def nullSafeEval(a: Any, m: Any, w: Any): Any = fold(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pc1q", this, classOf[Pc1Quant].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, _, _) => s"""
       |Object $r = $self.fold($a);
       |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) $r).longValue(); }
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object GraftFunctions {
  val builder: Seq[Expression] => Expression = exprs => CosineSimF32(exprs(0), exprs(1))

  import org.apache.spark.sql.{Column, GraftBridge}

  /** Column-API entry for the fused 48-bit md5-prefix bucket hash —
    * value-identical to conv(substring(md5(c), 1, 12), 16, 10) (pinned
    * in TextSigSpec); no session registry needed. */
  def md5Prefix48(c: Column): Column =
    GraftBridge.column(Md5Prefix48(GraftBridge.expression(c)))

  /** Column-API entry for the fused 32-bit sign pack — value-identical
    * to the unrolled IF-sum packSignBits(off) (pinned in TextSigSpec). */
  def signPack32(c: Column, off: Int): Column =
    GraftBridge.column(SignPack32(GraftBridge.expression(c),
      org.apache.spark.sql.catalyst.expressions.Literal(off)))

  /** Column-API entry for the fused token count — value-identical to
    * size(split(c, " ")) cast to bigint (pinned in TextSigSpec). */
  def tokCount(c: Column): Column =
    GraftBridge.column(TokCount(GraftBridge.expression(c)))

  /** Column-API entry for the fused blocklist hit count — value-
    * identical to size(filter(split(c, " "), t -> t IN banned))
    * (pinned in TextSigSpec). */
  def tokHits(c: Column, banned: Seq[String]): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arr = Literal(
      new GenericArrayData(banned.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]),
      ArrayType(StringType, containsNull = false))
    GraftBridge.column(TokHits(GraftBridge.expression(c), arr))
  }

  /** Column-API entry for the fused squared-L2 — bit-identical to the
    * aggregate(zip_with(...)) left fold (pinned in TextSigSpec). */
  def l2sqF64(a: Column, b: Column): Column =
    GraftBridge.column(L2SqF64(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column-API entry for the sliding shingle md5 digests — value-
    * identical to the md5(array_join(slice(...))) chain per window
    * (pinned in TextSigSpec). */
  def shingleMd5s(c: Column, k: Int): Column =
    GraftBridge.column(ShingleMd5s(GraftBridge.expression(c),
      org.apache.spark.sql.catalyst.expressions.Literal(k)))

  /** Column-API entry for the one-pass first-occurrence token dedup —
    * struct(n_tokens, n_unique, dedup_text), value-identical to the
    * array_position HOF filter (pinned in TextSigSpec). */
  def dedupTokens(c: Column): Column =
    GraftBridge.column(DedupTokens(GraftBridge.expression(c)))

  /** Column-API entry for the word-3-gram md5_prefix48 array — value-
    * identical to the gram base's gh per offset (pinned in TextSigSpec). */
  def gramHashes48(c: Column): Column =
    GraftBridge.column(GramHashes48(GraftBridge.expression(c)))

  /** Column-API entry for a document's winnowing selections (enc
    * packing) over its gram hashes (pinned in TextSigSpec). */
  def winnowEnc(c: Column): Column =
    GraftBridge.column(WinnowEnc(GraftBridge.expression(c)))

  /** Column-API entry for the 16 portable minhashes of a gram-hash
    * array, NULL when it is empty (pinned in TextSigSpec). */
  def minhash16(c: Column): Column =
    GraftBridge.column(Minhash16(GraftBridge.expression(c)))

  /** Column-API entry for the ASCII normalize kernel: `mode` is
    * "alnum" or "dedup"; NULL for non-ASCII rows (pinned in
    * TextSigSpec). */
  def asciiNorm(c: Column, mode: String): Column =
    GraftBridge.column(AsciiNorm(GraftBridge.expression(c),
      org.apache.spark.sql.catalyst.expressions.Literal(mode)))

  /** Session-level registration so queries can say `expr("cosine_f32(a,b)")`
    * (plus the round-18 fused text-signal kernels). */
  def ensureRegistered(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_f32", builder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "phash_sig16", exprs => PhashSig16(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "frame_sigs32", exprs => FrameSigs32(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ssq128", exprs => Ssq128(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sumsq_f32", exprs => SumSqF32(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_merge_all", exprs => BpeMergeAll(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hll_distinct", hllBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pc1q", exprs => Pc1Quant(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_prefix48", exprs => Md5Prefix48(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_pack32", exprs => SignPack32(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tok_count", exprs => TokCount(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tok_hits", exprs => TokHits(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dedup_tokens", exprs => DedupTokens(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2sq_f64", exprs => L2SqF64(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_md5s", exprs => ShingleMd5s(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_hashes48", exprs => GramHashes48(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_enc", exprs => WinnowEnc(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash16", exprs => Minhash16(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ascii_norm", exprs => AsciiNorm(exprs(0), exprs(1)), "built-in")
  }

  /** `hll_distinct(x, rsd)`: the compact-buffer HLL++ (identical
    * estimate to approx_count_distinct — same helper, same hash). */
  val hllBuilder: Seq[Expression] => Expression = exprs => {
    val rsd = exprs(1).eval(null) match {
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(
        s"hll_distinct: rsd must be a numeric literal, got $other")
    }
    HllSketchAgg(exprs(0), rsd)
  }
}

/** SparkSessionExtensions hook for users who load the library via
  * `spark.sql.extensions=graft.functions.GraftExtensions` — every graft
  * custom function arrives with the session, no per-query registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_f32"),
      new ExpressionInfo(classOf[CosineSimF32].getName, "cosine_f32"),
      GraftFunctions.builder))
    e.injectFunction((
      FunctionIdentifier("sumsq_f32"),
      new ExpressionInfo(classOf[SumSqF32].getName, "sumsq_f32"),
      (exprs: Seq[Expression]) => SumSqF32(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("phash_sig16"),
      new ExpressionInfo(classOf[PhashSig16].getName, "phash_sig16"),
      (exprs: Seq[Expression]) => PhashSig16(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("frame_sigs32"),
      new ExpressionInfo(classOf[FrameSigs32].getName, "frame_sigs32"),
      (exprs: Seq[Expression]) => FrameSigs32(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("ssq128"),
      new ExpressionInfo(classOf[Ssq128].getName, "ssq128"),
      (exprs: Seq[Expression]) => Ssq128(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("bpe_merge_all"),
      new ExpressionInfo(classOf[BpeMergeAll].getName, "bpe_merge_all"),
      (exprs: Seq[Expression]) => BpeMergeAll(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("hll_distinct"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "hll_distinct"),
      GraftFunctions.hllBuilder))
    e.injectFunction((
      FunctionIdentifier("pc1q"),
      new ExpressionInfo(classOf[Pc1Quant].getName, "pc1q"),
      (exprs: Seq[Expression]) => Pc1Quant(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      FunctionIdentifier("md5_prefix48"),
      new ExpressionInfo(classOf[Md5Prefix48].getName, "md5_prefix48"),
      (exprs: Seq[Expression]) => Md5Prefix48(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("sign_pack32"),
      new ExpressionInfo(classOf[SignPack32].getName, "sign_pack32"),
      (exprs: Seq[Expression]) => SignPack32(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("tok_count"),
      new ExpressionInfo(classOf[TokCount].getName, "tok_count"),
      (exprs: Seq[Expression]) => TokCount(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("tok_hits"),
      new ExpressionInfo(classOf[TokHits].getName, "tok_hits"),
      (exprs: Seq[Expression]) => TokHits(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("dedup_tokens"),
      new ExpressionInfo(classOf[DedupTokens].getName, "dedup_tokens"),
      (exprs: Seq[Expression]) => DedupTokens(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("l2sq_f64"),
      new ExpressionInfo(classOf[L2SqF64].getName, "l2sq_f64"),
      (exprs: Seq[Expression]) => L2SqF64(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("shingle_md5s"),
      new ExpressionInfo(classOf[ShingleMd5s].getName, "shingle_md5s"),
      (exprs: Seq[Expression]) => ShingleMd5s(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("gram_hashes48"),
      new ExpressionInfo(classOf[GramHashes48].getName, "gram_hashes48"),
      (exprs: Seq[Expression]) => GramHashes48(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("winnow_enc"),
      new ExpressionInfo(classOf[WinnowEnc].getName, "winnow_enc"),
      (exprs: Seq[Expression]) => WinnowEnc(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("minhash16"),
      new ExpressionInfo(classOf[Minhash16].getName, "minhash16"),
      (exprs: Seq[Expression]) => Minhash16(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("ascii_norm"),
      new ExpressionInfo(classOf[AsciiNorm].getName, "ascii_norm"),
      (exprs: Seq[Expression]) => AsciiNorm(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("histogram10"),
      new ExpressionInfo(classOf[HistogramAgg].getName, "histogram10"),
      HistogramAgg.builder))
    e.injectFunction((
      FunctionIdentifier("countmin"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "countmin"),
      CountMinAgg.builder))
    e.injectFunction((
      FunctionIdentifier("topk5"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk5"),
      TopKAgg.builder))
    // whole-operator extension: plans graft.plans.RangeJoinPlan into the
    // per-key sliding-window sweep (RangeJoinExec)
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
  }
}
