package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** `functions.*`: each registered codegen kernel called through SQL over
  * seed-generated inputs held in memory, evaluated to the noop sink;
  * reported as rows per second (median of three evaluations). */
object Kernels {
  val TextRows = 60000
  val VectorRows = 60000

  /** kernel name -> (input, SQL expression). */
  val Calls: Seq[(String, String, String)] = Seq(
    ("md5_prefix48", "text", "md5_prefix48(text)"),
    ("shingle_md5s", "text", "shingle_md5s(text, 3)"),
    ("tok_count", "text", "tok_count(text)"),
    ("tok_hits", "text", "tok_hits(text, array('ba', 'ca', 'da'))"),
    ("dedup_tokens", "text", "dedup_tokens(text)"),
    ("cosine_f32", "vec", "cosine_f32(a, b)"),
    ("sumsq_f32", "vec", "sumsq_f32(a)"),
    ("l2sq_f64", "vec", "l2sq_f64(cast(a as array<double>), cast(b as array<double>))"),
    ("sign_pack32", "vec", "sign_pack32(a, 0)"),
    ("hll_distinct", "text", "hll_distinct(md5_prefix48(text), 0.05)"))

  def run(ctx: Ctx): Seq[Metric] = {
    val spark = ctx.spark
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val seed = ctx.seed
    val sc = spark.sparkContext
    val text = spark.createDataFrame(
      sc.range(0L, TextRows.toLong, 1L, ctx.cores).map(i => Row(i, Gen.docText(seed, i))),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .persist(StorageLevel.MEMORY_ONLY)
    val vec = spark.createDataFrame(
      sc.range(0L, VectorRows.toLong, 1L, ctx.cores).map(i =>
        Row(i, Gen.vector(seed, i).toSeq, Gen.vector(seed, i + VectorRows).toSeq)),
      StructType(Seq(StructField("id", LongType),
        StructField("a", ArrayType(FloatType, containsNull = false)),
        StructField("b", ArrayType(FloatType, containsNull = false)))))
      .persist(StorageLevel.MEMORY_ONLY)
    text.count(); vec.count()
    val inputs = Map("text" -> (text, TextRows), "vec" -> (vec, VectorRows))
    val out = Calls.map { case (name, in, sql) =>
      val (df, rows) = inputs(in)
      val q = df.selectExpr(s"$sql as k")
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      Metric(s"functions.$name.rows_per_s", rows / Stats.median(times), "1/s")
    }
    text.unpersist(); vec.unpersist()
    out
  }
}
