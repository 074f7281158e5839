package perfbench

import graft.api.GraftOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `curation-corpus`: a GraftOps curation pipeline over a seed-generated
  * corpus, run cold with every stage's output written to parquet and
  * read back by the next stage:
  * normalizeText+qualityScore -> dedupExact -> minhashNearDupPairs ->
  * connectedComponents -> hashBucket split -> winnowFingerprints.
  * One pass of the pipeline is the unit of work; each stage is one timed
  * call. Passes run in a fresh JVM with no warm-up, as a batch curation
  * job does, so stage times include their code generation. */
object CurationCorpus {
  val Docs = 40000
  val Stop: Seq[String] = Gen.vocab.take(12).toSeq

  val Stages: Seq[String] = Seq("normalizeText_qualityScore", "dedupExact",
    "minhashNearDupPairs", "connectedComponents", "hashBucket", "winnowFingerprints")
  val ApiNames: Seq[String] = Stages :+ "minhashBandSignatures"

  def generate(spark: SparkSession, seed: Long, docs: Int, parts: Int, out: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.range(0L, docs.toLong, 1L, parts)
        .map(i => Row(i, Gen.docText(seed, i))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .write.mode("overwrite").parquet(out)

  /** Planted truth for ids below `docs`: (exact dup -> source), (near dup -> source). */
  def truth(seed: Long, docs: Int): (Map[Long, Long], Map[Long, Long]) = {
    val kinds = (0L until docs.toLong).map(i => i -> Gen.kindOf(seed, i))
    (kinds.collect { case (i, (Gen.ExactDup, s)) => i -> s }.toMap,
     kinds.collect { case (i, (Gen.NearDup, s)) => i -> s }.toMap)
  }

  final case class Pass(ops: Seq[OpRecord], exactRecall: Double, nearRecall: Double,
                        pairs: Long)

  /** One cold pass over `corpus`, writing under `out`. */
  def pass(ctx: Ctx, corpus: String, out: String, docs: Int,
           exact: Map[Long, Long], near: Map[Long, Long]): Pass = {
    val spark = ctx.spark
    def rd(name: String) = spark.read.parquet(s"$out/$name")
    def wr(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(s"$out/$name")
    val ops = scala.collection.mutable.ArrayBuffer[OpRecord]()
    def stage(name: String)(body: => Unit)(check: => Option[String]): Boolean = {
      ops += ctx.op(name, "curation")(body)(check)
      ops.last.ok
    }
    var exactRecall = 0.0
    var nearRecall = 0.0
    var nPairs = 0L
    var survivors: Array[Long] = Array.empty

    val ok1 = stage("normalizeText_qualityScore") {
      val norm = GraftOps.normalizeText(col("text"))
      wr(spark.read.parquet(corpus).select(col("doc_id"), norm.as("norm"))
        .withColumn("q", GraftOps.qualityScore(col("norm"), Stop)), "clean")
    } {
      val n = rd("clean").count()
      if (n != docs) Some(s"clean has $n rows, want $docs") else None
    }
    val ok2 = ok1 && stage("dedupExact") {
      wr(GraftOps.dedupExact(rd("clean"), col("doc_id"), col("norm")), "survivors")
    } {
      survivors = rd("survivors").select("id").collect().map(_.getLong(0)).sorted
      val alive = survivors.toSet
      val found = exact.count { case (dup, src) => !alive(dup) && alive(src) }
      exactRecall = found.toDouble / math.max(1, exact.size)
      val want = docs - exact.size
      if (found != exact.size) Some(s"found ${found} of ${exact.size} planted exact duplicates")
      else if (survivors.length != want) Some(s"${survivors.length} survivors, want $want")
      else None
    }
    def survivorText = rd("survivors").select(col("id").as("doc_id"))
      .join(rd("clean"), Seq("doc_id"))
    val ok3 = ok2 && stage("minhashNearDupPairs") {
      wr(GraftOps.minhashNearDupPairs(survivorText, col("doc_id"), col("norm")), "pairs")
    } {
      val got = rd("pairs").select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      nPairs = got.size
      nearRecall = near.count { case (dup, src) => got((src, dup)) }.toDouble / math.max(1, near.size)
      val bad = rd("pairs").filter(col("ida") >= col("idb") || col("jaccard") < 0.8).count()
      if (bad > 0) Some(s"$bad pairs out of order or below the threshold") else None
    }
    val ok4 = ok3 && stage("connectedComponents") {
      wr(GraftOps.connectedComponents(rd("pairs"), "ida", "idb"), "labels")
    } {
      val verts = rd("pairs").select(col("ida").as("v")).union(rd("pairs").select(col("idb")))
        .distinct().count()
      val labs = rd("labels")
      val n = labs.count()
      val bad = labs.filter(col("lab") > col("v")).count()
      if (n != verts) Some(s"$n labels for $verts vertices")
      else if (bad > 0) Some(s"$bad labels above their vertex") else None
    }
    val ok5 = ok4 && stage("hashBucket") {
      wr(rd("survivors").join(rd("labels").withColumnRenamed("v", "id"), Seq("id"), "left")
        .withColumn("is_val", GraftOps.hashBucket(coalesce(col("lab"), col("id")), 100) < 10),
        "split")
    } {
      val split = rd("split")
      val n = split.count()
      val leaks = rd("pairs")
        .join(split.select(col("id").as("ida"), col("is_val").as("va")), "ida")
        .join(split.select(col("id").as("idb"), col("is_val").as("vb")), "idb")
        .filter(col("va") =!= col("vb")).count()
      if (n != survivors.length) Some(s"split has $n rows, want ${survivors.length}")
      else if (leaks > 0) Some(s"$leaks near-duplicate pairs straddle the split") else None
    }
    ok5 && stage("winnowFingerprints") {
      wr(GraftOps.winnowFingerprints(survivorText, col("doc_id"), col("norm")), "fps")
    } {
      val covered = rd("fps").select("doc_id").distinct().count()
      if (covered < survivors.length * 9L / 10)
        Some(s"fingerprints cover $covered of ${survivors.length} survivors") else None
    }
    Pass(ops.toSeq, exactRecall, nearRecall, nPairs)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val base = new java.io.File(ctx.work, "curation-corpus")

    val corpus = new java.io.File(base, "corpus").getPath
    generate(spark, ctx.seed, Docs, ctx.cores * 4, corpus)
    val (exact, near) = truth(ctx.seed, Docs)

    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val out = new java.io.File(base, s"pass-${passes.length}")
      passes += pass(ctx, corpus, out.getPath, Docs, exact, near)
      Files.rm(out)
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val ops = passes.flatMap(_.ops).toSeq
    // throughput counts the stages' own time, not the output checks between them
    val wallS = ops.map(_.ms).sum / 1e3
    val complete = passes.count(p => p.ops.length == Stages.length)

    val layers = if (!ctx.trace) Nil else {
      // banded candidates behind the verified pairs
      val survivorsDf = spark.read.parquet(corpus)
        .select(col("doc_id"), GraftOps.normalizeText(col("text")).as("norm"))
      val surv = GraftOps.dedupExact(survivorsDf, col("doc_id"), col("norm")).select(col("id").as("doc_id"))
        .join(survivorsDf, Seq("doc_id"))
      val (cand, ms, span) = ctx.spanned("minhashBandSignatures") {
        val b = GraftOps.minhashBandSignatures(surv, col("doc_id"), col("norm"))
        b.as("x").join(b.as("y"), col("x.band") === col("y.band") && col("x.s0") === col("y.s0") &&
            col("x.s1") === col("y.s1") && col("x.id") < col("y.id"))
          .select(col("x.id"), col("y.id")).distinct().count()
      }
      val pairs = passes.last.pairs.toDouble
      val bandOp = OpRecord("minhashBandSignatures", "curation", ms, cand.isRight, "", span.toSeq)
      Api.metrics(ops :+ bandOp) ++ Seq(
        Metric("api.minhashNearDupPairs.verified_per_candidate",
          pairs / math.max(1L, cand.getOrElse(0L)), "ratio"),
        Metric("api.dedupExact.planted_recall", passes.last.exactRecall, "ratio"),
        Metric("api.minhashNearDupPairs.planted_recall", passes.last.nearRecall, "ratio"))
    }
    Outcome(startMs, ops, complete.toLong * Docs, wallS, layers,
      Map("docs" -> Docs.toString, "passes" -> passes.length.toString,
        "loop_wall_s" -> Json.num(loopS),
        "planted_exact" -> exact.size.toString, "planted_near" -> near.size.toString,
        "near_pairs" -> passes.last.pairs.toString,
        "near_recall" -> Json.num(passes.last.nearRecall)))
  }
}

/** `api.*`: per-call time and jobs of the GraftOps functions a workload
  * calls, averaged over its calls. */
object Api {
  val Names: Seq[String] = CurationCorpus.ApiNames

  def metrics(ops: Seq[OpRecord]): Seq[Metric] = ops.groupBy(_.name).toSeq.flatMap {
    case (name, calls) =>
      val n = calls.length.toDouble
      Seq(Metric(s"api.$name.ms", calls.map(_.ms).sum / n, "ms/op"),
          Metric(s"api.$name.jobs", calls.map(_.jobs).sum / n, "count/op"))
  }
}
