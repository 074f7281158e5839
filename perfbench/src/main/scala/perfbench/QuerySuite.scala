package perfbench

/** `query-suite`: the declared `SparkEntry.queries`, each evaluated to
  * the `noop` sink as `graft.Bench` does, in an order shuffled by the
  * seed, on a fresh private copy of the vendored sf0.01 fixture whose
  * scratch artifacts are all cold. */
object QuerySuite {
  /** The 16 query groups, named after their modules. */
  val Groups: Seq[(String, graft.QueryGroup)] = Seq(
    "Scans" -> graft.operators.Scans,
    "Filters" -> graft.operators.Filters,
    "Joins" -> graft.operators.Joins,
    "Aggregates" -> graft.operators.Aggregates,
    "Windows" -> graft.operators.Windows,
    "SortsSets" -> graft.operators.SortsSets,
    "ScalarFns" -> graft.functions.ScalarFns,
    "LlmText" -> graft.operators.LlmText,
    "LlmVector" -> graft.operators.LlmVector,
    "EventsBatch" -> graft.operators.EventsBatch,
    "Graph" -> graft.operators.Graph,
    "SqlSurface" -> graft.operators.SqlSurface,
    "Pipeline" -> graft.operators.Pipeline,
    "Sampling" -> graft.operators.Sampling,
    "Curation" -> graft.operators.Curation,
    "Udx" -> graft.functions.Udx)

  /** Keys the roadmap lists as perf-weak; always in the subset. */
  val PerfWeak: Seq[String] = Seq("sim_hybrid_rrf", "sql_recursive", "sim_kmeans", "text_bm25")

  /** Fixed stratified subset: from every group the key that sorts first
    * by md5(key), plus [[PerfWeak]]. It does not depend on the run seed,
    * so every run measures the same keys and only their order varies. */
  def subset(groupOf: Map[String, String]): Seq[String] = {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val picked = groupOf.groupBy(_._2).values.map(_.keys.minBy(md5))
    (picked.toSeq ++ PerfWeak).distinct.sorted
  }

  val Base = "perfbench_sf0.01"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = new java.io.File(ctx.root, "perfbench/fixtures/sf0.01")
    val groupOf: Map[String, String] =
      Groups.flatMap { case (g, grp) => grp.queries.map(_._1 -> g) }.toMap
    val declared = graft.SparkEntry.queries
    require(groupOf.keySet == declared.keySet,
      s"QueryGroup keys differ from SparkEntry.queries: " +
        s"${(groupOf.keySet diff declared.keySet) ++ (declared.keySet diff groupOf.keySet)}")
    val digests = Digest.load(new java.io.File(ctx.root, "perfbench/digests/sf0.01.tsv"))
    val keys = subset(groupOf)
    val missing = keys.filterNot(digests.contains)
    require(missing.isEmpty, s"no recorded digest for: ${missing.mkString(",")}")

    // ---- set-up -------------------------------------------------------
    val dir = new java.io.File(ctx.work, s"query-suite/$Base")
    Fixture.verify(fixture)
    // the generic first-query machinery, as graft.Bench's session_init
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(100).groupBy(org.apache.spark.sql.functions.expr("id % 7")).count()
      .write.format("noop").mode("overwrite").save()
    // A fresh private copy, so every scratch artifact a key reads is cold
    // (new fixture fingerprints) and is built on the key's first use,
    // inside its timing, as on any fresh fixture. The full Warmup.all
    // inventory is not built here: its 30-45 s cold build would be most
    // of a run; the traced run times it after the pass.
    Scratch.wipe(Base)
    Fixture.copy(fixture, dir)
    val artifactsBefore = Scratch.listing(Base)
    val order = new scala.util.Random(ctx.seed).shuffle(keys)

    // ---- timed pass ---------------------------------------------------
    val ops = scala.collection.mutable.ArrayBuffer[OpRecord]()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var rows = 0L
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      for (k <- order) {
        val (r, op) = timedQuery(ctx, k, groupOf(k), dir.getPath, declared(k), digests(k))
        r.foreach(rows += _)
        ops += op
      }
      pass += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val created = Scratch.listing(Base).keySet diff artifactsBefore.keySet

    val layers = if (!ctx.trace) Nil else {
      // cold Warmup.all on a fresh copy (new fingerprints), then a warm
      // re-call: a hit writes nothing into its artifact directory
      Scratch.wipe(Base)
      Fixture.copy(fixture, dir)
      val steps = graft.Warmup.all(spark, dir.getPath)
      val built = Scratch.listing(Base)
      graft.Warmup.all(spark, dir.getPath)
      val after = Scratch.listing(Base)
      val unchanged = built.count { case (k, v) => after.get(k).contains(v) }
      Seq(
        Metric("scratch.build_s", steps.map(_._2).sum, "s"),
        Metric("scratch.steps", steps.length, "count"),
        Metric("scratch.steps_failed", steps.count(!_._3), "count"),
        Metric("scratch.bytes_written", Scratch.bytes(Base), "B"),
        Metric("scratch.hit_ratio", unchanged.toDouble / math.max(1, built.size), "ratio"),
        Metric("scratch.timed_misses", created.size, "count")) ++
        operatorLayer(ops.toSeq, wallS)
    }
    Scratch.wipe(Base)
    val accounted = layers.find(_.name == "operators.accounted_ratio").map(m =>
      "accounted_ratio_within_tolerance" -> (m.value >= AccountedTolerance).toString)
    Outcome(startMs, ops.toSeq, ops.length.toLong, wallS, layers,
      accounted.toMap ++ Map("keys" -> keys.length.toString, "passes" -> pass.toString,
        "output_rows" -> rows.toString,
        "timed_misses" -> created.toSeq.sorted.mkString(",")))
  }

  /** Build the query (`SparkEntry.queries(k)(spark, dir)`, including any
    * eager checkpoints inside it), then evaluate it to the noop sink with
    * its output digest observed on the way. The observation (a projection,
    * CollectMetrics and a per-row hash) runs inside the exec timing. */
  private def timedQuery(ctx: Ctx, key: String, group: String, dir: String,
                         fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                         want: Digest.D): (Option[Long], OpRecord) = {
    val t0 = System.nanoTime()
    val (built, buildMs, buildSpan) = ctx.spanned("build")(fn(ctx.spark, dir))
    val (res, execMs, execSpan) = built match {
      case Right(df) => ctx.spanned("exec") {
        val (observed, obs) = Digest.observed(df)
        observed.write.format("noop").mode("overwrite").save()
        Digest.fromObservation(obs)
      }
      case Left(e) => (Left(e), 0.0, None)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val spans = buildSpan.toSeq ++ execSpan.toSeq
    val (ok, err) = res match {
      case Right(got) if got == want => (true, "")
      case Right(got) => (false, s"digest $got, recorded $want")
      case Left(e) => (false, e.toString)
    }
    (res.toOption.map(_.rows),
      OpRecord(key, group, ms, ok, err, spans, Map("build" -> buildMs, "exec" -> execMs)))
  }

  /** Lowest `operators.accounted_ratio` taken as accounting for the
    * pass: at most 5% of its wall time outside the build and exec spans. */
  val AccountedTolerance = 0.95

  /** Per-call build/exec split; `accounted_ratio` is their sum over the
    * timed pass's wall time, which also holds whatever the loop does
    * between and around the two spans. */
  private def operatorLayer(ops: Seq[OpRecord], wallS: Double): Seq[Metric] = {
    val n = math.max(1, ops.length).toDouble
    val build = ops.map(_.parts("build")).sum
    val exec = ops.map(_.parts("exec")).sum
    val eager = ops.map(o => o.spans.find(_.name == "build").map(_.jobs).getOrElse(0)).sum
    val perGroup = Groups.map(_._1).flatMap { g =>
      val mine = ops.filter(_.group == g)
      val m = math.max(1, mine.length).toDouble
      Seq(Metric(s"operators.$g.exec_ms", mine.map(_.ms).sum / m, "ms/op"),
          Metric(s"operators.$g.jobs", mine.map(_.jobs).sum / m, "count/op"))
    }
    Seq(
      Metric("operators.build_ms", build / n, "ms/op"),
      Metric("operators.eager_jobs", eager / n, "count/op"),
      Metric("operators.exec_ms", exec / n, "ms/op"),
      Metric("operators.accounted_ratio", (build + exec) / (wallS * 1e3), "ratio")) ++ perGroup
  }
}

/** The vendored fixture: integrity check and private copy. */
object Fixture {
  def verify(dir: java.io.File): Unit = {
    val sums = new java.io.File(dir, "SHA256SUMS")
    require(sums.isFile, s"fixture checksums missing: $sums")
    scala.io.Source.fromFile(sums).getLines().filter(_.trim.nonEmpty).foreach { line =>
      val Array(want, name) = line.trim.split("\\s+", 2)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val got = md.digest(java.nio.file.Files.readAllBytes(new java.io.File(dir, name).toPath))
        .map(b => f"${b & 0xff}%02x").mkString
      require(got == want, s"fixture $name does not match its checksum")
    }
  }

  /** Fresh copy: new files, new mtimes, so every fixture fingerprint the
    * library derives from the copy is new and its artifacts are cold. */
  def copy(from: java.io.File, to: java.io.File): Unit = {
    Files.rm(to)
    to.mkdirs()
    from.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(to, f.getName).toPath)
    }
  }
}

/** The library's scratch-artifact directory (`graft.Tables.scratchDir`),
  * restricted to the entries that belong to the benchmark's private
  * fixture copy: artifact, lock and temp names carry the fixture
  * directory's basename as one of their `=`-separated segments, and the
  * in-place layouts (manifest_, vacuum_, fragmented_) embed it after a
  * prefix. Nothing else in the scratch directory is read or removed. */
object Scratch {
  private def scratch = new java.io.File(graft.Tables.scratchDir)

  def owns(name: String, base: String): Boolean =
    name.split("=", -1).exists(seg => seg == base || seg.contains(s"_${base}_"))

  private def ours(base: String): Seq[java.io.File] = {
    val top = Option(scratch.listFiles()).toSeq.flatten
    val nested = top.filter(_.getName == "sink_compact")
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
    (top ++ nested).filter(f => owns(f.getName, base))
  }

  def wipe(base: String): Unit = ours(base).foreach(Files.rm)

  def bytes(base: String): Long = ours(base).map(Files.bytes).sum

  /** Artifact directory -> (file count, bytes, newest mtime). */
  def listing(base: String): Map[String, (Int, Long, Long)] =
    ours(base).filterNot(_.getName.startsWith(".")).map { d =>
      val files = walk(d)
      d.getName -> ((files.length, files.map(_.length).sum,
        if (files.isEmpty) d.lastModified() else files.map(_.lastModified).max))
    }.toMap

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
}
