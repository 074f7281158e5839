package perfbench

import org.apache.spark.sql.SparkSession

/** One timed call of the closed loop. `spans` holds the engine's view of
  * it in traced runs and is empty otherwise. */
final case class OpRecord(name: String, group: String, ms: Double, ok: Boolean,
                          error: String = "", spans: Seq[Span] = Nil,
                          parts: Map[String, Double] = Map.empty) {
  def jobs: Int = spans.map(_.jobs).sum
  def planHash: String = PlanHash.of(spans.flatMap(_.plans))
}

/** What a workload hands back: when its first timed call started (wall
  * clock, ms), the timed calls, the work they covered, and its own
  * per-layer metrics (traced runs only). */
final case class Outcome(timedStartMs: Long,
                         ops: Seq[OpRecord], items: Long, timedWallS: Double,
                         layers: Seq[Metric], info: Map[String, String])

final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val root: String, val work: java.io.File,
                val cores: Int) {
  val probe: Option[Probe] = if (trace) Some(new Probe(spark, root)) else None

  /** Runs `body` as one span of the engine probe (traced runs) and times
    * it; a NonFatal failure is returned, not thrown. */
  def spanned[T](name: String)(body: => T): (Either[Throwable, T], Double, Option[Span]) = {
    probe.foreach(_.open(name))
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    (r, ms, probe.map(_.close()))
  }

  /** One timed call, then its untimed output check (a failed check is a
    * failed call). */
  def op(name: String, group: String)(body: => Unit)(check: => Option[String]): OpRecord = {
    val (r, ms, span) = spanned(name)(body)
    val bad = r match {
      case Right(_) =>
        try check catch { case scala.util.control.NonFatal(e) => Some(s"check failed: $e") }
      case Left(e) => Some(e.toString)
    }
    OpRecord(name, group, ms, bad.isEmpty, bad.getOrElse(""), span.toSeq)
  }
}

object Files {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(); ()
  }

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length()
}

object Main {
  private def arg(args: Array[String], key: String): Option[String] = {
    val i = args.indexOf(key)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def need(args: Array[String], key: String): String =
    arg(args, key).getOrElse(throw new IllegalArgumentException(s"missing $key"))

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def session(cores: Int, work: java.io.File, trace: Boolean = false): SparkSession = {
    // graft.Bench's session config, at `cores` instead of SPARK_GRAFT_CPUS
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
    val s = (if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
             else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = need(args, "--workload")
    val seed = need(args, "--seed").toLong
    val seconds = need(args, "--seconds").toInt
    val trace = need(args, "--trace") == "1"
    val root = new java.io.File(need(args, "--root")).getCanonicalPath
    val cores = need(args, "--cores").toInt
    val heap = need(args, "--heap")
    val work = new java.io.File(need(args, "--work")).getCanonicalFile
    require(seconds >= 1, "--seconds must be at least 1")
    val run: Ctx => Outcome = workload match {
      case "query-suite"     => QuerySuite.run
      case "curation-corpus" => CurationCorpus.run
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    Files.rm(work)
    work.mkdirs()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work, trace)
    val ctx = new Ctx(spark, seed, seconds, trace, root, work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val out = try run(ctx) catch {
      case e: Throwable => spark.stop(); throw e
    }
    val rss = rssPeakMb()
    val attempted = out.ops.length
    val failed = out.ops.count(!_.ok)
    out.ops.filterNot(_.ok).foreach(o =>
      System.err.println(s"[perfbench] FAILED ${o.name}: ${o.error}"))

    val oks = out.ops.filter(_.ok).map(_.ms)
    val lat = if (oks.nonEmpty) oks else Seq(Double.NaN)
    val e2e = Seq(
      // process start to the first timed call
      Metric("setup_s", (out.timedStartMs - jvmStart) / 1000.0, "s"),
      Metric("items_per_s", out.items / out.timedWallS, "1/s"),
      Metric("call_geomean_ms", if (oks.isEmpty) Double.NaN else Stats.geomean(oks), "ms"),
      Metric("ops_ok_ratio", (attempted - failed).toDouble / math.max(attempted, 1), "ratio"))
    val layers = if (trace) Layers.complete(Engine.metrics(out.ops) ++
                   Engine.traced(out.ops, out.items, out.timedWallS) ++ out.layers ++ Kernels.run(ctx) :+
                   Metric("jvm.rss_peak_mb", rss, "MiB"))
                 else Nil

    // Context lines first; callers parse only the last line.
    val tail = Stats.highestSupported(oks.length).map(p => s"p$p").getOrElse("none")
    val info = out.info ++ Map(
      "workload" -> workload, "seed" -> seed.toString, "cores" -> cores.toString,
      "heap" -> heap, "calls" -> attempted.toString, "failed" -> failed.toString,
      "latency_samples" -> oks.length.toString, "highest_percentile_with_10_beyond" -> tail,
      "call_p50_ms" -> Json.num(Stats.median(lat)),
      "call_p90_ms" -> Json.num(Stats.percentile(lat, 90.0)),
      "rss_peak_mb" -> Json.num(rss),
      "timed_wall_s" -> Json.num(out.timedWallS), "session_s" -> Json.num(sessionS),
      "workload_setup_s" -> Json.num((out.timedStartMs - jvmStart) / 1000.0 - sessionS))
    println(Json.obj(info.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    if (trace) out.ops.foreach { o =>
      println(Json.obj(Seq("op" -> Json.str(o.name), "group" -> Json.str(o.group),
        "ms" -> Json.num(o.ms), "ok" -> o.ok.toString, "jobs" -> o.jobs.toString,
        "plan_hash" -> Json.str(o.planHash))))
    }
    val shown = if (trace) layers else e2e
    val metrics = Json.obj(shown.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    val correct = failed == 0 && attempted > 0
    spark.stop()
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
  }
}

/** The full per-layer metric list. A traced run reports every one of
  * them; a layer its workload does not exercise reads 0. */
object Layers {
  val all: Seq[(String, String)] = {
    val engine = Seq("jobs" -> "count/op", "stages" -> "count/op", "tasks" -> "count/op",
      "tasks_per_stage" -> "ratio", "task_run_s" -> "s/op", "task_cpu_s" -> "s/op",
      "gc_s" -> "s/op", "outside_tasks_s" -> "s/op", "busy_cores" -> "cores",
      "shuffle_read_bytes" -> "B/op", "shuffle_write_bytes" -> "B/op", "spill_bytes" -> "B/op",
      "input_bytes" -> "B/op", "output_bytes" -> "B/op", "plan_ms" -> "ms/op",
      "codegen_compiles" -> "count/op", "codegen_ms" -> "ms/op").map { case (n, u) => s"engine.$n" -> u }
    val operators = Seq("operators.build_ms" -> "ms/op", "operators.eager_jobs" -> "count/op",
      "operators.exec_ms" -> "ms/op", "operators.accounted_ratio" -> "ratio") ++
      QuerySuite.Groups.map(_._1).flatMap(g =>
        Seq(s"operators.$g.exec_ms" -> "ms/op", s"operators.$g.jobs" -> "count/op"))
    val scratch = Seq("build_s" -> "s", "steps" -> "count", "steps_failed" -> "count",
      "bytes_written" -> "B", "hit_ratio" -> "ratio", "timed_misses" -> "count")
      .map { case (n, u) => s"scratch.$n" -> u }
    val api = Api.Names.flatMap(f => Seq(s"api.$f.ms" -> "ms/op", s"api.$f.jobs" -> "count/op")) ++
      Seq("api.minhashNearDupPairs.verified_per_candidate" -> "ratio",
        "api.dedupExact.planted_recall" -> "ratio", "api.minhashNearDupPairs.planted_recall" -> "ratio")
    val functions = Kernels.Calls.map(c => s"functions.${c._1}.rows_per_s" -> "1/s")
    val traced = Seq("trace.items_per_s" -> "1/s", "trace.call_geomean_ms" -> "ms")
    engine ++ operators ++ scratch ++ api ++ functions ++ traced :+ ("jvm.rss_peak_mb" -> "MiB")
  }

  def complete(got: Seq[Metric]): Seq[Metric] = {
    val byName = got.map(m => m.name -> m).toMap
    val unknown = byName.keySet diff all.map(_._1).toSet
    require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
    all.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
