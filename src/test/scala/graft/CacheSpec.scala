package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The scratch-artifact layer, the one memo for derived tables: a
  * lookup whose fixture fingerprint changed must rebuild the artifact
  * AND delete the superseded generation, instead of serving stale rows
  * or accumulating one generation per regeneration (fixtures do get
  * regenerated mid-session; at 100 TB artifact sizes a leaked pair
  * graph pins the scratch store). */
class CacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Published generation dirs of artifact `name` for fixture dir `d`. */
  private def generations(name: String, d: String): Set[String] =
    Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith(s"$name=${new java.io.File(d).getName}="))
      .toSet

  test("regenerated fixture evicts the stale minhash pair graph") {
    val base = s"${Tables.scratchDir}/cache_spec_fixture"
    def writeDocs(texts: Seq[String]): Unit = {
      val sp = spark
      import sp.implicits._
      val tmp = s"$base/_tmp"
      // source column: the gram base (LlmText.gramsCached) carries it
      // for the novelty consumer, so the synthetic fixture keeps the
      // real table's shape
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, s"src${i % 3}") }
        .toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      // Tables.fingerprint needs a FILE at <dir>/documents.parquet (the
      // driver fixtures are single files): move the lone part file there
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/documents.parquet")
      dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
    }
    // generation 1: 12 IDENTICAL docs → every pair verifies at jaccard 1
    writeDocs(Seq.fill(12)("alpha beta gamma delta epsilon zeta eta theta"))
    val p1 = operators.LlmText.minhashPairsCached(spark, base)
    assert(p1.count() == 12L * 11L / 2L)
    val gens1 = generations("mhp_pairs", base)
    assert(gens1.size == 1, s"one published generation expected: $gens1")
    // generation 2, SAME path: pairwise-disjoint token sets → zero pairs.
    // The content assertion is the actual staleness gate; the
    // generation check pins that the superseded artifact is deleted.
    writeDocs(Seq.tabulate(15)(i =>
      (0 to 7).map(j => s"tok_${i}_$j").mkString(" ")))
    val p2 = operators.LlmText.minhashPairsCached(spark, base)
    assert(p2.count() == 0L,
      "pair graph served the stale generation-1 artifact")
    val gens2 = generations("mhp_pairs", base)
    assert(gens2.size == 1, s"stale generation survived: $gens2")
    assert(gens2 != gens1, "regenerated fixture must publish a fresh generation")
  }

  test("regenerated fixture evicts the stale BPE fit (driver-held memo)") {
    // the merge list is collected to the driver, but its artifact
    // follows the same rule: a changed fingerprint retrains and drops
    // the superseded generation, never one per regeneration
    val base = s"${Tables.scratchDir}/cache_spec_bpe"
    def writeDocs(texts: Seq[String]): Unit = {
      val sp = spark
      import sp.implicits._
      val tmp = s"$base/_tmp"
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/documents.parquet")
      dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
    }
    // another fixture dir's fit, published before this test's rebuilds
    operators.LlmText.bpeFit(spark, TestSpark.sf)
    val otherGens = generations("bpe_fit", TestSpark.sf)
    assert(otherGens.size == 1)
    writeDocs(Seq.fill(8)("a b a b a b c d a b"))
    val fit1 = operators.LlmText.bpeFit(spark, base)
    assert(fit1.nonEmpty)
    assert(fit1.exists(r => r._2 == "a" && r._3 == "b"))
    val gens1 = generations("bpe_fit", base)
    assert(gens1.size == 1, s"one published generation expected: $gens1")
    writeDocs(Seq.fill(8)("x y x y x y z w x y"))
    val fit2 = operators.LlmText.bpeFit(spark, base)
    assert(fit2.exists(r => r._2 == "x" && r._3 == "y"),
      "fit must reflect the regenerated corpus, not the stale one")
    val gens2 = generations("bpe_fit", base)
    assert(gens2.size == 1, s"stale fit generation survived: $gens2")
    assert(gens2 != gens1, "regenerated fixture must publish a fresh generation")
    // a DIFFERENT fixture dir's generation is untouched by these
    // evictions (the keying regression the dir segment exists to prevent)
    assert(generations("bpe_fit", TestSpark.sf) == otherGens,
      "one fixture's fit must not evict another fixture's artifact")
  }

  test("derived tables leave no session copy in executor storage") {
    // a memo in front of an artifact (persist, localCheckpoint) pins a
    // cached relation or a persistent RDD for the life of the JVM; a
    // warm artifact's scan pins nothing
    val sf = TestSpark.sf
    val reads: Seq[(String, SparkSession => DataFrame)] = Seq(
      "trade_edges" -> (s => operators.Graph.tradeEdgesCached(s, sf)),
      "gram_base" -> (s => operators.LlmText.gramsCached(s, sf)),
      "winnow_fps" -> (s => operators.LlmText.winnowFps(s, sf)),
      "mhp_pairs" -> (s => operators.LlmText.minhashPairsCached(s, sf)),
      "shp_pairs" -> (s => operators.LlmText.simhashPairsCached(s, sf)),
      "emb_pairs" -> (s => operators.LlmVector.embcosPairsCached(s, sf)),
      "pq_fit" -> (s => operators.LlmVector.pqFit(s, sf)),
      "multilab" -> (s => SparkEntry.queries("dedup_clusters_multimodal")(s, sf)),
      "frame_sigs" -> (s => SparkEntry.queries("multimodal_frame_dedup")(s, sf)))
    reads.foreach { case (_, read) => read(spark).count() } // publish
    val fresh = spark.newSession()
    reads.foreach { case (name, read) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = read(fresh)
      df.count()
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.isEmpty, s"$name left persistent RDDs $pinned")
      val cached = df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
      assert(cached.isEmpty, s"$name reads a cached relation")
    }
  }

  test("ScratchParquet: build-once, warm read, version/fp invalidation") {
    val sp = spark
    import sp.implicits._
    val d = s"${Tables.scratchDir}/cache_spec_scratch_fixture"
    new java.io.File(d).mkdirs()
    var builds = 0
    def build() = { builds += 1
      Seq((1L, 0.5, "a"), (2L, 0.25, "b")).toDF("id", "x", "s") }
    // cold: builds and persists
    val r1 = operators.ScratchParquet.ensure(spark, "cachespec_art", d, "fpA")(build())
    assert(builds == 1)
    assert(r1.orderBy("id").collect().map(_.toSeq.toList).toList ==
      List(List(1L, 0.5, "a"), List(2L, 0.25, "b")))
    // warm: SAME (name, fp, version) must NOT rebuild — reads the artifact
    val r2 = operators.ScratchParquet.ensure(spark, "cachespec_art", d, "fpA")(
      { builds += 1; fail("warm read must not invoke the builder") })
    assert(builds == 1)
    assert(r2.schema == r1.schema, "schema must round-trip exactly")
    // zero-row artifacts round-trip (pair graph with no near-dups)
    val e1 = operators.ScratchParquet.ensure(spark, "cachespec_empty", d, "fpA")(
      Seq.empty[(Long, Long)].toDF("da", "db"))
    assert(e1.count() == 0 && e1.schema.fieldNames.toList == List("da", "db"))
    // new fingerprint: rebuilds AND deletes the superseded generation
    operators.ScratchParquet.ensure(spark, "cachespec_art", d, "fpB")(build())
    assert(builds == 2)
    val dirs = Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("cachespec_art=cache_spec_scratch_fixture=")).toList
    assert(dirs.length == 1 && dirs.head.contains("fpB"),
      s"stale generation must be cleaned up, saw: $dirs")
  }

  test("ScratchParquet: eviction is exact-segment, never prefix (r18 advice 2)") {
    val sp = spark
    import sp.implicits._
    // two fixtures whose basenames extend each other — the round-17
    // startsWith eviction deleted the sibling's valid artifact here
    val dA = s"${Tables.scratchDir}/cachespec_fix"
    val dB = s"${Tables.scratchDir}/cachespec_fix_old"
    Seq(dA, dB).foreach(p => new java.io.File(p).mkdirs())
    // scratch persists across JVMs: clear both published artifacts so
    // the second ensure actually BUILDS (running its eviction) instead
    // of warm-reading past the regression this test pins
    Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("cachespec_sib="))
      .foreach(Tables.deleteRecursively)
    def one() = Seq((1L, "x")).toDF("id", "s")
    operators.ScratchParquet.ensure(spark, "cachespec_sib", dB, "fpOld")(one())
    // building for the SHORTER basename must not sweep the longer one's dir
    operators.ScratchParquet.ensure(spark, "cachespec_sib", dA, "fpNew")(one())
    val names = Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("cachespec_sib=")).toList.sorted
    assert(names == List("cachespec_sib=cachespec_fix=fpNew=" +
        operators.ScratchParquet.ConstructionVersion,
      "cachespec_sib=cachespec_fix_old=fpOld=" +
        operators.ScratchParquet.ConstructionVersion),
      s"sibling fixture's artifact must survive, saw: $names")
    // warm reads of both still serve without rebuilding
    operators.ScratchParquet.ensure(spark, "cachespec_sib", dB, "fpOld")(
      fail("warm read must not invoke the builder"))
    operators.ScratchParquet.ensure(spark, "cachespec_sib", dA, "fpNew")(
      fail("warm read must not invoke the builder"))
  }

  test("ScratchParquet: legacy underscore-format dirs are swept (r18 advice 5)") {
    val sp = spark
    import sp.implicits._
    val d = s"${Tables.scratchDir}/cachespec_legacy_fixture"
    new java.io.File(d).mkdirs()
    val base = "cachespec_legacy_fixture"
    // scratch persists across JVMs: clear this test's published
    // artifacts so the builds (and with them the sweep) actually run
    Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("cachespec_leg=") ||
        f.getName.startsWith("cachespec_leg_v1="))
      .foreach(Tables.deleteRecursively)
    // plant pre-round-18-format dirs: name_base_fp_version (the old
    // ScratchParquet layout) and name_vN_base_fp (the old ann-index /
    // embcos-anchors layouts) — version bumps used to strand these
    val legacy = Seq(
      s"cachespec_leg_${base}_deadbeef_c16",
      s"cachespec_leg_v1_${base}_deadbeef")
    legacy.foreach { n =>
      val f = new java.io.File(Tables.scratchDir, n)
      f.mkdirs(); new java.io.File(f, "_DONE").createNewFile()
    }
    // the v1-style name only matches the legacy rule via its own name
    // segment; sweep keyed on (name="cachespec_leg", base) catches the
    // first; keyed on (name="cachespec_leg_v1", base) catches the second
    operators.ScratchParquet.ensure(spark, "cachespec_leg", d, "fpZ")(
      Seq((1L, 2L)).toDF("a", "b"))
    operators.ScratchParquet.ensureDir("cachespec_leg_v1", d, "fpZ") { tmp =>
      Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$tmp/data")
    }
    val left = Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => legacy.contains(n)).toList
    assert(left.isEmpty, s"legacy dirs must be swept on rebuild, saw: $left")
  }

  test("ScratchParquet: publishTmp survives a non-protocol racer (generic FileSystemException)") {
    // On Linux, rename onto an existing non-empty dir throws the GENERIC
    // FileSystemException (ENOTEMPTY), not DirectoryNotEmptyException —
    // the loser must discard its tmp when (and only when) a complete
    // artifact is already published.
    def mk(n: String, withDone: Boolean, payload: Boolean): java.io.File = {
      val f = new java.io.File(Tables.scratchDir, n)
      Tables.deleteRecursively(f); f.mkdirs()
      if (payload) new java.io.File(f, "part-0").createNewFile()
      if (withDone) new java.io.File(f, "_DONE").createNewFile()
      f
    }
    // complete artifact already there -> loser's tmp silently discarded
    val win = mk("cachespec_pub_done", withDone = true, payload = true)
    val tmp1 = mk(".tmp=cachespec_pub1", withDone = true, payload = true)
    operators.ScratchParquet.publishTmp(tmp1, win)
    assert(!tmp1.exists(), "losing tmp must be discarded")
    assert(new java.io.File(win, "_DONE").exists(), "winner must be untouched")
    // existing dir WITHOUT _DONE -> a real failure, must propagate
    val half = mk("cachespec_pub_half", withDone = false, payload = true)
    val tmp2 = mk(".tmp=cachespec_pub2", withDone = true, payload = true)
    intercept[java.nio.file.FileSystemException] {
      operators.ScratchParquet.publishTmp(tmp2, half)
    }
    assert(tmp2.exists(), "tmp must survive a genuine move failure")
    Seq(win, half, tmp2).foreach(Tables.deleteRecursively)
  }

  test("ScratchParquet: crashed-build .tmp= debris is swept on the next build") {
    val sp = spark
    import sp.implicits._
    val d = s"${Tables.scratchDir}/cachespec_crash_fixture"
    new java.io.File(d).mkdirs()
    Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.contains("cachespec_crash"))
      .foreach(Tables.deleteRecursively)
    // plant what a process that died mid-build leaves: per-attempt-unique
    // temp dirs nothing ever reuses — including one from an OLDER
    // fingerprint generation of the same artifact
    val debris = Seq(
      s".tmp=cachespec_crash=cachespec_crash_fixture=fpX=" +
        s"${operators.ScratchParquet.ConstructionVersion}=999=deadbeef",
      s".tmp=cachespec_crash=cachespec_crash_fixture=fpOld=c16=998=cafebabe")
    debris.foreach { n =>
      val f = new java.io.File(Tables.scratchDir, n)
      f.mkdirs(); new java.io.File(f, "partial").createNewFile()
    }
    operators.ScratchParquet.ensure(spark, "cachespec_crash", d, "fpX")(
      Seq((1L, "v")).toDF("id", "s"))
    val left = Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => debris.contains(n)).toList
    assert(left.isEmpty, s"crashed temp dirs must be swept under the lock: $left")
  }

  test("ScratchParquet: concurrent ensure builds once, atomically (r18 advice 1)") {
    val sp = spark
    import sp.implicits._
    val d = s"${Tables.scratchDir}/cachespec_conc_fixture"
    new java.io.File(d).mkdirs()
    // scratch persists across JVMs: a warm artifact would mean zero
    // builds and prove nothing about the race
    Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("cachespec_conc="))
      .foreach(Tables.deleteRecursively)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def slowBuild() = {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the race window
      Seq((1L, "v")).toDF("id", "s")
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val rows = Await.result(Future.sequence((1 to 4).map(_ => Future {
      operators.ScratchParquet.ensure(spark, "cachespec_conc", d, "fpC")(
        slowBuild()).count()
    })), 2.minutes)
    assert(rows.forall(_ == 1L), s"every racer must read a complete artifact: $rows")
    assert(builds.get() == 1,
      s"the lock must serialize check→build→publish; built ${builds.get()} times")
    // no temp debris left behind
    val tmps = Option(new java.io.File(Tables.scratchDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.startsWith(".tmp=") && n.contains("cachespec_conc")).toList
    assert(tmps.isEmpty, s"temp build dirs must be renamed away or removed: $tmps")
  }
}
