package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-lifetime DataFrame memo used by every fingerprint-keyed
  * cache (minhash/simhash shingles and pair graphs, converged cluster
  * labels, embcos pairs, PQ codebooks): entries key on (session, logical
  * name, fixture fingerprint), and — the round-9 policy — a lookup that
  * MISSES because the fingerprint changed EVICTS the superseded entry
  * for the same (session, name) before building the fresh one.
  *
  * Without eviction a fixture regenerated mid-session (the driver did
  * exactly that in round 7) leaves the old entry's persisted blocks
  * pinned in executor storage for the life of the JVM — invisible on
  * fixtures, an executor-memory leak at 100 TB artifact sizes. Eviction
  * frees BOTH storage forms the builders use:
  *   - `persist()`ed lineages via `DataFrame.unpersist` (cache-manager
  *     entries), and
  *   - `localCheckpoint()`ed results, whose blocks belong to the
  *     backing RDD, not the cache manager — found by collecting
  *     [[org.apache.spark.sql.execution.LogicalRDD]] leaves from the
  *     analyzed plan and unpersisting their RDDs.
  * Non-blocking on both paths: eviction must never stall the fresh
  * build that triggered it. */
private[graft] final class FingerprintCache {
  private val m =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()

  private def free(df: DataFrame): Unit = {
    try df.unpersist(blocking = false) catch { case _: Throwable => () }
    try df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(r => r.unpersist(blocking = false))
    catch { case _: Throwable => () }
  }

  def getOrElseUpdate(s: SparkSession, name: String, fp: String)
                     (build: => DataFrame): DataFrame = {
    m.keysIterator
      .filter(k => k._1 == s && k._2 == name && k._3 != fp)
      .foreach(k => m.remove(k).foreach(free))
    m.getOrElseUpdate((s, name, fp), build)
  }

  /** Test hook: live fingerprints for one (session, name). */
  private[graft] def fingerprintsFor(s: SparkSession, name: String): Set[String] =
    m.keysIterator.collect { case (`s`, `name`, fp) => fp }.toSet
}

/** Fingerprint-keyed scratch-parquet artifacts — the ensureWinnowIndex
  * posture generalized (round-16 verdict item 1): expensive derived
  * tables that are a pure function of (fixture, construction) are
  * written ONCE per (sf dir, fixture fingerprint, construction version)
  * and re-read as a plain parquet scan by every later JVM. The
  * in-memory [[FingerprintCache]] still fronts them (persist + eviction
  * semantics unchanged); this layer just replaces "rebuild the whole
  * detector pipeline on every JVM start" with "columnar scan of the
  * finished artifact" — measured 0.000 s warm for the winnowing index,
  * vs 6–16 s per pair graph rebuilt from scratch each Bench/Verify run.
  * On a real cluster the same artifacts live in the shared object
  * store, written by the ingest job and read by everyone.
  *
  * Policies (the first three from the original ensure* builders; the
  * last three are the round-18 hardening, ADVICE items 1/2/5):
  *   - `_DONE` marker: a crashed half-write is rebuilt, never served.
  *   - construction-version salt in the path: a semantic change to how
  *     an artifact is built — new radix, new distinct basis, new
  *     threshold — MUST invalidate artifacts persisted by older code,
  *     or a warm scratch dir silently serves stale answers. Bump
  *     [[ScratchParquet.ConstructionVersion]] whenever any persisted
  *     construction changes.
  *   - stale-generation cleanup: artifacts for superseded fingerprints
  *     or versions of the same (name, sf) are deleted before the fresh
  *     build, so a regenerating fixture can't grow scratch unboundedly.
  *   - ATOMIC publish: the artifact is built in a hidden temp dir and
  *     renamed into place in one filesystem operation, `_DONE` already
  *     inside. A visible artifact dir is therefore always complete; a
  *     crash at any point leaves only an ignorable `.tmp=` dir; and two
  *     processes racing the same build can never interleave writes into
  *     one directory — the loser's finished temp dir is discarded.
  *   - cross-process lock: check → evict → build → publish runs under
  *     an OS file lock per artifact (plus a per-JVM monitor, since
  *     `FileLock` is per-process), so a concurrent JVM sharing the
  *     scratch dir waits and then reads the winner's artifact instead
  *     of double-building or evicting files the winner is writing.
  *   - EXACT dir-name parsing for eviction: dir names are
  *     `name=base=fp=version` and eviction matches on parsed (name,
  *     base) segment equality, never on `startsWith` — a fixture whose
  *     basename extends another's (sf0.1 vs sf0.1_old) can no longer be
  *     swept by its sibling's build. Legacy underscore-format dirs from
  *     pre-round-18 code (`name_base_fp_version`,
  *     `embcos_anchors_c17_base_fp`, `ann_index_v1_base_fp`...) are
  *     recognized and deleted on the first build of the same (name,
  *     base), so version bumps no longer strand old dirs forever.
  *
  * The result schema is stored alongside the data (`schema.json`) and
  * applied explicitly on read: zero-row artifacts (a pair graph with no
  * near-dups is a legitimate answer) round-trip correctly even when the
  * writer emitted no part files, and re-reads skip footer inference. */
private[graft] object ScratchParquet {
  /** Salt folded into every artifact path. Bump on ANY semantic change
    * to a persisted construction (detector constants, hash radix,
    * distinct basis, verify threshold...). Unchanged in round 18: no
    * construction changed, and the `=`-segment dir format is itself a
    * new namespace (old-format dirs are swept as legacy). Unchanged
    * when the gram, winnowing and MinHash constructions moved into the
    * per-row kernels (gram_hashes48 / winnow_enc / minhash16): the
    * rebuilt winnow_fps, wn_index, mhp_pairs and mh_index rows are
    * identical to the c17 ones at sf0.01 and sf0.1 (fixture ids are
    * unique, so the duplicate-id union rule does not apply there). */
  val ConstructionVersion = "c17"

  private val Sep = "="
  /** Per-artifact JVM monitors: `FileLock` throws
    * OverlappingFileLockException if one process locks twice, so
    * in-process callers serialize here first. */
  private val jvmLocks =
    scala.collection.concurrent.TrieMap[String, Object]()

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  private def dirNameOf(name: String, base: String, fp: String): String = {
    val segs = Seq(name, base, fp, ConstructionVersion)
    require(segs.forall(g =>
        g.nonEmpty && !g.contains(Sep) && !g.contains("/")),
      s"artifact path segments must be non-empty, '$Sep'-free and " +
        s"'/'-free (they name ONE directory and its lock file): $segs")
    segs.mkString(Sep)
  }

  /** Exact 4-segment parse of a current-format artifact dir name;
    * None for temp/lock/legacy/non-artifact entries. */
  private def segmentsOf(n: String): Option[(String, String, String, String)] =
    if (n.startsWith(".")) None
    else n.split(Sep, -1) match {
      case Array(a, b, c, d) => Some((a, b, c, d))
      case _                 => None
    }

  /** Delete superseded generations of (name, base): current-format dirs
    * whose parsed name+base match but whose fp or version differ, plus
    * any legacy pre-round-18 underscore-format dir for the same
    * artifact (those all contained `_base_` with the fingerprint
    * adjacent; nothing reads them anymore). Runs only under the
    * artifact's file lock, so it can never race the winner's build. */
  private def evictSuperseded(name: String, base: String, keep: String): Unit =
    Option(new java.io.File(graft.Tables.scratchDir).listFiles())
      .getOrElse(Array.empty)
      .filter { f =>
        f.getName != keep && (
          segmentsOf(f.getName).exists(g => g._1 == name && g._2 == base) ||
          (!f.getName.contains(Sep) && f.getName.startsWith(s"${name}_") &&
            f.getName.contains(s"_${base}_")))
      }
      .foreach(rmTree)

  /** Cross-process critical section for one artifact: a per-JVM monitor
    * (FileLock throws OverlappingFileLockException if one process locks
    * twice) around an OS file lock in the scratch dir. Exposed for the
    * layout builders whose publishes must stay IN PLACE (manifests that
    * embed absolute file paths, the vacuum layout the rung itself
    * mutates post-publish) — they can't use the tmp+rename protocol,
    * but the lock still keeps two JVMs from interleaving writes into
    * one build. */
  private[graft] def withLock[T](key: String)(body: => T): T = {
    require(key.nonEmpty && !key.contains("/"),
      s"lock key names one lock file in the scratch dir: '$key'")
    val mon = jvmLocks.getOrElseUpdate(key, new Object)
    mon.synchronized {
      val scratch = new java.io.File(graft.Tables.scratchDir)
      scratch.mkdirs()
      val ch = java.nio.channels.FileChannel.open(
        new java.io.File(scratch, s".lock$Sep$key").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }
  }

  /** The locked double-checked once-per-layout build idiom, ONE
    * spelling for every in-place builder (manifest layout/delta/delete,
    * vacuum, compaction input): cheap unlocked probe, then re-probe
    * under the cross-process lock so the previous holder's publish is
    * seen. `needsBuild` is re-evaluated inside the lock. */
  private[graft] def onceLocked(key: String)(needsBuild: => Boolean)
                               (build: => Unit): Unit =
    if (needsBuild) withLock(key) { if (needsBuild) build }

  /** Atomically publish a finished tmp dir at `dir`. On Linux a rename
    * onto an existing non-empty directory surfaces as a GENERIC
    * java.nio.file.FileSystemException (ENOTEMPTY) — NOT the
    * DirectoryNotEmptyException / FileAlreadyExistsException subclasses
    * (verified empirically, round-18 review) — so the losing-racer
    * fallback catches the superclass and accepts the loss ONLY when a
    * complete artifact (`_DONE` inside) is actually present; any other
    * move failure (permissions, IO) still propagates. */
  private[graft] def publishTmp(tmp: java.io.File, dir: java.io.File): Unit = {
    try java.nio.file.Files.move(tmp.toPath, dir.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        if (new java.io.File(dir, "_DONE").exists()) rmTree(tmp) else throw e
    }
  }

  /** Build-or-reuse a whole artifact DIRECTORY (the general form: an
    * IVF index with cells + centroids, a hive-partitioned fingerprint
    * table...). `build` receives the temp dir to populate; the temp dir
    * is atomically renamed to the published path, `_DONE` inside.
    * Returns the published dir path. Contents may be APPENDED to after
    * publish only via the same tmp+rename protocol per sub-dir (the
    * ann-index delta cells do this). */
  def ensureDir(name: String, d: String, fp: String)
               (build: java.io.File => Unit): String = {
    val base = new java.io.File(d).getName
    val dirName = dirNameOf(name, base, fp)
    val scratch = new java.io.File(graft.Tables.scratchDir)
    val dir = new java.io.File(scratch, dirName)
    val done = new java.io.File(dir, "_DONE")
    if (!done.exists()) {
      // lock granularity is (name, base) — EVERY generation of one
      // artifact serializes on one lock, so the eviction and tmp sweep
      // below can never pull a live concurrent builder's dirs out from
      // under it (two fingerprints racing means one fixture is stale,
      // but its builder still must not crash on vanished files)
      withLock(s"$name$Sep$base") {
        if (!done.exists()) { // re-check: the lock's previous holder may have published
          evictSuperseded(name, base, keep = dirName)
          if (dir.exists()) rmTree(dir) // pre-atomic-era half-write
          // crashed-build debris: a process that died mid-build left a
          // .tmp= dir that no retry ever reuses (names are per-attempt
          // unique). Safe to sweep HERE and only here — any process
          // building any generation of this artifact holds this lock,
          // so a matching .tmp= dir can't belong to a live builder.
          Option(scratch.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith(s".tmp$Sep$name$Sep$base$Sep"))
            .foreach(rmTree)
          val tmp = new java.io.File(scratch,
            s".tmp$Sep$dirName$Sep${ProcessHandle.current().pid()}" +
              s"$Sep${java.util.UUID.randomUUID().toString.take(8)}")
          rmTree(tmp)
          build(tmp)
          new java.io.File(tmp, "_DONE").createNewFile()
          publishTmp(tmp, dir)
        }
      }
    }
    dir.getPath
  }

  /** Build-or-read a single-DataFrame artifact: returns a DataFrame
    * backed by the persisted parquet. `name` must be unique per
    * construction; `fp` is the fixture fingerprint (or a composite for
    * multi-fixture builds). */
  def ensure(s: SparkSession, name: String, d: String, fp: String)
            (build: => DataFrame): DataFrame = {
    val path = ensureDir(name, d, fp) { tmp =>
      val df = build
      df.write.mode("overwrite").parquet(s"$tmp/data")
      java.nio.file.Files.write(tmp.toPath.resolve("schema.json"),
        df.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Path.of(path, "schema.json")),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    s.read.schema(schema).parquet(s"$path/data")
  }
}
