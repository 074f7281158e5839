package graft.operators

import graft.{QueryGroup, Tables}
import graft.api.GraftOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.A — scans, sources, sinks.
  * Scale notes: parquet scans rely on Catalyst pushdown/pruning (verified
  * via explain in the spec); at 100 TB the same plans prune row groups and
  * read only projected columns, so these shapes are scan-bound, not
  * shuffle-bound.
  */
object Scans extends QueryGroup {

  /** Full scan, count-shaped projection. */
  private val scanParquet: QFn = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))

  /** Column pruning + predicate pushdown: only 3 columns reach the scan and
    * the shipdate range lands in PushedFilters (asserted in ScanSpec). */
  private val scanPruned: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampNTZType) &&
              col("l_shipdate") <  lit("1996-04-01").cast(TimestampNTZType))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** CSV round-trip: write `region` as CSV (header), re-ingest with an
    * explicit schema, return the re-ingested rows. Oracle reads the
    * original parquet — equality proves lossless ingest. */
  private val ingestCsv: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_csv"
    Tables.region(s, d).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .orderBy(col("r_regionkey"))
  }

  /** JSON-lines round-trip incl. schema inference: nation → jsonl →
    * inferred read (JSON ints come back as bigint → cast to the parquet
    * schema's int). */
  private val ingestJsonl: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_jsonl"
    Tables.nation(s, d).coalesce(1).write.mode("overwrite").json(out)
    s.read.json(out)
      .select(col("n_nationkey").cast(IntegerType).as("n_nationkey"),
              col("n_name"),
              col("n_regionkey").cast(IntegerType).as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** Partitioned sink: write orders partitioned by status (hive-style
    * dirs — at scale this is the partition-pruning layout), read back,
    * count per partition. */
  private val sinkPartitioned: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/sink_partitioned"
    Tables.orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .groupBy(col("o_orderstatus").cast(StringType).as("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** Bucketed sink + co-located large-large join: both fact tables are
    * written bucketed (and sorted) by orderkey into the session catalog,
    * so the join consumes bucket-aligned scans with NO shuffle exchange
    * on either side (asserted in PlanSpec) — the canonical 100 TB layout
    * when a big join key is reused across many queries: shuffle once at
    * write time, never again at read time. */
  private val sinkBucketed: QFn = (s, d) => {
    val out = Tables.scratchDir
    // repartition on the bucket key first: each write task then owns
    // whole buckets, so the table lands as 8 files, not tasks × buckets
    // small files — at 100 TB the small-file explosion is the classic
    // bucketed-write failure mode.
    // round-19 opt (guide §2.6 overlap independent jobs): the two
    // bucketed writes are independent 8-task jobs that each leave most
    // cores idle — submit the orders write from a second thread so the
    // lineitem write's tasks back-fill the same executors. Spark's
    // scheduler runs concurrent jobs safely; the catalog tables and
    // file layouts are byte-identical to the sequential spelling.
    // a swallowed write failure must not let the read-back consume a
    // stale catalog table from a prior run — capture and rethrow
    val ordersErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ordersWrite = new Thread(() =>
      try Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$out/bucketed_orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_orders_bucketed")
      catch { case t: Throwable => ordersErr.set(t) })
    ordersWrite.start()
    try {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$out/bucketed_lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_lineitem_bucketed")
    } finally ordersWrite.join()
    if (ordersErr.get() != null) throw ordersErr.get()
    s.table("graft_lineitem_bucketed")
      .join(s.table("graft_orders_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(Joins.revenueSum.as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** ORC round-trip: write `supplier` as ORC, re-ingest, return the
    * rows — proves the second columnar format's write/read path is
    * lossless (DuckDB has no ORC reader, so the oracle reads the
    * original parquet; equality IS the losslessness proof, the
    * ingest_csv pattern). */
  private val ingestOrc: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_orc"
    Tables.supplier(s, d).write.mode("overwrite").orc(out)
    s.read.orc(out)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  /** zstd parquet sink: the storage-budget codec at 100 TB (better
    * ratio than snappy at comparable scan speed). Write a projection
    * zstd-compressed, read it back, aggregate — the oracle reads the
    * original table, so equality proves the codec path is lossless. */
  private val sinkZstd: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/sink_zstd"
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    s.read.parquet(out)
      .groupBy((col("l_orderkey") % 10L).as("bucket"))
      .agg(count(lit(1)).as("n"),
           round(GraftOps.microSum("l_extendedprice"), 4)
             .as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** Schema evolution: two parquet generations of the same table — the
    * second adds a column — read back together with mergeSchema; rows
    * from the old generation surface NULL for the new column. The
    * standard long-lived-ingestion concern: schemas drift, readers must
    * reconcile. */
  private val ingestMergeSchema: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/merge_schema"
    val r = Tables.region(s, d)
    r.select(col("r_regionkey"), col("r_name"))
      .write.mode("overwrite").parquet(s"$out/gen=a")
    r.select(col("r_regionkey"), col("r_name"),
        length(col("r_name")).cast(IntegerType).as("name_len"))
      .write.mode("overwrite").parquet(s"$out/gen=b")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("gen").cast(StringType).as("gen"))
      .agg(count(lit(1)).as("n_rows"), count(col("name_len")).as("n_with_len"))
      .orderBy(col("gen"))
  }

  /** Raw text-lines round-trip — the canonical LLM corpus format: one
    * document per line out via write.text, back in via read.text, then
    * aggregate (order is not preserved by the round-trip, so the query
    * is the order-free corpus profile; oracle computes it from the
    * original table). */
  private val ingestText: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_text"
    // one doc per line only holds for newline-free non-null text; filter
    // (mirrored in the oracle) so a fixture change cannot silently skew
    // the round-trip counts
    Tables.documents(s, d).select(col("text"))
      .filter(col("text").isNotNull && !col("text").contains("\n"))
      .coalesce(1).write.mode("overwrite").text(out)
    s.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
           sum(length(col("value"))).as("total_chars"),
           sum(size(split(col("value"), " "))).as("total_tokens"))
  }

  /** Fixed-width record ingest — the legacy/mainframe feed shape
    * (COBOL copybook exports, bank settlement files): records are
    * synthesized from orders (lpad'd key, 1-char status, zero-padded
    * integer CENTS — never %.2f, whose HALF_UP-vs-half-even rounding
    * differs between Java and C — rpad'd priority), round-tripped
    * through a real text file, and parsed back with pure substring/
    * trim/cast recipes that stay in codegen and are identical in the
    * oracle dialect. Equality with the source-derived oracle IS the
    * losslessness proof (the ingest_orc pattern). */
  private val ingestFixedWidth: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_fixed_width"
    Tables.orders(s, d)
      .select(concat(
        lpad(col("o_orderkey").cast(StringType), 10, "0"),
        col("o_orderstatus"),
        lpad(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").cast(StringType), 12, "0"),
        rpad(col("o_orderpriority"), 15, " ")).as("value"))
      .coalesce(1).write.mode("overwrite").text(out)
    s.read.text(out)
      .select(
        substring(col("value"), 1, 10).cast(LongType).as("o_orderkey"),
        substring(col("value"), 11, 1).as("status"),
        (substring(col("value"), 12, 12).cast(LongType) / lit(100L)).as("price"),
        rtrim(substring(col("value"), 24, 15)).as("priority"))
      .orderBy(col("o_orderkey"))
  }

  /** Range-partitioned, within-partition-sorted parquet layout — the
    * zone-map / row-group-skipping storage shape at 100 TB:
    * repartitionByRange on the sort key gives each output file a
    * globally disjoint key range, and sortWithinPartitions makes the
    * parquet row-group min/max stats tight, so a key-range predicate at
    * read time skips whole files and row groups instead of scanning
    * them. The read-back applies a one-year range and rolls up monthly;
    * the oracle computes the same from the original table, so equality
    * proves the layout is lossless and the pruned read correct. */
  private val sinkSorted: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/sink_sorted"
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampNTZType) &&
              col("l_shipdate") <  lit("1996-01-01").cast(TimestampNTZType))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"),
           round(GraftOps.microSum("l_quantity"), 4)
             .as("sum_qty"))
      .orderBy(col("month"))
  }

  /** Incremental (base + delta) ingestion — the CDC shape a production
    * ingester hits first: a base generation plus a later delta
    * generation carrying updated rows for a subset of keys, read back
    * TOGETHER as one hive-partitioned dataset (`gen=` directories, the
    * ingest_merge_schema generation trick), with per-key dedup
    * preferring the newest generation. The merge is one groupBy on the
    * key with a max-of-struct aggregate (gen first) — map-side partial
    * max, fixed-width rows, a single shuffle on the key; at 100 TB this
    * is the standard merge-on-read compaction plan. The oracle computes
    * the expected current state independently from the original table,
    * so equality proves the generation-merge semantics, not just the
    * round-trip. */
  private val ingestIncremental: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_incremental"
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    c.write.mode("overwrite").parquet(s"$out/gen=0")
    // the delta: every 10th key gets a new balance
    c.filter(col("c_custkey") % 10L === 0L)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .write.mode("overwrite").parquet(s"$out/gen=1")
    val merged = s.read.parquet(out)
      .groupBy(col("c_custkey"))
      .agg(max(struct(col("gen"), col("c_nationkey").as("nk"),
                      col("c_acctbal").as("bal"))).as("m"))
      .select(col("c_custkey"), col("m.gen").as("gen"),
              col("m.nk").as("c_nationkey"), col("m.bal").as("c_acctbal"))
    merged.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
           sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_updated"),
           round(GraftOps.microSum("c_acctbal"), 4)
             .as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** SCD2 (slowly-changing-dimension type-2) history assembly — the
    * other half of the CDC story next to [[ingestIncremental]]: instead
    * of keeping only the newest row per key, keep EVERY version with its
    * validity interval. Three generations land as hive `gen=` partitions
    * (base, then two deltas touching overlapping key subsets); the
    * history read assigns `valid_to_gen = lead(gen)` per key — one
    * shuffle on the key, and the per-key window is bounded by the number
    * of generations a key appears in (3 here, small in any real CDC
    * feed), so the plan holds at 100 TB where per-key version counts
    * stay bounded even as the key count grows. The oracle rebuilds the
    * same generation rows from the original table with CASE arithmetic
    * and applies DuckDB's own lead() — an independent check of the
    * interval assembly, not a mirror of Spark's window code. The
    * assembly is [[GraftOps.scd2History]]. */
  private val ingestCdcScd2: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_cdc_scd2"
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    c.write.mode("overwrite").parquet(s"$out/gen=0")
    c.filter(col("c_custkey") % 10L === 0L)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .write.mode("overwrite").parquet(s"$out/gen=1")
    c.filter(col("c_custkey") % 20L === 0L)
      .withColumn("c_acctbal", col("c_acctbal") + 1500.0)
      .write.mode("overwrite").parquet(s"$out/gen=2")
    GraftOps.scd2History(
        s.read.parquet(out).withColumn("gen", col("gen").cast(IntegerType)),
        col("c_custkey"), col("gen"))
      // keys with %10==0 have ≥2 versions — the interesting history rows
      .filter(col("c_custkey") % 10L === 0L)
      .select(col("c_custkey"), col("gen"), col("c_acctbal"),
              col("valid_to").as("valid_to_gen"), col("is_current"))
      .orderBy(col("c_custkey"), col("gen"))
  }

  /** Small-file compaction — the maintenance job every long-lived 100 TB
    * dataset needs: streaming/incremental writers leave thousands of
    * small files per partition, and scan throughput collapses under
    * per-file open cost. Write a deliberately fragmented layout (64
    * files), then compact with coalesce — a NARROW dependency: tasks
    * concatenate input splits with no shuffle, which is the correct
    * plan when no new global order is required (repartition would pay a
    * full shuffle of the table for nothing). The query aggregates the
    * compacted output; the oracle computes the same from the original
    * table, so equality proves compaction is lossless. PlanSpec asserts
    * the file count actually dropped. */
  /** The fragmented layout is INPUT STATE (what the incremental writer
    * left behind), not the operator under test — built once per (sf dir,
    * content fingerprint) like ensureDppLayout, so every invocation pays
    * for the compaction job itself, never for re-manufacturing the mess
    * it cleans up. Bench warms this untimed (compact_fragments). */
  private[graft] def ensureCompactFragments(s: org.apache.spark.sql.SparkSession,
                                            d: String): String =
    ScratchParquet.ensureDir("compact_fragments", d,
        Tables.fingerprint(d, "lineitem")) { tmp =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
        .repartition(64)
        .write.mode("overwrite").parquet(tmp.getPath)
      // sweep this fixture's layouts from before the artifact format
      // (sink_compact/fragmented_<sf>_<fp>, built in place)
      Option(new java.io.File(s"${Tables.scratchDir}/sink_compact").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.matches(
          s"fragmented_${java.util.regex.Pattern.quote(new java.io.File(d).getName)}_[0-9a-f]+"))
        .foreach(Tables.deleteRecursively)
    }

  private val sinkCompact: QFn = (s, d) => {
    val frag = ensureCompactFragments(s, d)
    val compact = s"${Tables.scratchDir}/sink_compact/compacted"
    s.read.parquet(frag).coalesce(4)
      .write.mode("overwrite").parquet(compact)
    s.read.parquet(compact)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           round(GraftOps.microSum("l_extendedprice"), 4)
             .as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Malformed-record handling — the ingestion concern every 100 TB
    * feed hits: some fraction of a JSONL drop is broken, and the reader
    * must quarantine it without failing the job or silently dropping
    * counts. Every 5th nation row is written as deliberately truncated
    * JSON; the PERMISSIVE read lands those rows in `_corrupt_record`
    * (good columns NULL), and a second DROPMALFORMED read proves the
    * drop-path count. (Spark's corrupt-column restriction only bites
    * when a query references NOTHING but `_corrupt_record`; this
    * aggregate reads data columns too, so no defensive cache is
    * needed.) The oracle derives all four outputs from the
    * construction rule. */
  private val ingestCorrupt: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_corrupt"
    Tables.nation(s, d)
      .select(when(col("n_nationkey") % 5 === 0,
          concat(lit("{\"n_nationkey\":"), col("n_nationkey"), lit(",")))
        .otherwise(to_json(struct(col("n_nationkey"), col("n_name"), col("n_regionkey"))))
        .as("value"))
      .coalesce(1).write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType), StructField("_corrupt_record", StringType)))
    val parsed = s.read.schema(schema).option("mode", "PERMISSIVE").json(out)
    val dropped = s.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(out)
    parsed.agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(col("n_regionkey")).cast(LongType).as("sum_region"))
      .crossJoin(dropped.agg(count(lit(1)).as("n_dropmode")))
  }

  /** Dynamic partition pruning: a hive-partitioned fact joined to a
    * selectively-filtered dim — Catalyst injects a runtime partition
    * filter from the broadcast dim (PlanSpec asserts dynamicpruning in
    * PartitionFilters), so at 100 TB only the surviving partitions are
    * ever read even though the fact side has no static predicate. */
  /** Build the hive-partitioned fact + file dim once per session+sf
    * (path keyed by sf dir AND the source file's content fingerprint, so
    * neither a different scale factor nor a regenerated fixture can
    * reuse stale files) — the probe should pay for the pruned read, not
    * for rebuilding the layout. Bench calls this from its untimed
    * warm-up so a cold scratch dir can't be misattributed to whichever
    * query runs first. */
  private[graft] def ensureDppLayout(s: org.apache.spark.sql.SparkSession, d: String): String =
    ScratchParquet.ensureDir("dpp", d, Tables.fingerprint(d, "orders")) { tmp =>
      Tables.orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(s"$tmp/orders")
      // the dim must be a file scan filtered on a NON-join column: a filter
      // on the join key would be inferred statically, and a local relation
      // folds the filter away — neither exercises runtime pruning
      Tables.orders(s, d).select(col("o_orderstatus")).distinct()
        .withColumn("status_name",
          when(col("o_orderstatus") === "F", "closed").otherwise("other"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/status_dim")
    }

  private val scanDpp: QFn = (s, d) => {
    val base = ensureDppLayout(s, d)
    val fact = s.read.parquet(s"$base/orders")
    val dim = s.read.parquet(s"$base/status_dim").filter(col("status_name") === "closed")
    fact.join(dim.hint("broadcast"), Seq("o_orderstatus"))
      .groupBy(col("o_orderstatus").cast(StringType).as("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double"), 2)
             .as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** XML round-trip via Spark 4's BUILT-IN XML source (the spark-xml
    * connector merged into core, so no extra jar in this offline
    * container — unlike Avro, whose connector module is absent): nation
    * written as rowTag'd XML, re-ingested with an explicit schema,
    * returned ordered. Oracle reads the original parquet — equality
    * proves lossless ingest (the ingest_csv posture; fixture names are
    * ASCII with no markup metacharacters, so escaping is identity both
    * ways). Scale note: XML files split per-rowTag like JSONL lines —
    * the read parallelizes per file; the single-file coalesce(1) here
    * is fixture-sized convenience, not the recipe. */
  private val ingestXml: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/ingest_xml"
    Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1)
      .write.mode("overwrite").option("rowTag", "nation").xml(out)
    s.read.option("rowTag", "nation")
      .schema(StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
      .xml(out)
      .orderBy(col("n_nationkey"))
  }

  private val AvroCustomerSchemaJson: String =
    """{"type":"record","name":"customer","fields":[
      {"name":"c_custkey","type":"long"},
      {"name":"c_name","type":"string"},
      {"name":"c_nationkey","type":"int"},
      {"name":"c_acctbal","type":"double"},
      {"name":"c_mktsegment","type":"string"}]}"""

  /** Avro container-file round trip WITHOUT the spark-avro connector
    * (absent in this zero-egress container; README previously documented
    * Avro as out of scope — this rung closes that gap with the
    * avro-core jars Spark itself ships): the sink is the real
    * distributed shape — EACH task serializes its own partition into
    * one deflate-compressed .avro container shard via
    * GenericDatumWriter/DataFileWriter — and the read side is the
    * manifest posture: the driver lists shard PATHS (metadata-sized,
    * what a catalog always holds), parallelizes them one-per-task, and
    * each task streams records out of its container through a closing
    * iterator (DataFileReader; never a whole-shard buffer). The Avro
    * Schema is re-parsed from JSON inside each task — Schema objects
    * don't cross the closure boundary. Built once per fixture
    * fingerprint like the other scratch layouts. Oracle reads the
    * original parquet — equality proves the round trip lossless
    * (the ingest_xml posture; long/int/double/string all map to exact
    * Avro primitives, so the proof is bit-exact, doubles included).
    * LOCAL-MODE constraint (shared with every scratch rung): tasks
    * write shard files under a java.io.File path the driver then
    * lists back, which requires executors and driver to share one
    * filesystem — true in local[*] and on any shared-FS cluster
    * (NFS/HDFS-fuse); a real multi-node deployment would route the
    * shard writes through a task-commit protocol (FileCommitProtocol)
    * or an object store and read the committed manifest instead. The
    * read path asserts the shard listing is non-empty so a torn
    * scratch dir (e.g. `_DONE` survived a partial clean) fails fast
    * instead of returning an empty DataFrame. */
  private val ingestAvro: QFn = (s, d) => {
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val schemaJson = AvroCustomerSchemaJson
    // atomic fingerprint-keyed artifact (round 18): the shard writers
    // receive the TEMP dir path (a plain string in the task closure);
    // the rename publishes all four shards and _DONE at once, so the
    // round-11 torn-layout class (marker outliving some shards) can't
    // recur — the non-empty listing require below stays as a backstop
    val out = ScratchParquet.ensureDir("ingest_avro", d,
        Tables.fingerprint(d, "customer")) { tmp =>
      tmp.mkdirs() // the avro writer, unlike Spark's sinks, needs the parent
      val tmpPath = tmp.getPath
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
                col("c_acctbal"), col("c_mktsegment"))
        .repartition(4, col("c_custkey"))
        .rdd.mapPartitionsWithIndex { (pid, rows) =>
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val w = new org.apache.avro.file.DataFileWriter(
            new GenericDatumWriter[GenericRecord](schema))
          w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
          w.create(schema, new java.io.File(s"$tmpPath/part-$pid.avro"))
          var n = 0L
          try rows.foreach { r =>
            val rec = new GenericData.Record(schema)
            rec.put("c_custkey", r.getLong(0))
            rec.put("c_name", r.getString(1))
            rec.put("c_nationkey", r.getInt(2))
            rec.put("c_acctbal", r.getDouble(3))
            rec.put("c_mktsegment", r.getString(4))
            w.append(rec); n += 1
          } finally w.close()
          Iterator.single(n)
        }.sum()
      // sweep the pre-round-18 layout (ingest_avro_<fp>, no sf segment —
      // the generic legacy rule can't match it without a base)
      Option(new java.io.File(Tables.scratchDir).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName.matches("ingest_avro_[0-9a-f]+"))
        .foreach(Tables.deleteRecursively)
    }
    val paths = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.getPath).toSeq.sorted
    require(paths.nonEmpty,
      s"graft.ingest_avro: scratch dir $out has a _DONE marker but no " +
        ".avro shards — torn scratch layout; delete the dir and re-run")
    val sp = s
    import sp.implicits._
    s.createDataset(paths).repartition(paths.size)
      .mapPartitions { it =>
        it.flatMap { p =>
          val reader = new org.apache.avro.file.DataFileReader(
            new java.io.File(p), new GenericDatumReader[GenericRecord]())
          new Iterator[(Long, String, Int, Double, String)] {
            private var closed = false
            def hasNext: Boolean = {
              val h = !closed && reader.hasNext
              if (!h && !closed) { reader.close(); closed = true }
              h
            }
            def next(): (Long, String, Int, Double, String) = {
              val rec = reader.next()
              (rec.get("c_custkey").asInstanceOf[Long],
               rec.get("c_name").toString,
               rec.get("c_nationkey").asInstanceOf[Int],
               rec.get("c_acctbal").asInstanceOf[Double],
               rec.get("c_mktsegment").toString)
            }
          }
        }
      }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .orderBy(col("c_custkey"))
  }

  /** 16-bit even-bit spread (one Morton-interleave half) as a SQL
    * string; `shl` renders the dialect's left shift (Spark
    * `shiftleft(a, n)`, DuckDB `a << n`). The classic 4-step
    * magic-mask ladder — all int64 bit ops, bit-identical in any
    * engine. */
  private def zSpread(e: String, shl: (String, Int) => String): String = {
    val s1 = s"(($e | ${shl(e, 8)}) & 16711935)"
    val s2 = s"(($s1 | ${shl(s1, 4)}) & 252645135)"
    val s3 = s"(($s2 | ${shl(s2, 2)}) & 858993459)"
    s"(($s3 | ${shl(s3, 1)}) & 1431655765)"
  }

  /** 32-bit Morton z-value of (x, y): the two 16-bit inputs
    * interleaved, x on even bit positions. Callers must pass values
    * already normalized into [0, 65536) — see [[zNormSql]]. */
  private[graft] def zValSql(x: String, y: String,
      shl: (String, Int) => String): String =
    s"(${zSpread(s"($x & 65535)", shl)} | ${shl(zSpread(s"($y & 65535)", shl), 1)})"

  /** Affine rank normalization of a nonnegative key into [0, 65536) —
    * the step every production z-order implementation runs before
    * interleaving (Morton on RAW keys wastes curve resolution on the
    * wider domain and gives the narrower one no high bits at all: with
    * a 10-value suppkey domain the y bits would all be low-order and no
    * file boundary would ever box it). All-integer: k·65536 fits int64
    * for any fixture key; `div` is exact. `hi` = the domain max + 1,
    * computed once and broadcast. */
  private[graft] def zNormSql(k: String, hi: String, divOp: String): String =
    s"(($k * 65536) $divOp $hi)"

  private[graft] val zDuckShl: (String, Int) => String =
    (a, n) => s"($a << $n)"

  /** Z-ORDER clustered parquet layout — sink_sorted's multi-dimensional
    * generalization and the standard data-skipping answer when TWO
    * columns carry selective predicates (a single-column sort boxes
    * only its own column's row-group stats; the space-filling curve
    * keeps BOTH keys locally boxed per file, so a predicate on either —
    * or a box on both — prunes files and row groups). Layout =
    * repartitionByRange + sortWithinPartitions on the 32-bit Morton
    * code of ([[zNormSql]]-normalized l_partkey, l_suppkey) — per-file
    * zval ranges globally disjoint, and BOTH natural keys boxed per
    * file (PlanSpec pins both properties from the written layout). The
    * read-back applies a (partkey, suppkey) box and rolls up per
    * top-8-bit z-bucket; the oracle computes the identical all-integer
    * z math from the original table, so equality proves the layout
    * lossless and the curve arithmetic engine-portable. The z-value is
    * [[GraftOps.mortonZ]]; ApiSpec pins it bit-identical to the
    * [[zValSql]] ladder the oracle renders.
    * At 100 TB this is the layout job run at compaction time (the
    * sink_compact slot), amortized over every subsequent scan. */
  private val sinkZorder: QFn = (s, d) => {
    val out = s"${Tables.scratchDir}/sink_zorder"
    val his = Tables.lineitem(s, d)
      .agg((max(col("l_partkey")) + lit(1L)).as("hp"),
           (max(col("l_suppkey")) + lit(1L)).as("hs"))
    Tables.lineitem(s, d)
      .crossJoin(broadcast(his))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"),
        GraftOps.mortonZ(col("l_partkey"), col("hp"), col("l_suppkey"), col("hs"))
          .as("zval"))
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("l_partkey") < 1024L && col("l_suppkey") < 64L)
      .groupBy(expr("zval div 16777216").as("zbucket"))
      .agg(count(lit(1)).as("n"),
           round(GraftOps.microSum("l_quantity"), 4)
             .as("sum_qty"))
      .orderBy(col("zbucket"))
  }

  /** The file-stats manifest of a layout: one row (path, lo, hi,
    * n_rows) per parquet file under each of `root`'s sub-dirs `subs`,
    * written to `root/out` in one pass at layout time. `path` is the
    * sub-dir plus the file name, relative to `root`, so the manifest
    * stays valid when ensureDir renames the artifact into place (a
    * Delta log stores each `add.path` relative to the table root for
    * the same reason). */
  private def writeManifest(s: org.apache.spark.sql.SparkSession,
                            root: java.io.File, out: String, subs: String*): Unit =
    subs.map(sub => s.read.parquet(s"$root/$sub")
        .select(concat(lit(s"$sub/"), col("_metadata.file_name")).as("path"),
                col("l_orderkey")))
      .reduce(_ unionByName _)
      .groupBy(col("path"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"),
           count(lit(1)).as("n_rows"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/$out")

  /** The data files that a set of manifests, each an (artifact root,
    * manifest sub-dir) pair, select for the key range [loK, hiK] (every
    * file by default), each resolved against its own root. One collect
    * of the metadata plane: bounded by file count (what a
    * catalog/driver always holds), never data-sized. */
  private def manifestFiles(s: org.apache.spark.sql.SparkSession,
                            mans: Seq[(String, String)],
                            loK: Long = Long.MinValue,
                            hiK: Long = Long.MaxValue): Seq[String] =
    mans.map { case (root, m) =>
        s.read.parquet(s"$root/$m")
          .select(concat(lit(s"$root/"), col("path")).as("path"), col("lo"), col("hi"))
      }
      .reduce(_ unionByName _)
      .filter(col("lo") <= hiK && col("hi") >= loK)
      .select(col("path")).collect().map(_.getString(0)).toSeq

  /** The manifest-pruned read of the key range [1000, 5000] that every
    * manifest rung (and its oracle) reads: only the files whose [lo, hi]
    * overlaps the range reach the reader, and parquet row-group stats
    * prune a second level inside each one (the layouts are sorted). */
  private def prunedSlice(s: org.apache.spark.sql.SparkSession,
                          mans: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val (loK, hiK) = (1000L, 5000L)
    val files = manifestFiles(s, mans, loK, hiK)
    val pruned =
      if (files.isEmpty) s.read.parquet(s"${mans.head._1}/data").limit(0)
      else s.read.parquet(files: _*)
    pruned.filter(col("l_orderkey") >= loK && col("l_orderkey") <= hiK)
  }

  /** The one aggregate of the manifest and VACUUM rungs. */
  private def qtyStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.agg(count(lit(1)).as("n"),
           countDistinct(col("l_orderkey")).as("n_orders"),
           round(GraftOps.microSum("l_quantity"), 4).as("sum_qty"))

  /** Range layout + min/max file-stats manifest — the table-format
    * METADATA PLANE (Delta/Iceberg per-file add stats) rebuilt on plain
    * parquet: built once per (fixture, fingerprint) like the DPP
    * layout. The data sits range-partitioned and sorted on the key
    * (sink_sorted's zone-map shape); the manifest is one tiny parquet
    * of (path, lo, hi, n_rows) — at 100 TB the writer emits these stats
    * per file and the manifest IS the table format's file index. */
  private[graft] def ensureManifestLayout(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ScratchParquet.ensureDir("manifest", d, Tables.fingerprint(d, "lineitem")) { tmp =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tmp/data")
      writeManifest(s, tmp, "manifest", "data")
    }

  /** Manifest-pruned scan — explicit file skipping via the stats
    * manifest, the read half of every modern table format: the
    * predicate's key range is intersected with the manifest's per-file
    * [lo, hi] intervals and ONLY overlapping files are handed to the
    * reader. Equality with the whole-table oracle proves the pruning
    * lossless; PlanSpec asserts files were actually skipped and the
    * pruned read equals the full-scan filter. */
  private val scanManifest: QFn = (s, d) =>
    qtyStats(prunedSlice(s, Seq(ensureManifestLayout(s, d) -> "manifest")))

  /** Incremental manifest maintenance — dedup_incremental / ann_upsert's
    * posture applied to the METADATA PLANE: an append batch lands as
    * NEW data files plus new manifest rows; nothing existing is
    * rewritten (the base layout and its manifest stay byte-identical —
    * PlanSpec pins the mtimes). Its own artifact, keyed on the same
    * fixture fingerprint as the base layout. */
  private[graft] def ensureManifestDelta(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ScratchParquet.ensureDir("manifest_delta", d,
        Tables.fingerprint(d, "lineitem")) { tmp =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 97L === 0L)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tmp/data")
      writeManifest(s, tmp, "manifest", "data")
    }

  /** The base layout and its appended delta, in generation order. */
  private def manifestGenerations(s: org.apache.spark.sql.SparkSession,
                                  d: String): Seq[(String, String)] =
    Seq(ensureManifestLayout(s, d) -> "manifest",
        ensureManifestDelta(s, d) -> "manifest")

  /** Manifest-pruned scan over base + appended batch — the read half of
    * incremental metadata maintenance: the combined manifest is the
    * UNION of the base and delta stats tables (manifests compose by
    * concatenation — exactly how log-structured table formats grow),
    * and pruning + the data read work unchanged across both
    * generations. Equality with the base ∪ delta oracle derivation
    * proves the append lossless and the combined pruning correct. */
  private val sinkManifestAppend: QFn = (s, d) =>
    qtyStats(prunedSlice(s, manifestGenerations(s, d)))

  /** Equality-delete file for the merge-on-read rung — generation 3 of
    * the manifest-plane story: a DELETE lands as a small file of KEYS
    * (Iceberg equality deletes / Delta deletion-vector posture), no
    * data file rewritten. Its own artifact, keyed on the same fixture
    * fingerprint as the base layout. */
  private[graft] def ensureManifestDelete(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ScratchParquet.ensureDir("manifest_delete", d,
        Tables.fingerprint(d, "lineitem")) { tmp =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 101L === 0L)
        .select(col("l_orderkey")).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/keys")
    }

  /** Merge-on-read DELETE — the third metadata-plane verb (add:
    * sink_manifest_append; read-at-version: scan_time_travel; now
    * delete-without-rewrite): the delete file holds keys only, and the
    * READER applies it — manifest-pruned data scan ANTI JOIN the
    * broadcast delete-key set — exactly how equality deletes execute
    * in log-structured table formats until a compaction rewrites the
    * files. One query reads the table both ways (snapshot 1 = before
    * the delete generation, snapshot 2 = after); the oracle derives
    * both states independently, proving the delete removed EXACTLY the
    * keyed rows across base AND delta generations. Delete files are
    * KBs (keys, not rows) so the anti join broadcasts; at compaction
    * time the same anti join feeds sink_compact's rewrite. */
  private val scanDeleteMerge: QFn = (s, d) => {
    val slice = prunedSlice(s, manifestGenerations(s, d))
    val deletes = s.read.parquet(s"${ensureManifestDelete(s, d)}/keys")
    def agg(df: org.apache.spark.sql.DataFrame, snap: Long) =
      qtyStats(df)
        .select(lit(snap).as("snapshot"), col("n"), col("n_orders"), col("sum_qty"))
    agg(slice, 1L)
      .unionByName(agg(slice.join(broadcast(deletes), Seq("l_orderkey"),
        "left_anti"), 2L))
      .orderBy(col("snapshot"))
  }

  /** Snapshot read AS OF a generation — TIME TRAVEL over the manifest
    * plane (what `VERSION AS OF` resolves to in every log-structured
    * table format): a snapshot IS the set of files whose manifest
    * generation is ≤ g, so reading version 0 after the delta append
    * (sink_manifest_append) simply binds the file list from the BASE
    * manifest alone — no data is copied, moved, or restored. One query
    * reads BOTH versions of the same table: per snapshot the manifest
    * prefix is pruned against the key range and aggregated; equality
    * with the independently-derived base / base∪delta expectations
    * proves snapshot isolation (the append is invisible at version 0)
    * AND that version 1 sees exactly base+delta. The manifest reads
    * are the metadata plane — file-count-sized; at 100 TB the
    * generation column lives in the catalog's manifest list and this
    * exact prefix-union is how the reader binds any historical
    * version. */
  private val scanTimeTravel: QFn = (s, d) => {
    val gens = manifestGenerations(s, d)
    def snapshot(gen: Int): org.apache.spark.sql.DataFrame =
      qtyStats(prunedSlice(s, gens.take(gen + 1)))
        .select(lit(gen.toLong).as("snapshot"), col("n"), col("n_orders"),
                col("sum_qty"))
    snapshot(0).unionByName(snapshot(1)).orderBy(col("snapshot"))
  }

  /** Hidden `_metadata` columns — the file-provenance surface every
    * lineage/debugging story needs (which FILE did this row come from,
    * at which position): Spark exposes `_metadata.file_path` /
    * `file_name` / `file_size` / `row_index` on every file-source scan
    * with zero extra IO (constant per file; row_index from the reader
    * position). Raw paths/sizes are engine- and run-specific, so the
    * rung makes the provenance ORACLE-ABLE by construction: lineitem
    * lands hive-partitioned by pk = l_orderkey % 8 after a
    * repartition(8, pk) — each pk lives wholly in one task, so every
    * partition dir holds EXACTLY one file — then the read derives pk
    * back out of `_metadata.file_path`, counts distinct files per pk
    * (provably 1), and checks `row_index` density (min 0, max+1 =
    * rowcount). The oracle states those invariants from the source
    * table alone — file-count or row_index plumbing breaks hash-fail.
    * Built once per fixture fingerprint. */
  private val scanFileMetadata: QFn = (s, d) => {
    // rename-safe under the atomic ScratchParquet publish: the read
    // derives pk from the "pk=N" path SEGMENT, never the absolute path
    val base = ScratchParquet.ensureDir("filemeta", d,
        Tables.fingerprint(d, "lineitem")) { tmp =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .withColumn("pk", pmod(col("l_orderkey"), lit(8L)).cast(IntegerType))
        .repartition(8, col("pk"))
        .write.partitionBy("pk").mode("overwrite").parquet(s"$tmp/data")
    }
    s.read.parquet(s"$base/data")
      .select(col("l_orderkey"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("ri"))
      .withColumn("pk", regexp_extract(col("fp"), "pk=([0-9]+)", 1).cast(LongType))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("fp")).as("n_files"),
        min(col("ri")).as("min_ri"),
        (max(col("ri")) + lit(1L)).as("rows_by_index"))
      .orderBy(col("pk"))
  }

  /** Self-contained three-generation layout for the VACUUM rung — its
    * OWN artifact (never the shared manifest layout: scan_manifest
    * / scan_time_travel pin that layout's files and mtimes, and VACUUM
    * physically deletes files): gen0 = 4 base data files, gen1 = 2
    * delta files (append), gen2 = a COMPACTION rewriting gen0 ∪ gen1
    * into 2 new files. Per-version manifests v0 (gen0), v1 (gen0+gen1),
    * v2 (gen2 only) — after the compaction snapshot, the gen0/gen1
    * files are referenced ONLY by the historical versions, which is
    * exactly what gives a retention VACUUM something to reclaim. Built
    * once per fixture fingerprint. */
  private[graft] def ensureVacuumLayout(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ScratchParquet.ensureDir("vacuum", d, Tables.fingerprint(d, "lineitem")) { tmp =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      li.filter(col("l_orderkey") % 7L === 0L)
        .repartition(4).write.mode("overwrite").parquet(s"$tmp/data/gen0")
      li.filter(col("l_orderkey") % 7L === 3L)
        .repartition(2).write.mode("overwrite").parquet(s"$tmp/data/gen1")
      // compaction: the new snapshot's files carry the SAME rows
      s.read.parquet(s"$tmp/data/gen0", s"$tmp/data/gen1")
        .repartition(2).write.mode("overwrite").parquet(s"$tmp/data/gen2")
      writeManifest(s, tmp, "manifest/v0", "data/gen0")
      writeManifest(s, tmp, "manifest/v1", "data/gen0", "data/gen1")
      writeManifest(s, tmp, "manifest/v2", "data/gen2")
    }

  /** VACUUM — the retention verb completing the manifest-plane story
    * (add: sink_manifest_append; read-at-version: scan_time_travel;
    * delete: scan_delete_merge; compact: sink_compact; now EXPIRE):
    * versions older than the horizon (here: everything before the
    * compaction snapshot v2) are expired, and every data file no
    * retained manifest references is physically deleted — exactly
    * Delta's VACUUM / Iceberg's expire_snapshots + remove_orphan_files
    * split, driven the only correct way: from the RETAINED manifests'
    * reference set, never from file naming or age alone. The walk and
    * delete are driver-side metadata-plane operations (file-count-
    * sized — what the catalog always holds); intended deletions land
    * in _VACUUM_LOG BEFORE any delete, and an interrupted run's rerun
    * unions the prior log, so the audit trail "only unreferenced
    * files disappeared" survives crashes mid-reclaim (PlanSpec
    * asserts it). Idempotent: a _VACUUMED marker makes re-runs
    * read-only. */
  private[graft] def vacuumRetainLatest(
      s: org.apache.spark.sql.SparkSession, base: String): Unit = {
    // the one mutation of a published artifact, serialized across JVMs:
    // two concurrent vacuums would race each other's Files.delete calls
    val vacuumed = new java.io.File(s"$base/_VACUUMED")
    if (!vacuumed.exists())
      ScratchParquet.withLock(new java.io.File(base).getName + "+vacuum") {
        if (!vacuumed.exists()) vacuumRetainLatestLocked(s, base)
      }
  }

  private def vacuumRetainLatestLocked(
      s: org.apache.spark.sql.SparkSession, base: String): Unit = {
    val kept = manifestFiles(s, Seq(base -> "manifest/v2")).toSet
    val dataRoot = java.nio.file.Paths.get(s"$base/data")
    val walk = java.nio.file.Files.walk(dataRoot)
    val all = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector
    } finally walk.close()
    // dir-level survival is for SIDECARS ONLY (_SUCCESS, .crc,
    // _-prefixed markers — committer metadata that lives or dies with
    // its directory): an unreferenced DATA file is doomed (and logged)
    // wherever it sits, even beside a referenced one
    def isSidecar(p: java.nio.file.Path): Boolean = {
      val n = p.getFileName.toString
      n == "_SUCCESS" || n.endsWith(".crc") || n.startsWith("_") || n.startsWith(".")
    }
    val (keepF, doomed) = all.partition { p =>
      val dir = p.getParent.toString
      kept.contains(p.toString) ||
        (isSidecar(p) && kept.exists(_.startsWith(dir + "/")))
    }
    require(keepF.nonEmpty, s"graft.vacuum: retained manifest references no live file under $base")
    // the audit log lands BEFORE any delete, so a crash mid-delete
    // never loses a deletion it performed
    ScratchParquet.writeAuditLog(base, doomed.map(_.toString))
    doomed.foreach(java.nio.file.Files.delete)
    // drop now-empty generation dirs and the expired manifests
    all.map(_.getParent).distinct.foreach { dir =>
      if (Option(dir.toFile.listFiles()).exists(_.isEmpty)) dir.toFile.delete()
    }
    Tables.deleteRecursively(new java.io.File(s"$base/manifest/v0"))
    Tables.deleteRecursively(new java.io.File(s"$base/manifest/v1"))
    new java.io.File(s"$base/_VACUUMED").createNewFile()
    ()
  }

  /** The declared VACUUM rung: aggregate the retained snapshot BEFORE
    * the vacuum (a real collected action — the files are still all on
    * disk on the first run), run the vacuum, aggregate the SAME
    * snapshot after, and emit both — byte-identical rows prove the
    * reclaim touched nothing any retained version references. The
    * oracle derives the expected values independently from lineitem
    * (gen0 ∪ gen1 rows survive the compaction rewrite), so a vacuum
    * that deleted a referenced file (or a compaction that lost rows)
    * hash-fails. After the first run the layout is already vacuumed
    * and both phases read the post-vacuum state — same values, still
    * oracle-exact, so the rung is safely re-runnable (the eager
    * before-aggregate is fixture-sized; the ingest_avro
    * action-in-constructor posture, documented there). */
  private val sinkVacuum: QFn = (s, d) => {
    val base = ensureVacuumLayout(s, d)
    def latest(): org.apache.spark.sql.DataFrame =
      qtyStats(s.read.parquet(manifestFiles(s, Seq(base -> "manifest/v2")): _*))
    val b = latest().collect()(0)
    vacuumRetainLatest(s, base)
    val sp = s
    import sp.implicits._
    val before = Seq(("before", b.getLong(0), b.getLong(1), b.getDouble(2)))
      .toDF("phase", "n", "n_orders", "sum_qty")
    latest().select(lit("after").as("phase"), col("n"), col("n_orders"),
        col("sum_qty"))
      .unionByName(before)
      .orderBy(col("phase"))
  }

  /** Raw binary-file ingest — the `binaryFile` source every multimodal
    * pipeline starts from (images/audio/video land as opaque files; the
    * engine's job is to get (path, length, content) rows out of them
    * losslessly and in parallel — one task per file at scale, no
    * decode on the scan). Fixture: one file per nation written once per
    * fixture fingerprint, content = the UTF-8 bytes of a string derived
    * from the row (repeated key+1 times, so lengths differ per file).
    * The read maps each file to (key parsed from the file name, byte
    * length, md5 of the content bytes). The oracle recomputes the SAME
    * digest from the nation table itself — no file access — so equality
    * proves the write+scan round-trip byte-lossless end to end. */
  private val ingestBinary: QFn = (s, d) => {
    // rename-safe: the read keys on the file BASENAME, never the path
    val base = ScratchParquet.ensureDir("binary", d,
        Tables.fingerprint(d, "nation")) { tmp =>
      new java.io.File(s"$tmp/files").mkdirs()
      Tables.nation(s, d)
        .select(col("n_nationkey").cast(LongType), col("n_name"))
        .collect()  // |nation| = 25 rows: fixture synthesis, not a data path
        .foreach { r =>
          val k = r.getLong(0)
          val payload = (s"${r.getString(1)}|$k|" * (k.toInt + 1))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp/files/nation_$k.bin"),
            payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    s.read.format("binaryFile").load(s"$base/files")
      .select(
        regexp_extract(element_at(split(col("path"), "/"), -1),
          "nation_([0-9]+)\\.bin", 1).cast(LongType).as("n_nationkey"),
        col("length").as("n_bytes"),
        md5(col("content")).as("digest"))
      .orderBy(col("n_nationkey"))
  }

  val queries: Seq[(String, QFn)] = Seq(
    "scan_parquet" -> scanParquet,
    "scan_manifest" -> scanManifest,
    "sink_manifest_append" -> sinkManifestAppend,
    "scan_time_travel" -> scanTimeTravel,
    "scan_delete_merge" -> scanDeleteMerge,
    "ingest_binary" -> ingestBinary,
    "ingest_xml" -> ingestXml,
    "ingest_avro" -> ingestAvro,
    "sink_zorder" -> sinkZorder,
    "scan_pruned" -> scanPruned,
    "scan_dpp" -> scanDpp,
    "ingest_csv" -> ingestCsv,
    "ingest_jsonl" -> ingestJsonl,
    "ingest_text" -> ingestText,
    "ingest_fixed_width" -> ingestFixedWidth,
    "ingest_merge_schema" -> ingestMergeSchema,
    "ingest_incremental" -> ingestIncremental,
    "ingest_cdc_scd2" -> ingestCdcScd2,
    "ingest_corrupt" -> ingestCorrupt,
    "ingest_orc" -> ingestOrc,
    "sink_compact" -> sinkCompact,
    "sink_vacuum" -> sinkVacuum,
    "scan_file_metadata" -> scanFileMetadata,
    "sink_partitioned" -> sinkPartitioned,
    "sink_bucketed" -> sinkBucketed,
    "sink_sorted" -> sinkSorted,
    "sink_zstd" -> sinkZstd,
  )

  val oracles: Seq[(String, String)] = Seq(
    "scan_file_metadata" ->
      """SELECT CAST(l_orderkey % 8 AS BIGINT) AS pk,
                count(*) AS n_rows,
                CAST(1 AS BIGINT) AS n_files,
                CAST(0 AS BIGINT) AS min_ri,
                count(*) AS rows_by_index
         FROM lineitem
         GROUP BY CAST(l_orderkey % 8 AS BIGINT)
         ORDER BY pk ASC NULLS FIRST""",
    "sink_vacuum" ->
      """WITH u AS (
           SELECT l_orderkey, l_quantity FROM lineitem
           WHERE l_orderkey % 7 = 0 OR l_orderkey % 7 = 3),
         a AS (
           SELECT count(*) AS n, count(DISTINCT l_orderkey) AS n_orders,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                    AS sum_qty
           FROM u)
         SELECT 'after' AS phase, n, n_orders, sum_qty FROM a
         UNION ALL
         SELECT 'before' AS phase, n, n_orders, sum_qty FROM a
         ORDER BY phase ASC NULLS FIRST""",
    "scan_delete_merge" ->
      """WITH comb AS (
           SELECT l_orderkey, l_quantity FROM lineitem
           WHERE l_orderkey >= 1000 AND l_orderkey <= 5000
           UNION ALL
           SELECT l_orderkey, l_quantity FROM lineitem
           WHERE l_orderkey % 97 = 0
             AND l_orderkey >= 1000 AND l_orderkey <= 5000),
         v1 AS (
           SELECT CAST(1 AS BIGINT) AS snapshot, count(*) AS n,
                  count(DISTINCT l_orderkey) AS n_orders,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                    AS sum_qty
           FROM comb),
         v2 AS (
           SELECT CAST(2 AS BIGINT) AS snapshot, count(*) AS n,
                  count(DISTINCT l_orderkey) AS n_orders,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                    AS sum_qty
           FROM comb WHERE l_orderkey % 101 <> 0)
         SELECT * FROM v1 UNION ALL SELECT * FROM v2
         ORDER BY snapshot ASC NULLS FIRST""",
    "scan_time_travel" ->
      """WITH slice AS (
           SELECT l_orderkey, l_quantity FROM lineitem
           WHERE l_orderkey >= 1000 AND l_orderkey <= 5000),
         v0 AS (
           SELECT CAST(0 AS BIGINT) AS snapshot, count(*) AS n,
                  count(DISTINCT l_orderkey) AS n_orders,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                    AS sum_qty
           FROM slice),
         v1 AS (
           SELECT CAST(1 AS BIGINT) AS snapshot, count(*) AS n,
                  count(DISTINCT l_orderkey) AS n_orders,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                    AS sum_qty
           FROM (SELECT * FROM slice
                 UNION ALL
                 SELECT l_orderkey, l_quantity FROM slice
                 WHERE l_orderkey % 97 = 0) c)
         SELECT * FROM v0 UNION ALL SELECT * FROM v1
         ORDER BY snapshot ASC NULLS FIRST""",
    "ingest_binary" ->
      """WITH p AS (
           SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
                  repeat(n_name || '|' || CAST(n_nationkey AS VARCHAR) || '|',
                         n_nationkey + 1) AS payload
           FROM nation)
         SELECT n_nationkey,
                CAST(strlen(payload) AS BIGINT) AS n_bytes,
                md5(payload) AS digest
         FROM p ORDER BY n_nationkey ASC NULLS FIRST""",
    "ingest_xml" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         ORDER BY n_nationkey ASC NULLS FIRST""",
    "ingest_avro" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer
         ORDER BY c_custkey ASC NULLS FIRST""",
    "sink_manifest_append" ->
      """WITH comb AS (
           SELECT l_orderkey, l_quantity FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey % 97 = 0)
         SELECT count(*) AS n,
                count(DISTINCT l_orderkey) AS n_orders,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                  AS sum_qty
         FROM comb
         WHERE l_orderkey >= 1000 AND l_orderkey <= 5000""",
    "scan_manifest" ->
      """SELECT count(*) AS n,
                count(DISTINCT l_orderkey) AS n_orders,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                  AS sum_qty
         FROM lineitem
         WHERE l_orderkey >= 1000 AND l_orderkey <= 5000""",
    "sink_zorder" ->
      s"""WITH hi AS (SELECT max(l_partkey) + 1 AS hp, max(l_suppkey) + 1 AS hs
                      FROM lineitem),
            z AS (SELECT l_partkey, l_suppkey, l_quantity,
                         ${zValSql(zNormSql("l_partkey", "hp", "//"),
                                   zNormSql("l_suppkey", "hs", "//"),
                                   zDuckShl)} AS zval
                  FROM lineitem CROSS JOIN hi)
         SELECT zval // 16777216 AS zbucket, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
                  AS sum_qty
         FROM z
         WHERE l_partkey < 1024 AND l_suppkey < 64
         GROUP BY zbucket
         ORDER BY zbucket ASC NULLS FIRST""",
    "ingest_fixed_width" ->
      """WITH rec AS (
           SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0')
                  || o_orderstatus
                  || lpad(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 12, '0')
                  || rpad(o_orderpriority, 15, ' ') AS v
           FROM orders)
         SELECT CAST(substr(v, 1, 10) AS BIGINT) AS o_orderkey,
                substr(v, 11, 1) AS status,
                CAST(substr(v, 12, 12) AS BIGINT) / CAST(100 AS BIGINT) AS price,
                rtrim(substr(v, 24, 15)) AS priority
         FROM rec ORDER BY o_orderkey ASC NULLS FIRST""",
    "scan_parquet" ->
      "SELECT count(*) AS n_rows FROM lineitem",
    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST""",
    "scan_dpp" ->
      """SELECT o_orderstatus,
                count(*) AS n_orders,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderstatus ORDER BY o_orderstatus ASC NULLS FIRST""",
    "ingest_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey ASC NULLS FIRST",
    "ingest_jsonl" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey ASC NULLS FIRST",
    "ingest_text" ->
      """SELECT count(*) AS n_lines,
                CAST(sum(length(text)) AS BIGINT) AS total_chars,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         FROM documents
         WHERE text IS NOT NULL AND NOT contains(text, chr(10))""",
    "ingest_merge_schema" ->
      """SELECT 'a' AS gen, count(*) AS n_rows, CAST(0 AS BIGINT) AS n_with_len FROM region
         UNION ALL
         SELECT 'b' AS gen, count(*) AS n_rows, count(*) AS n_with_len FROM region
         ORDER BY gen ASC NULLS FIRST""",
    "ingest_orc" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
         ORDER BY s_suppkey ASC NULLS FIRST""",
    "ingest_incremental" ->
      """WITH cur AS (
           SELECT c_custkey, c_nationkey,
                  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
                       ELSE c_acctbal END AS bal,
                  CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END AS upd
           FROM customer)
         SELECT c_nationkey, count(*) AS n_customers,
                CAST(sum(upd) AS BIGINT) AS n_updated,
                round(CAST(sum(CAST(bal AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_bal
         FROM cur GROUP BY c_nationkey
         ORDER BY c_nationkey ASC NULLS FIRST""",
    "ingest_corrupt" ->
      """SELECT CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
                CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
                CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_regionkey ELSE 0 END) AS BIGINT) AS sum_region,
                CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropmode
         FROM nation""",
    "ingest_cdc_scd2" ->
      """WITH gens AS (
           SELECT c_custkey, 0 AS gen, c_acctbal FROM customer
           UNION ALL
           SELECT c_custkey, 1 AS gen, c_acctbal + 1000.0 AS c_acctbal FROM customer
           WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey, 2 AS gen, c_acctbal + 1500.0 AS c_acctbal FROM customer
           WHERE c_custkey % 20 = 0)
         SELECT c_custkey, gen, c_acctbal,
                lead(gen) OVER (PARTITION BY c_custkey ORDER BY gen) AS valid_to_gen,
                (lead(gen) OVER (PARTITION BY c_custkey ORDER BY gen) IS NULL) AS is_current
         FROM gens WHERE c_custkey % 10 = 0
         ORDER BY c_custkey ASC NULLS FIRST, gen ASC NULLS FIRST""",
    "sink_compact" ->
      """SELECT l_returnflag, count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_price
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag ASC NULLS FIRST""",
    "sink_sorted" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
         GROUP BY 1 ORDER BY month ASC NULLS FIRST""",
    "sink_zstd" ->
      """SELECT l_orderkey % 10 AS bucket, count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_price
         FROM lineitem GROUP BY 1 ORDER BY bucket ASC NULLS FIRST""",
    "sink_partitioned" ->
      """SELECT o_orderstatus, count(*) AS n_orders FROM orders
         GROUP BY o_orderstatus ORDER BY o_orderstatus ASC NULLS FIRST""",
    "sink_bucketed" ->
      s"""SELECT o_orderpriority,
                ${Joins.revenueSumSql} AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority ASC NULLS FIRST""",
  )
}
