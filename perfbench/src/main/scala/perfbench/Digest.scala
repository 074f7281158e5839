package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digest: row count plus the sums of the low
  * and high 32-bit halves of each row's xxhash64 (sums, unlike XOR, see
  * duplicate rows; halves keep the sums far from overflow). Floating
  * values are rounded to float precision before hashing, so a last-bit
  * difference from a different summation order does not change the
  * digest; -0.0 hashes as 0.0. Maps hash as their entries sorted by key. */
object Digest {
  final case class D(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:$lo:$hi"
  }

  private def needs(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType => true
    case ArrayType(e, _) => needs(e)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => c.try_cast(FloatType) + lit(0.0f)
    case ArrayType(e, _) if needs(e) => transform(c, x => norm(x, e))
    case s: StructType if needs(s) =>
      when(c.isNull, lit(null).cast(StructType(s.fields.map(f =>
          f.copy(dataType = normType(f.dataType))))))
        .otherwise(struct(s.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      val e = StructType(Seq(StructField("key", k), StructField("value", v)))
      norm(array_sort(map_entries(c)), ArrayType(e))
    case _ => c
  }

  private def normType(t: DataType): DataType = t match {
    case FloatType | DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(normType(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = normType(f.dataType))))
    case MapType(k, v, _) =>
      ArrayType(StructType(Seq(StructField("key", normType(k)), StructField("value", normType(v)))))
    case other => other
  }

  /** Positional column names, so outputs with duplicate or dotted
    * names hash like any other. */
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  private def aggs(h: Column): (Column, Seq[Column]) =
    (count(lit(1)).as("n"),
      Seq(sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"), sum(shiftrightunsigned(h, 32)).as("hi")))

  private def d(n: Any, lo: Any, hi: Any): D = {
    def l(x: Any) = if (x == null) 0L else x.asInstanceOf[Number].longValue()
    D(l(n), l(lo), l(hi))
  }

  /** Digest computed by an aggregate over `df` (one extra job). */
  def of(df0: DataFrame): D = {
    val df = positional(df0)
    val (first, rest) = aggs(rowHash(df))
    val r = df.agg(first, rest: _*).head()
    d(r.get(0), r.get(1), r.get(2))
  }

  /** `df` with its digest observed on the way through, so the one action
    * the caller runs also yields the digest (no extra job). Columns are
    * renamed by position; the observation adds none. */
  def observed(df0: DataFrame): (DataFrame, Observation) = {
    val df = positional(df0)
    val obs = Observation("perfbench_digest")
    val (first, rest) = aggs(rowHash(df))
    (df.observe(obs, first, rest: _*), obs)
  }

  def fromObservation(obs: Observation): D = {
    val m = obs.get
    d(m("n"), m.getOrElse("lo", null), m.getOrElse("hi", null))
  }

  def load(f: java.io.File): Map[String, D] = {
    require(f.isFile, s"recorded digests missing: $f")
    scala.io.Source.fromFile(f).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val Array(k, n, lo, hi) = l.split("\t")
        k -> D(n.toLong, lo.toLong, hi.toLong)
      }.toMap
  }
}

/** Records the digests `query-suite` checks against, from a `graft.Verify`
  * dump (one parquet directory per query) whose outputs passed
  * `scripts/parity.py`:
  * {{{
  *   Record <verify-dump-dir> perfbench/digests/sf0.01.tsv
  * }}}
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val work = new java.io.File(System.getProperty("java.io.tmpdir"), "perfbench-record")
    val spark = Main.session(4, work)
    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
    val lines = keys.map { k =>
      val dd = Digest.of(spark.read.parquet(s"$dump/$k"))
      s"$k\t${dd.rows}\t${dd.lo}\t${dd.hi}"
    }
    java.nio.file.Files.writeString(new java.io.File(out).toPath,
      ("# query\trows\tsum_lo32\tsum_hi32 of xxhash64 per row (perfbench.Digest), " +
        "from a graft.Verify dump that passed scripts/parity.py\n") +
        lines.mkString("", "\n", "\n"))
    spark.stop()
    Files.rm(work)
  }
}
