package graft

/** Ground truth for scripts/counts.sh: prints the live query/oracle
  * counts in one greppable line. No SparkSession — the maps are plain
  * Scala values. */
object Counts {
  def main(args: Array[String]): Unit =
    println(s"GRAFT_COUNTS queries=${SparkEntry.queries.size} " +
      s"oracled=${SparkEntry.oracleSql.size}")
}

