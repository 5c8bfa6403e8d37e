package graft.tools

/** Dump the CURRENT registry's oracle_sql.json without running any
  * query (the map is static — no Spark session needed). Lets a long
  * Verify run's outputs be re-compared after oracle-mirror-only edits
  * without re-running the Spark side.
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val Array(outPath) = args
    graft.Verify.writeOracleSql(outPath, graft.SparkEntry.oracleSql)
    println(s"[dump] ${graft.SparkEntry.oracleSql.size} oracle entries -> $outPath")
  }
}
