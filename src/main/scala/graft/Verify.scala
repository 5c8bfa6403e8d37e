package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...]
  * The optional list restricts both the results and the oracle file to
  * those queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = LocalSpark.session()
    run(spark, args(0), args(1), only)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    def wanted(name: String) = only.forall(_(name))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => wanted(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // registry queries release their own caches (PlanAuditSpec pins
      // that); the clear only keeps each query's run independent of the
      // ones before it, the same per-query isolation Bench applies
      finally spark.catalog.clearCache()
    }
    writeOracleSql(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter(q => wanted(q._1)))
  }

  /** The driver-contract oracle file: one JSON object, query name → SQL. */
  def writeOracleSql(path: String, sql: Map[String, String]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }
}
