package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one local session every main runs on, and the one timed execution
  * of a registry query.
  */
object LocalSpark {

  /** Session width: `SPARK_GRAFT_CPUS` if set, else the host's cores. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with as many shuffle partitions, UTC session time and
    * no UI.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Timed(seconds: Double, rows: Long)

  /** Builds `q` and writes its full result to the `noop` sink, counting
    * rows as they are written. A `count()` would let Catalyst prune the
    * result's computed columns and sort, and time a different plan.
    */
  def timed(spark: SparkSession, q: (SparkSession, String) => DataFrame,
      sfDir: String): Timed = {
    val t0 = System.nanoTime()
    val obs = Observation()
    q(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    val rows = obs.get("rows").asInstanceOf[Long]
    Timed((System.nanoTime() - t0) / 1e9, rows)
  }
}
