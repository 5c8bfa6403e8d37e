package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with row-level DML's rewrite threshold
    * (`GraftStore.AutoRewriteFractionConf`, default 0.5) pinned on the
    * shared session. [[RewriteAll]] is at or below 1/(rows per file) for
    * every file, so each file with a match rewrites its kept rows;
    * [[DvOnly]] binds deletion vectors except where every row of a file
    * matched.
    */
  def withRewriteFraction[A](fraction: Double)(body: => A): A = {
    val conf = graft.sources.GraftStore.AutoRewriteFractionConf
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, fraction.toString)
    try body
    finally prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
  val RewriteAll: Double = Double.MinPositiveValue
  val DvOnly: Double = 1.0
}
