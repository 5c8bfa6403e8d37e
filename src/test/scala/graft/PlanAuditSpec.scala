package graft

import org.apache.spark.sql.graft.ExecutedPlans
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide audit of what every query actually runs. Each query's
  * body runs once and its result is consumed; the audit then checks the
  * final physical plan of every action the query executed (its interior
  * checkpoints and collects included) and the session cache:
  *
  *  - no plan may contain a non-broadcast CartesianProduct — the one plan
  *    shape that is always a scale bug (broadcast nested-loop joins
  *    against a bounded side are fine where they ARE the algorithm, e.g.
  *    the brute-force ANN baseline and the 1-row scalar attaches);
  *  - no query may leave a frame in the session cache after it returns.
  *
  * A query that throws is an offender too.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  /** Each query's problems: Left(exception) if it threw, else
    * Right((executed a CartesianProduct, left a cached frame)).
    */
  private lazy val audit: Seq[(String, Either[Throwable, (Boolean, Boolean)])] = {
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache() // judge the registry, not earlier suites
    Registry.all.map { q =>
      val result =
        try {
          val run = ExecutedPlans.capture(spark) {
            val df = q.fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            df
          }
          Right((run.plans.exists(_.toString.contains("CartesianProduct")),
            !cacheManager.isEmpty))
        } catch { case e: Throwable => Left(e) }
      // each query is judged on its own: drop what an offender left behind
      spark.catalog.clearCache()
      q.name -> result
    }
  }

  private def offenders(problem: ((Boolean, Boolean)) => Option[String]): Seq[String] =
    audit.flatMap {
      case (name, Left(e)) => Some(s"$name: threw $e")
      case (name, Right(flags)) => problem(flags).map(p => s"$name: $p")
    }

  test("no query's physical plan contains a CartesianProduct") {
    val found = offenders { case (cartesian, _) => Option.when(cartesian)("CartesianProduct") }
    assert(found.isEmpty, found.mkString("offenders:\n", "\n", ""))
  }

  test("no registry query leaves a frame in the session cache") {
    val found = offenders { case (_, cached) => Option.when(cached)("left a cached frame") }
    assert(found.isEmpty, found.mkString("offenders:\n", "\n", ""))
  }
}
