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
  *  - no query may leave a frame in the session cache after it returns;
  *  - no query may change the session's conf or its temporary tables
  *    (views, memory sinks): a query that owns any of them runs on its
  *    own session clone.
  *
  * A query that throws is an offender too.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  /** What one query did to the plans it ran and the session it ran on. */
  private final case class Findings(cartesian: Boolean, cached: Boolean,
      sessionChanged: Option[String])

  private def sessionState(): (Map[String, String], Set[String]) =
    (spark.conf.getAll,
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet)

  /** Each query's problems: Left(exception) if it threw, else its
    * findings.
    */
  private lazy val audit: Seq[(String, Either[Throwable, Findings])] = {
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache() // judge the registry, not earlier suites
    Registry.all.map { q =>
      val (conf0, views0) = sessionState()
      val result =
        try {
          val run = ExecutedPlans.capture(spark) {
            val df = q.fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            df
          }
          val (conf1, views1) = sessionState()
          val confKeys = (conf0.keySet ++ conf1.keySet).filter(k => conf0.get(k) != conf1.get(k))
          val views = (views0 diff views1) ++ (views1 diff views0)
          Right(Findings(run.plans.exists(_.toString.contains("CartesianProduct")),
            !cacheManager.isEmpty,
            Option.when(confKeys.nonEmpty || views.nonEmpty)(
              s"changed conf ${confKeys.toSeq.sorted.mkString("[", ", ", "]")}, " +
                s"temporary tables ${views.toSeq.sorted.mkString("[", ", ", "]")}")))
        } catch { case e: Throwable => Left(e) }
      // each query is judged on its own: drop what an offender left behind
      spark.catalog.clearCache()
      q.name -> result
    }
  }

  private def offenders(problem: Findings => Option[String]): Seq[String] =
    audit.flatMap {
      case (name, Left(e)) => Some(s"$name: threw $e")
      case (name, Right(f)) => problem(f).map(p => s"$name: $p")
    }

  test("no query's physical plan contains a CartesianProduct") {
    val found = offenders(f => Option.when(f.cartesian)("CartesianProduct"))
    assert(found.isEmpty, found.mkString("offenders:\n", "\n", ""))
  }

  test("no registry query leaves a frame in the session cache") {
    val found = offenders(f => Option.when(f.cached)("left a cached frame"))
    assert(found.isEmpty, found.mkString("offenders:\n", "\n", ""))
  }

  test("no registry query changes the caller's session conf or temporary tables") {
    val found = offenders(_.sessionChanged)
    assert(found.isEmpty, found.mkString("offenders:\n", "\n", ""))
  }
}
