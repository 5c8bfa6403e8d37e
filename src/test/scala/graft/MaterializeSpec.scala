package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Materialize

/** The release scope: every frame cached through it leaves the session
  * cache when the body exits, by return or by exception.
  */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark.spark

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("a body that caches two frames and throws leaves the cache empty") {
    spark.catalog.clearCache()
    val e = intercept[IllegalStateException] {
      Materialize.scoped { m =>
        val a = m.cache(spark.range(100).toDF("id"))
        m.cache(a.selectExpr("id * 2 AS x")).count()
        assert(!cacheEmpty)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(cacheEmpty)
  }

  test("a body that returns leaves the cache empty; its checkpointed result still collects") {
    spark.catalog.clearCache()
    val res = Materialize.scoped { m =>
      val a = m.cache(spark.range(10).toDF("id"))
      val b = m.cache(a.selectExpr("id", "id * id AS sq"))
      b.filter("id % 2 = 0").localCheckpoint(true)
    }
    assert(cacheEmpty)
    assert(res.orderBy("id").collect().map(_.getLong(1)).toSeq == Seq(0L, 4L, 16L, 36L, 64L))
  }
}
