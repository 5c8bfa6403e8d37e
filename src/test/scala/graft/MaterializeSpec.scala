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

  test("Tables.table re-infers the schema of a table rewritten at the same path") {
    val dir = graft.util.TempDirs.create("memo_rewrite_")
    spark.range(3).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s", "id * 3 AS w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "s", "w"), "read with a stale schema")
    assert(back.selectExpr("sum(w)").head().getLong(0) == 9L)
  }
}
