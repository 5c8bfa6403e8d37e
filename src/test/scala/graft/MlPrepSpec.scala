package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level invariants for the round-3 ML-prep operators (q115-q117,
  * q121); the DuckDB oracle is the parity gate.
  */
class MlPrepSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = TestSpark.sf

  test("q115 feature hashing: buckets in range, weights bounded by token count") {
    val out = Registry.queries("q115_feature_hash")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val b = r.getLong(1); val w = r.getLong(2)
      assert(b >= 0 && b < 32)
      assert(w != 0)
    }
    // sum of |weight| per doc ≤ token count of that doc (signs can cancel)
    val perDoc = out.groupBy(_.getLong(0)).view.mapValues(_.map(r => math.abs(r.getLong(2))).sum)
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perDoc.foreach { case (id, s) => assert(s <= toks(id)) }
  }

  test("q116 one-hot: exactly one indicator set per row") {
    Registry.queries("q116_onehot")(spark, sf).collect().foreach { r =>
      val ones = (1 to 5).map(r.getInt).sum
      assert(ones == 1)
    }
  }

  test("q117 robust scaling: ~half of each group scales non-positive (median split)") {
    val out = Registry.queries("q117_robust_scale")(spark, sf)
    val byType = out.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("scaled") <= 0, 1).otherwise(0)).as("nonpos"))
      .collect()
    byType.foreach { r =>
      val n = r.getLong(1); val np = r.getLong(2)
      // rank-based median ⇒ between 25% and 75% of a sample sits at/below it
      assert(np > n / 4 && np < 3 * n / 4, s"${r.getString(0)}: $np of $n")
    }
  }

  test("q121 k-fold: folds partition the orders table") {
    val out = Registry.queries("q121_kfold")(spark, sf).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val total = out.map(_.getLong(1)).sum
    assert(total == Tables.orders(spark, sf).count())
  }
}
