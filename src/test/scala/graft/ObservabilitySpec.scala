package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipeline.StreamEvent
import graft.util.TempDirs

/** Operability checks beyond query results: checkpoint-restart recovery
  * (the property that makes a 100 TB streaming job survive executor and
  * driver loss) and in-plan audit metrics via `Dataset.observe` (free
  * row/sum counters a pipeline exports without a second pass).
  */
class ObservabilitySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ev(id: Long, user: Long, v: Double) =
    StreamEvent(id, 1700000000L + id, user, "view", v, "{}")

  test("streaming agg state survives a stop/restart from checkpoint") {
    val stream = MemoryStream[StreamEvent](spark)
    val agg = stream.toDF()
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("s"))
    val ckpt = TempDirs.create("ckpt_restart_spec")

    // run 1: two users, then stop
    stream.addData(ev(1, 1, 1.0), ev(2, 1, 2.0), ev(3, 2, 4.0))
    val q1 = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("restart_s1").start()
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()

    // run 2: same checkpoint, overlapping keys — counts must RESUME,
    // not restart from zero
    stream.addData(ev(4, 1, 8.0), ev(5, 3, 16.0))
    val q2 = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("restart_s2").start()
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()

    val got = spark.table("restart_s2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 11.0), (2L, 1L, 4.0), (3L, 1L, 16.0)))
    TempDirs.delete(ckpt)
    spark.catalog.dropTempView("restart_s1")
    spark.catalog.dropTempView("restart_s2")
  }

  test("Dataset.observe exports audit metrics from the single pass") {
    val obs = Observation("audit")
    val df = Tables.lineitem(spark, TestSpark.sf)
      .observe(obs, count(lit(1)).as("rows"),
        sum(when(col("l_quantity") > 25, 1).otherwise(0)).as("big_qty"))
      .filter(col("l_quantity") > 25)
    val filtered = df.count()
    val m = obs.get
    // the observation saw EVERY scanned row (pre-filter), one pass
    val total = Tables.lineitem(spark, TestSpark.sf).count()
    assert(m("rows") == total)
    assert(m("big_qty") == filtered)
  }
}
