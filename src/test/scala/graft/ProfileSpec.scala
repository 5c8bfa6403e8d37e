package graft

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("Profile counts rows and jobs; a streaming query's batches report addBatch") {
    val batch = tools.Profile.run(spark, "q11_filter_project", sf)
    val stream = tools.Profile.run(spark, "q69_stream_stream_join", sf)
    Seq(batch, stream).foreach { r =>
      assert(r.rows > 0 && r.jobs > 0, s"${r.name}: ${r.rows} rows, ${r.jobs} jobs")
    }
    assert(stream.batches.exists(_.durationMs.contains("addBatch")), stream.batches)
  }
}
