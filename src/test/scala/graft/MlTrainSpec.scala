package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit invariants for the ML training operators (q136 SMOTE, q137 hinge
  * trainer); exact cross-engine parity is the DuckDB oracle's job.
  */
class MlTrainSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = TestSpark.sf

  test("q137 hinge trainer: loss strictly decreases every iteration") {
    val rows = Registry.queries("q137_hinge_sgd")(spark, sf)
      .orderBy("iter").collect()
    assert(rows.length == 6)
    val losses = rows.map(_.getLong(1))
    losses.sliding(2).foreach { case Array(a, b) =>
      assert(b < a, s"loss did not decrease: ${losses.mkString(", ")}")
    }
    // weights actually moved off the origin
    assert(rows.last.toSeq.drop(2).asInstanceOf[Seq[Long]].exists(_ != 0L))
  }

  test("q138 eval: held-out accuracy beats the always-majority baseline") {
    val m = Registry.queries("q138_model_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val total = m.values.sum.toDouble
    val correct = m.collect { case ((y, p), n) if y == p => n }.sum.toDouble
    val majority = Seq(1L, -1L)
      .map(y => m.collect { case ((`y`, _), n) => n }.sum).max.toDouble
    assert(total > 0)
    assert(correct / total > majority / total + 0.05,
      s"accuracy ${correct / total} must clearly beat majority ${majority / total}")
    assert(correct / total > 0.6, s"accuracy ${correct / total} too low")
  }

  test("q139 AUC: held-out ranking quality is well above chance, ratio consistent") {
    val r = Registry.queries("q139_auc")(spark, sf).collect()(0)
    val (np, nn, num, den, auc) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(np > 0 && nn > 0)
    assert(den == 2 * np * nn)
    assert(math.abs(auc - num.toDouble / den) < 1e-15)
    assert(auc > 0.7, s"AUC $auc too close to chance")
  }

  test("q136 SMOTE: synthesis exactly balances every class to the majority size") {
    val orig = Tables.embeddings(spark, sf).groupBy("label").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxn = orig.values.max
    val synth = Registry.queries("q136_smote_oversample")(spark, sf)
      .groupBy("label").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    orig.foreach { case (lbl, n) =>
      assert(n + synth.getOrElse(lbl, 0L) == maxn,
        s"label $lbl: $n orig + ${synth.getOrElse(lbl, 0L)} synth != $maxn")
    }
    // majority class synthesizes nothing
    assert(synth.keySet.forall(l => orig(l) < maxn))
  }

  test("q136 SMOTE: synthesized points lie on the segment between endpoints") {
    val out = Registry.queries("q136_smote_oversample")(spark, sf).limit(50).collect()
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    out.foreach { r =>
      val (src, nbr) = (r.getLong(1), r.getLong(2))
      val zs = Seq(r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      zs.zipWithIndex.foreach { case (z, j) =>
        val (x, y) = (emb(src)(j).toDouble, emb(nbr)(j).toDouble)
        val (lo, hi) = (math.min(x, y), math.max(x, y))
        assert(z >= lo - 1e-9 && z <= hi + 1e-9,
          s"z$j=$z outside [$lo, $hi] for src=$src nbr=$nbr")
      }
    }
  }

  test("q168 slices recompose exactly to q138's confusion matrix") {
    val slices = Registry.queries("q168_sliced_eval")(spark, sf).collect()
    val cm = Registry.queries("q138_model_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val total = cm.values.sum
    val correct = cm.getOrElse((1L, 1L), 0L) + cm.getOrElse((-1L, -1L), 0L)
    assert(slices.map(_.getLong(1)).sum == total)
    assert(slices.map(_.getLong(2)).sum == correct)
    slices.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1))
      assert(r.getLong(2) <= r.getLong(1))
    }
    assert(slices.length > 1, "expected more than one priority slice")
  }

  test("q169 calibration: positive rate rises with the margin bin") {
    val bins = Registry.queries("q169_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(bins.length >= 2)
    val cm = Registry.queries("q138_model_eval")(spark, sf).collect()
    assert(bins.map(_._2).sum == cm.map(_.getLong(2)).sum) // full held-out cover
    val bottom = bins.head._4 / 10000.0
    val top = bins.last._4 / 10000.0
    assert(top >= bottom + 0.3,
      s"calibration flat: bottom bin rate $bottom, top bin rate $top")
    bins.foreach(b => assert(b._3 <= b._2))
  }

  test("q205 NB: learns separable class vocabularies to perfect held-out accuracy") {
    import spark.implicits._
    // two classes with disjoint core vocabularies plus shared filler; the
    // %5==4 held-out docs follow the same generating rule, so a correct
    // multinomial NB must recover every label
    val vocabA = Seq("alpha", "ember", "quartz", "raven")
    val vocabB = Seq("delta", "willow", "onyx", "tern")
    val filler = Seq("the", "of", "and")
    val docs = (0L until 60L).map { i =>
      val cls = if (i % 2 == 0) "aa" else "bb"
      val core = if (i % 2 == 0) vocabA else vocabB
      val words = (0 until 12).map { j =>
        if (j % 3 == 2) filler(((i + j) % filler.length).toInt)
        else core(((i * 7 + j) % core.length).toInt)
      }
      (i, cls, words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val out = ml.MlTrainQueries.nbClassify(docs).collect()
    assert(out.length == 12) // 60/5 held out
    out.foreach { r =>
      assert(r.getBoolean(3), s"doc ${r.getLong(0)}: predicted ${r.getString(1)}, actual ${r.getString(2)}")
    }
  }

  test("q205 NB: unseen words fall back to smoothing, prior breaks pure-filler ties") {
    import spark.implicits._
    // class 'aa' has 3x the training docs of 'bb'; the held-out doc is one
    // unseen word, so its factor is the smoothed 1/(tot_c+V) for BOTH
    // classes and the argmax comes down to prior vs normalizer:
    // fplog(30)−fplog(66) > fplog(10)−fplog(26) — a crash or a
    // zero-probability shortcut on unseen words is the classic NB bug
    val docs = ((0L until 40L).map { i =>
      val cls = if (i % 4 == 3) "bb" else "aa"
      (i * 5, cls, s"w${i % 6} w${(i * 3) % 6}") // doc_id%5==0 → all train
    } :+ (9L, "aa", "zzz")).toDF("doc_id", "lang", "text")
    val out = ml.MlTrainQueries.nbClassify(docs).collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "aa")
  }

  test("q138 after orders.parquet is rewritten in place equals q138 on the rewritten data at a fresh path") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def copyDataset(to: String): Unit =
      new java.io.File(sf).listFiles().foreach(f =>
        Files.copy(f.toPath, Paths.get(to, f.getName)))
    def q138(d: String): Seq[String] =
      Registry.queries("q138_model_eval")(spark, d).collect().map(_.toString).toSeq.sorted
    val inPlace = graft.util.TempDirs.create("graft_memo_a_")
    val fresh = graft.util.TempDirs.create("graft_memo_b_")
    val staging = graft.util.TempDirs.create("graft_memo_orders_")
    try {
      copyDataset(inPlace)
      copyDataset(fresh)
      val full = q138(inPlace)
      spark.read.parquet(s"$sf/orders.parquet").filter(col("o_orderkey") % 3 =!= 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/o")
      val subset = new java.io.File(s"$staging/o").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Seq(inPlace, fresh).foreach(d =>
        Files.copy(subset, Paths.get(d, "orders.parquet"), StandardCopyOption.REPLACE_EXISTING))
      val rewritten = q138(inPlace)
      val expected = q138(fresh)
      assert(expected != full, "the subset must change q138's result")
      assert(rewritten == expected,
        "q138 replayed the memoized model of the orders.parquet it replaced")
    } finally Seq(inPlace, fresh, staging).foreach(graft.util.TempDirs.delete)
  }
}
