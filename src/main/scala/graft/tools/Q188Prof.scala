package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Materialize

/** Dev-only (r17): stepwise wall-clock attribution for q188's internal
  * stages — each piece timed to a count() with the upstream pieces
  * materialized first, so a step's number is its own marginal cost.
  * Usage: runMain graft.tools.Q188Prof [sfDir]
  */
object Q188Prof {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val s = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    import graft.curation.CurationQueries
    import graft.dedup.DedupQueries

    def t[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[q188prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    // one full warm run (codegen + JIT)
    graft.Registry.queries("q188_pipeline_ledger")(s, d).count()
    s.catalog.clearCache()
    println("[q188prof] warm done")

    Materialize.scoped { m =>
      val docs = Tables.documents(s, d)
      val feats0 = docs
        .select(col("doc_id"), col("lang"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("w")).as("n_distinct"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr("n_distinct * 1000 div n_tokens").as("quality_fp"))
      val feats = m.cache(feats0)
      t("feats cache (explode+gby)") { feats.count() }

      val gate = CurationQueries.q113(s, d).filter(col("keep")).select("doc_id")
      t("q113 gate alone") { gate.count() }

      val s1 = m.cache(feats.join(gate, "doc_id"))
      t("s1 cache (join)") { s1.count() }

      val s1tok = docs
        .join(s1.select("doc_id"), "doc_id")
        .select(col("doc_id"), col("lang"),
          DedupQueries.hashedToks(col("text")).as("arr"))
      t("s1tok tokenize only") {
        s1tok.write.format("noop").mode("overwrite").save()
      }

      val pairs = DedupQueries
        .jaccardPairs(s1tok, 9, 10, DedupQueries.BlockCap,
          DedupQueries.langStatsFrame(s, d))
        .select("id_a", "id_b").transform(m.cache)
      t("pairs cache (selfjoin+verify)") { pairs.count() }

      val s2raw = s1.join(
        pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      val s2 = t("s2 checkpoint") { s2raw.localCheckpoint(true) }

      val contam = CurationQueries.contaminationBits(s, d)
        .filter(col("contaminated")).select("doc_id")
      t("contaminationBits alone") { contam.count() }

      val contamHop = pairs
        .join(contam.select(col("doc_id").as("id_b")), "id_b")
        .select(col("id_a").as("doc_id"))
      val bench = docs.filter(col("source") === "src0").select("doc_id")
      val drop3raw = contam.unionAll(contamHop).unionAll(bench).distinct()
      val drop3 = t("drop3 checkpoint") { drop3raw.localCheckpoint(true) }
      val s3raw = s2.join(drop3, Seq("doc_id"), "left_anti")
      val s3 = t("s3 checkpoint") { s3raw.localCheckpoint(true) }

      val budget = broadcast(
        s3.groupBy("lang").agg(expr("sum(n_tokens) div 2").as("budget")))
      val wSel = Window.partitionBy("lang")
        .orderBy(desc("quality_fp"), asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val s4raw = s3
        .withColumn("cum_tokens", sum("n_tokens").over(wSel))
        .join(budget, "lang")
        .filter(col("cum_tokens") <= col("budget"))
        .select("doc_id", "lang", "n_tokens")
      val s4 = t("s4 checkpoint (selection)") { s4raw.localCheckpoint(true) }

      t("full q188 second pass") {
        graft.Registry.queries("q188_pipeline_ledger")(s, d).count()
      }
    }
    s.stop()
  }
}
