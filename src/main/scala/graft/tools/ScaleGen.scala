package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale harness: materialize an N× copy of a testdata SF dir
  * (ids shifted per copy so rows stay distinct and foreign keys stay
  * coherent) laid out like a testdata sf dir, so Verify/Profile can
  * measure correctness and cost one decade past the largest provided SF
  * (VERDICT r8 task 7 — the sf1-volume oracle gate).
  *
  * Key-shift scheme per copy c: every table's primary key k becomes
  * `k + c·(max(k)+1)`, and every foreign key shifts by its REFERENCED
  * table's stride — so orders still join their customers, lineitems
  * their orders/parts/suppliers, events their users. nation/region stay
  * fixed (the TPC-H convention: dimension cardinality is
  * scale-independent).
  *
  * Embedding labels are remapped to `label * n + copy`: the cluster COUNT
  * grows with the corpus while cluster SIZE stays constant — the IVF
  * contract (q48/q141 docs) that keeps per-cluster pairwise work bounded;
  * scaling labels any other way measures the approximation's documented
  * failure mode, not the engine.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> <copies> [docsOnly]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val n = args(2).toInt
    val docsOnly = args.length > 3 && args(3) == "docsOnly"
    val spark = graft.LocalSpark.session()
    val copies = spark.range(n).select(col("id").as("copy"))

    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(key)).head.getLong(0) + 1

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dStride = strideOf(docs, "doc_id")
    docs.crossJoin(copies)
      .select((col("doc_id") + col("copy") * dStride).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val vStride = strideOf(embs, "vec_id")
    embs.crossJoin(copies)
      .select((col("vec_id") + col("copy") * vStride).as("vec_id"),
        col("embedding"),
        (col("label") * n + col("copy")).cast("int").as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (docsOnly) {
      // corpus-only decade dir: relational tables pass through unchanged
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
    } else {
      for (t <- Seq("region", "nation"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      val cust = spark.read.parquet(s"$src/customer.parquet")
      val supp = spark.read.parquet(s"$src/supplier.parquet")
      val part = spark.read.parquet(s"$src/part.parquet")
      val ord = spark.read.parquet(s"$src/orders.parquet")
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val ev = spark.read.parquet(s"$src/events.parquet")
      val (cS, sS, pS, oS) = (strideOf(cust, "c_custkey"),
        strideOf(supp, "s_suppkey"), strideOf(part, "p_partkey"),
        strideOf(ord, "o_orderkey"))
      val eS = strideOf(ev, "event_id")
      val uS = strideOf(ev, "user_id")
      def scaled(df: DataFrame, shifts: (String, Long)*): DataFrame = {
        val shifted = shifts.foldLeft(df.crossJoin(copies)) {
          case (acc, (k, stride)) =>
            acc.withColumn(k, col(k) + col("copy") * stride)
        }
        shifted.drop("copy").select(df.columns.map(col).toSeq: _*)
      }
      scaled(cust, "c_custkey" -> cS).repartition(32)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      scaled(supp, "s_suppkey" -> sS).repartition(32)
        .write.mode("overwrite").parquet(s"$out/supplier.parquet")
      scaled(part, "p_partkey" -> pS).repartition(32)
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      scaled(ord, "o_orderkey" -> oS, "o_custkey" -> cS).repartition(32)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      scaled(li, "l_orderkey" -> oS, "l_partkey" -> pS, "l_suppkey" -> sS)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      scaled(ev, "event_id" -> eS, "user_id" -> uS).repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    println(s"[scalegen] wrote ${n}x $src -> $out" +
      (if (docsOnly) " (docsOnly)" else " (all tables)"))
    spark.stop()
  }
}
