package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** ML data-preparation operators — the relational prep stages behind the
  * reference's ML path (PPTX slides 13-16: class rebalancing to equal
  * sizes, feature engineering, then an SGD classifier; the classifier
  * itself is out of a query engine's scope, the data prep is squarely in
  * it). Everything is deterministic hash/order arithmetic → fully oracled.
  */
object MlPrepQueries {

  /** Deterministic 80/10/10 train/val/test split: the split is a pure
    * function of the row key (hash-mod bucketing), so it is stable across
    * runs, cluster sizes, and re-partitioning — the property that makes a
    * split reproducible at 100 TB (a random() split is none of those).
    * Emits per-split per-label counts — the audit every training run logs.
    */
  private def q104(s: SparkSession, d: String): DataFrame = {
    // doc_id is reduced mod p before the multiply: id · 2654435761
    // overflows int64 for ids ≥ ~3.4e9 (Spark wraps, DuckDB raises) —
    // the q156 overflow guard, applied to every id-hash split site.
    val bucket = pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L, lit(100L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
  }

  private val q104Sql =
    """WITH assigned AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN ((doc_id % 1000000007) * 2654435761) % 100 < 80 THEN 'train'
      |         WHEN ((doc_id % 1000000007) * 2654435761) % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, lang, count(*) AS n, min(doc_id) AS first_doc
      |FROM assigned GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  /** Class rebalancing by downsampling (the relational side of the
    * reference's SMOTE step — equal samples per class, PPTX slide 13):
    * every label keeps exactly min-class-size rows, selected by hash rank
    * so the choice is deterministic and unbiased by storage order. The
    * per-label window ranks only within classes (parallel across labels);
    * the cap is a broadcast scalar.
    */
  private def q105(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val minClass = e.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(min("n").as("cap"))
    val w = Window.partitionBy("label")
      .orderBy(pmod(pmod(col("vec_id"), lit(1000000007L)) * 2654435761L,
        lit(1000000007L)), col("vec_id"))
    e.select(col("vec_id"), col("label"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(minClass))
      .filter(col("rk") <= col("cap"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_kept"), min("vec_id").as("first_kept"))
  }

  private val q105Sql =
    """WITH cap AS (
      |  SELECT min(n) AS cap FROM (SELECT count(*) AS n FROM embeddings GROUP BY label)),
      |ranked AS (
      |  SELECT vec_id, label,
      |    row_number() OVER (PARTITION BY label
      |      ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007, vec_id) AS rk
      |  FROM embeddings)
      |SELECT label, count(*) AS n_kept, min(vec_id) AS first_kept
      |FROM ranked, cap WHERE rk <= cap
      |GROUP BY label ORDER BY label""".stripMargin

  /** Min-max feature scaling (fit + transform in one plan): per-feature
    * min/max are exact order-insensitive aggregates, broadcast back, and
    * each value maps to (x − min)/(max − min) — deterministic double
    * arithmetic on exact inputs. The fit is one narrow aggregate over the
    * (feature, value) stream; the transform is shuffle-free against the
    * broadcast params — the standard distributed scaler shape.
    */
  private def q106(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .filter(col("dim") < 4)
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val params = dims.groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))
    dims.join(broadcast(params), "dim")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), col("dim"),
        when(col("hi") > col("lo"), (col("v") - col("lo")) / (col("hi") - col("lo")))
          .otherwise(0.0).as("scaled"))
  }

  private val q106Sql =
    """WITH expl AS (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
      |  WHERE i - 1 < 4),
      |params AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM expl GROUP BY dim)
      |SELECT e.vec_id, e.dim,
      |  CASE WHEN p.hi > p.lo THEN (e.v - p.lo) / (p.hi - p.lo) ELSE 0.0 END AS scaled
      |FROM expl e JOIN params p ON e.dim = p.dim
      |WHERE e.vec_id < 50
      |ORDER BY e.vec_id, e.dim""".stripMargin

  /** Feature hashing (the "hashing trick"): token → bucket via the native
    * [[graft.util.Det.polyHash]] expression, a sign bit from the next hash
    * bit, and a signed count per (doc, bucket) — the collision-tolerant
    * fixed-width featurizer that needs NO vocabulary build (the property
    * that matters at 100 TB: no global distinct pass, no dictionary
    * broadcast; one explode + one hash aggregate, both codegen'd).
    */
  private def q115(s: SparkSession, d: String): DataFrame = {
    val h = graft.util.Det.polyHash(col("w"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.clean.TextOps.tokens(col("text"))).as("w"))
      .select(col("doc_id"),
        pmod(h, lit(32L)).as("bucket"),
        // h ≥ 0 (mod 1e9+7), so h div 32 == h >> 5 exactly
        when(pmod(shiftright(h, 5), lit(2L)) === 0, 1L).otherwise(-1L).as("sign"))
      .groupBy("doc_id", "bucket")
      .agg(sum("sign").as("weight"))
      .filter(col("weight") =!= 0)
  }

  private val q115Sql = {
    val h = graft.util.Det.polyHashSql("w")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |hashed AS (
       |  SELECT doc_id, $h % 32 AS bucket,
       |    CASE WHEN ($h // 32) % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM toks)
       |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight
       |FROM hashed GROUP BY doc_id, bucket
       |HAVING CAST(sum(sign) AS BIGINT) != 0
       |ORDER BY doc_id, bucket""".stripMargin
  }

  /** One-hot encoding of a categorical column against a FIXED category
    * list (the production form: the vocabulary is part of the model
    * contract, not re-derived per run — so the transform is a pure
    * shuffle-free projection, reproducible on any cluster and any day).
    */
  private def q116(s: SparkSession, d: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val cols = langs.map(l =>
      when(col("lang") === l, 1).otherwise(0).as(s"lang_$l"))
    Tables.documents(s, d)
      .select(col("doc_id") +: cols: _*)
  }

  private val q116Sql =
    """SELECT doc_id,
      |  CAST(lang = 'de' AS INT) AS lang_de,
      |  CAST(lang = 'en' AS INT) AS lang_en,
      |  CAST(lang = 'es' AS INT) AS lang_es,
      |  CAST(lang = 'fr' AS INT) AS lang_fr,
      |  CAST(lang = 'zh' AS INT) AS lang_zh
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Robust scaling (median/IQR — outlier-resistant alternative to q106's
    * min-max): per-group nearest-rank p25/p50/p75 picked by row_number
    * against group size (interpolation-free — engines' percentile_cont
    * rules differ, rank selection does not), broadcast back, transform
    * shuffle-free. The fit is one window + one aggregate per group; at
    * 100 TB the window partitions by the (low-cardinality) group key, so
    * a skewed group can be fitted via the q107 GK sketch instead.
    */
  private def q117(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val ranked = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("event_type")).as("n"))
    val params = ranked.groupBy("event_type").agg(
      max(when(col("rn") === ceil(col("n") * 0.25), col("value"))).as("p25"),
      max(when(col("rn") === ceil(col("n") * 0.5), col("value"))).as("p50"),
      max(when(col("rn") === ceil(col("n") * 0.75), col("value"))).as("p75"))
    Tables.events(s, d)
      .filter(col("event_id") < 2000)
      .join(broadcast(params), "event_type")
      .select(col("event_id"), col("event_type"),
        when(col("p75") > col("p25"),
          (col("value") - col("p50")) / (col("p75") - col("p25")))
          .otherwise(0.0).as("scaled"))
  }

  private val q117Sql =
    """WITH ranked AS (
      |  SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |params AS (
      |  SELECT event_type,
      |    max(CASE WHEN rn = ceil(n * 0.25) THEN value END) AS p25,
      |    max(CASE WHEN rn = ceil(n * 0.5) THEN value END) AS p50,
      |    max(CASE WHEN rn = ceil(n * 0.75) THEN value END) AS p75
      |  FROM ranked GROUP BY event_type)
      |SELECT e.event_id, e.event_type,
      |  CASE WHEN p.p75 > p.p25 THEN (e.value - p.p50) / (p.p75 - p.p25)
      |       ELSE 0.0 END AS scaled
      |FROM events e JOIN params p ON e.event_type = p.event_type
      |WHERE e.event_id < 2000
      |ORDER BY e.event_id""".stripMargin

  /** Deterministic k-fold cross-validation assignment: fold is a pure
    * integer function of the row keys (stable under re-partitioning and
    * re-runs — same property as q104's split), with per-fold audit
    * aggregates including an exact-decimal sum.
    */
  private def q121(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(pmod(col("o_orderkey") * 31 + col("o_custkey"), lit(5)).as("fold"),
        col("o_custkey"), col("o_totalprice"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n"),
        countDistinct("o_custkey").as("n_customers"),
        graft.util.Det.dsum(col("o_totalprice")).as("total"))

  private val q121Sql =
    """SELECT (o_orderkey * 31 + o_custkey) % 5 AS fold,
      |  count(*) AS n,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY fold""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q104_dataset_split", q104, Some(q104Sql), "deterministic hash train/val/test split"),
    QueryDef("q105_class_balance", q105, Some(q105Sql), "equal-size class downsampling (SMOTE prep)"),
    QueryDef("q106_minmax_scale", q106, Some(q106Sql), "min-max feature scaling fit+transform"),
    QueryDef("q115_feature_hash", q115, Some(q115Sql), "hashing-trick featurizer (no vocabulary pass)"),
    QueryDef("q116_onehot", q116, Some(q116Sql), "fixed-vocabulary one-hot encoding"),
    QueryDef("q117_robust_scale", q117, Some(q117Sql), "median/IQR robust scaling fit+transform"),
    QueryDef("q121_kfold", q121, Some(q121Sql), "deterministic k-fold assignment with audit aggregates"))
}
