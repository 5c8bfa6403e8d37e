package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Serving-path operator family — the reference's Athena/QuickSight query
  * (S/reddit_lambda.py:24-69, SURVEY §3.3): a wide projection with
  * `TRY_CAST(x AS DECIMAL(38,9))` repairs (P10/M3) behind a per-column
  * data-quality conjunction `x IS NOT NULL AND x != '' AND TRY_CAST(x)
  * IS NOT NULL` (P6). The reference's tables are stringly-typed with
  * literal 'nan' values (SURVEY §1.3), so the filter runs over
  * deliberately stringified columns, exactly like the original.
  *
  * Scale: pure per-row predicates and casts — fully pushed/codegen'd, no
  * shuffle.
  */
object ServeQueries {

  /** Stringly-typed staging of events (the reference's all-string table
    * shape): numeric fields serialized to strings, with 'nan' injected for
    * a deterministic slice of rows to exercise the repair path (the
    * reference's data really contains the string 'nan' — NB cell 18/32
    * outputs).
    */
  private def q39(s: SparkSession, d: String): DataFrame = {
    val staged = Tables.events(s, d).select(
      col("event_id"),
      when(col("event_id") % 13 === 0, "nan")
        .otherwise(col("value").cast("string")).as("v_str"),
      when(col("event_id") % 17 === 0, "")
        .otherwise(expr("get_json_object(props, '$.k')")).as("k_str"))
    staged
      .filter(
        col("v_str").isNotNull && col("v_str") =!= "" &&
          expr("try_cast(v_str as decimal(38,9))").isNotNull &&
          col("k_str").isNotNull && col("k_str") =!= "" &&
          expr("try_cast(k_str as decimal(38,9))").isNotNull)
      .select(col("event_id"),
        // decimal(38,9) is the storage/repair type (M3); the presented
        // column is double — int128·10⁻⁹ of 2-decimal data stays < 2^53,
        // so the conversion is single-rounding in both engines (Det).
        expr("try_cast(v_str as decimal(38,9))").cast("double").as("v_num"),
        expr("try_cast(k_str as decimal(38,9))").cast("double").as("k_num"))
  }

  private val q39Sql =
    """WITH staged AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 13 = 0 THEN 'nan' ELSE CAST(value AS VARCHAR) END AS v_str,
      |    CASE WHEN event_id % 17 = 0 THEN '' ELSE json_extract_string(props, '$.k') END AS k_str
      |  FROM events)
      |SELECT event_id,
      |  CAST(TRY_CAST(v_str AS DECIMAL(38,9)) AS DOUBLE) AS v_num,
      |  CAST(TRY_CAST(k_str AS DECIMAL(38,9)) AS DOUBLE) AS k_num
      |FROM staged
      |WHERE v_str IS NOT NULL AND v_str != '' AND TRY_CAST(v_str AS DECIMAL(38,9)) IS NOT NULL
      |  AND k_str IS NOT NULL AND k_str != '' AND TRY_CAST(k_str AS DECIMAL(38,9)) IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** JSON round trip (J1+J2): serialize a struct to JSON text, parse a
    * field back out — the Kinesis payload encode/decode
    * (S/reddit_kinesis_1.py:63, S/kinesis_processing_2.py:133).
    */
  private def q40(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        to_json(struct(col("event_type"), col("user_id"))).as("js"))
      .withColumn("user_back",
        expr("try_cast(get_json_object(js, '$.user_id') as bigint)"))

  private val q40Sql =
    """SELECT event_id,
      |  to_json(struct_pack(event_type := event_type, user_id := user_id)) AS js,
      |  TRY_CAST(json_extract_string(
      |    to_json(struct_pack(event_type := event_type, user_id := user_id)),
      |    '$.user_id') AS BIGINT) AS user_back
      |FROM events ORDER BY event_id""".stripMargin

  /** The serving sink (S14): publish a result as ONE headered CSV at a
    * stable path, replacing the Lambda's run-query → poll → copy-object →
    * delete-temp dance (S/reddit_lambda.py:71-108) with a single
    * write-then-atomic-swap. `coalesce(1)` is correct HERE because a
    * serving extract is small by definition (QuickSight reads one file);
    * it would be wrong for bulk output — the rest of the engine never
    * single-partitions bulk writes.
    */
  def publishLatest(df: DataFrame, stableDir: String): Unit = {
    val spark = df.sparkSession
    val tmp = stableDir + ".tmp"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stable = new org.apache.hadoop.fs.Path(stableDir)
    fs.delete(stable, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), stable)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q39_serving_quality", q39, Some(q39Sql), "P6+P10+M3 try_cast quality filter"),
    QueryDef("q40_json_roundtrip", q40, Some(q40Sql), "J1+J2 to_json/from_json"))
}
