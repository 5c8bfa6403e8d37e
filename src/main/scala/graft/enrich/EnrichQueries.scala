package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.clean.TextOps

/** Enrichment operator family: sentiment scoring and the full
  * `preprocess_record` block over the events stream stand-in.
  */
object EnrichQueries {

  /** Sentiment polarity per document (F9/U4): average lexicon polarity of
    * matched tokens, 0.0 when none match. The engine side is the pure
    * column-expression form (no shuffle); the oracle proves the same
    * semantics relationally (explode→join→agg).
    */
  private def q37(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val lexMap = map(Sentiment.lexicon.flatMap { case (w, p) =>
      Seq(lit(w), lit(p).cast("decimal(4,2)"))
    }: _*)
    val matched = filter(transform(toks, t => element_at(lexMap, t)), p => p.isNotNull)
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(matched).cast("long").as("n_matched"),
        Sentiment.polarityExpr(toks).as("sentiment"))
  }

  private val q37Sql =
    s"""WITH lex(word, pol) AS (VALUES ${Sentiment.lexiconSqlValues}),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |m AS (
       |  SELECT doc_id, count(*) AS n_matched,
       |    CAST(sum(pol) AS DOUBLE) / count(*) AS sentiment
       |  FROM tok JOIN lex USING (word) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(m.n_matched, 0) AS n_matched,
       |  coalesce(m.sentiment, 0.0) AS sentiment
       |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The full enrichment block (U3: S/kinesis_processing_2.py:48-102) over
    * events: age vs a fixed "now" (D5), popularity (M1), type class (M4),
    * day/night (D6), payload length (F12), plus the running
    * author-activity count (W2/ST5) as a batch window.
    */
  private val NowEpoch = 1719792000L // 2024-07-01 00:00:00 UTC, fixed for determinism

  private def q38(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val upvoteRatio = expr("try_cast(get_json_object(props, '$.k') as double)") / 100.0
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        Features.ageMinutes(col("ts"), NowEpoch).as("age_min"),
        Features.popularityScore(col("value"), upvoteRatio,
          col("event_id") % 97).as("pop"),
        Features.postType(col("event_type")).as("post_type"),
        Features.timeOfDay(col("ts")).as("time_of_day"),
        length(col("props")).cast("long").as("payload_len"),
        count(lit(1)).over(w).as("author_activity_count"))
  }

  private val q38Sql =
    s"""SELECT event_id, user_id,
       |  CAST($NowEpoch - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) / 60.0 AS age_min,
       |  value * coalesce(TRY_CAST(json_extract_string(props, '$$.k') AS DOUBLE) / 100.0, 0.0)
       |    + 0.5 * CAST(event_id % 97 AS DOUBLE) AS pop,
       |  CASE WHEN event_type != 'self' THEN 'media' ELSE 'text' END AS post_type,
       |  CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS time_of_day,
       |  CAST(length(props) AS BIGINT) AS payload_len,
       |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS author_activity_count
       |FROM events ORDER BY event_id""".stripMargin

  /** Exponential time-decay weighting (recency features) WITHOUT
    * transcendentals: base-2 decay with a 1-hour half-life is an exact
    * integer shift — contribution = value_cents · 2^(20−age_hours),
    * age capped at 20 half-lives (beyond which weight < 1e-6). All-integer
    * accumulation (long sums, exact and order-insensitive), one final
    * double division — bit-identical in both engines where exp()/pow()
    * never could be (Det bans libm). Magnitude bound: Σ ≤
    * n·2e10 ≈ 2e15 at sf0.1 — inside 2^53 through sf1.
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("ts_sec"))
    val newest = ev.agg(max("ts_sec").as("now_sec"))
    ev.crossJoin(broadcast(newest))
      .select(col("event_type"), col("value"),
        least(floor((col("now_sec") - col("ts_sec")) / 3600), lit(20L)).as("age_h"))
      .select(col("event_type"),
        (round(col("value") * 100).cast("long") *
          call_function("shiftleft", lit(1L), (lit(20L) - col("age_h")).cast("int")))
          .as("contrib"))
      .groupBy("event_type")
      .agg(sum(col("contrib")).as("contrib_sum"), count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        (col("contrib_sum").cast("double") / (100.0 * (1L << 20))).as("decayed_sum"))
  }

  private val q109Sql =
    """WITH ev AS (
      |  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events),
      |aged AS (
      |  SELECT event_type, value,
      |    least(CAST(floor(((SELECT max(ts_sec) FROM ev) - ts_sec) / 3600) AS BIGINT), 20) AS age_h
      |  FROM ev)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT) * (CAST(1 AS BIGINT) << CAST(20 - age_h AS INTEGER)))
      |    AS DOUBLE) / (100.0 * 1048576) AS decayed_sum
      |FROM aged GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q37_sentiment", q37, Some(q37Sql), "F9 lexicon sentiment polarity"),
    QueryDef("q38_enrich_block", q38, Some(q38Sql), "U3 full preprocess_record block"),
    QueryDef("q109_time_decay", q109, Some(q109Sql), "base-2 time-decay weighting (integer-exact)"))
}
