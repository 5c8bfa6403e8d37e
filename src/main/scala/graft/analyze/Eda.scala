package graft.analyze

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sessions

import graft.{QueryDef, Tables}
import graft.util.Det._

/** Batch EDA / relational operator family.
  *
  * Re-expresses the reference's exploratory-analysis surface (SURVEY.md §2.2,
  * §2.4–§2.7: groupBy-count/sum aggregations, ordering, top-k, window
  * functions, unions, filters, casts) Spark-first over the driver's star
  * schema, plus the joins the reference never needed but a complete engine
  * owes (inner equi-join, semi/anti — SURVEY.md §2.3).
  *
  * Scale notes (100 TB design intent):
  *  - Aggregations are plain `groupBy.agg` → Catalyst partial+final hash
  *    aggregation; one shuffle keyed on the grouping columns, map-side
  *    combine for free.
  *  - Dimension joins (`nation`, `region`, `customer`) are broadcast — no
  *    shuffle of the fact table.
  *  - Top-k is `orderBy.limit` → `TakeOrderedAndProject` (no full sort).
  *  - Every ORDER BY carries a unique tiebreak so output order is total
  *    (the oracle hash-compare needs identical row order).
  */
object Eda {

  /** Posts-per-subreddit analog: events per type, most active first.
    * Reference: NB cell 21 (ln 1341) `groupby('Subreddit').count()` +
    * NB cell 21 `orderBy(desc)`. (A1+O1)
    */
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("event_type"))

  private val q01Sql =
    """SELECT event_type, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin

  /** Two-key group-by with a date-part key. Reference: NB cell 58
    * (`groupby('Subreddit','post_hour')`) + NB cell 48 `F.hour`. (A2+D3)
    */
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "hr")

  private val q02Sql =
    """SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin

  /** Grouped sums with aliases (TPC-H Q1 shape). Reference: NB cell 25/29
    * `agg(F.sum(..).alias(..))`. Sums go through decimal for exact,
    * order-insensitive accumulation (see Det). (A3)
    */
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q03Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Top-k by measure: `orderBy(desc).limit` → TakeOrderedAndProject, not a
    * full sort. Reference: NB cell 32 (top-10 titles by upvotes). (O4)
    */
  private def q04(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  private val q04Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Top-1-per-group via row_number window then rank==1 filter.
    * Reference: NB cell 58 (ln 2231) peak posting hour per subreddit. (W1+P5)
    */
  private def q05(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(desc("n"), asc("hr"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("event_type")
  }

  private val q05Sql =
    """WITH c AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, hr, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY n DESC, hr) AS rn
      |  FROM c)
      |SELECT event_type, hr, n FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** Running per-key count: the reference's cross-batch author-activity
    * counter (S/kinesis_processing_2.py:43,98-100) as an unbounded-preceding
    * window frame (SURVEY W2/A7). Ordered by the unique event_id so the
    * frame is total — ns-vs-µs timestamp precision can't reorder ties.
    */
  private def q06(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("rc"))
      .orderBy("event_id")
  }

  private val q06Sql =
    """SELECT event_id, user_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
      |FROM events ORDER BY event_id""".stripMargin

  /** Union of per-shard frames then aggregate — the 33-CSV concat
    * (NB cell 7 ln 170) as `unionByName`. (U1)
    */
  private def q07(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val parts = Seq("A", "N", "R").map(f => li.filter(col("l_returnflag") === f))
    parts.reduce(_ unionByName _)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  private val q07Sql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM (
      |  SELECT * FROM lineitem WHERE l_returnflag = 'A'
      |  UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'N'
      |  UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'R')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Star join: fact `orders` ⋈ broadcast dims customer→nation→region,
    * revenue per region. The dims are broadcast so the 100 TB fact table
    * never shuffles for the join — only the final 5-group aggregation does.
    * (SURVEY §2.3 inner equi-join)
    */
  private def q08(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = broadcast(Tables.customer(s, d))
    val n = broadcast(Tables.nation(s, d))
    val r = broadcast(Tables.region(s, d))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name")
  }

  private val q08Sql =
    """SELECT r_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Left-semi join (EXISTS): customers that placed at least one order,
    * counted per nation. (SURVEY §2.3)
    */
  private def q09(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val n = broadcast(Tables.nation(s, d))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"))
      .orderBy("n_name")
  }

  private val q09Sql =
    """SELECT n_name, count(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Outer-join family: customers-per-nation FULL OUTER suppliers-per-
    * nation (either side may be missing a nation), then nation LEFT OUTER
    * onto the result so nations with neither appear as 0/0. Completes the
    * join-type inventory (inner q08, semi q09, anti q10, range q76,
    * as-of q82). Aggregate-then-outer-join keeps both shuffles narrow —
    * the outer join sees one row per nation, not one per customer.
    */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val cn = Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val sn = Tables.supplier(s, d)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    // hint the BUILD side: a left-outer join can only broadcast-build its
    // right (the preserved nation rows must all stream); hinting nation
    // itself was silently dropped by Catalyst (HintErrorLogger, VERDICT
    // r8 "What's wrong" 4) and the join fell back to shuffle. fo is
    // ≤ |nations| aggregated rows — always broadcastable.
    val fo = cn.join(sn, Seq("nationkey"), "full_outer")
    Tables.nation(s, d)
      .join(broadcast(fo), col("n_nationkey") === col("nationkey"), "left_outer")
      .select(col("n_name"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("n_name")
  }

  private val q89Sql =
    """WITH cn AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
      |            FROM customer GROUP BY 1),
      |sn AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
      |       FROM supplier GROUP BY 1),
      |fo AS (SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey, n_cust, n_supp
      |       FROM cn FULL OUTER JOIN sn USING (nationkey))
      |SELECT n_name, coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM nation LEFT OUTER JOIN fo ON n_nationkey = nationkey
      |ORDER BY n_name""".stripMargin

  /** Higher-order array function family (filter/exists/forall/slice +
    * sequential reduce) over per-row integer sequences — the lambda-based
    * array surface a pipeline uses for token/feature lists, with integer-
    * only DuckDB mirrors (list_filter / len / list_reduce). Booleans are
    * emitted as BIGINT 0/1 so both engines agree on dtype.
    */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val arr = sequence(lit(1L), col("event_id") % 10 + 1)
    Tables.events(s, d)
      .filter(col("event_id") <= 2000)
      .select(col("event_id"),
        size(filter(arr, x => x % 2 === 0)).cast("long").as("n_even"),
        exists(arr, x => x > 5).cast("long").as("has_gt5"),
        forall(arr, x => x < 20).cast("long").as("all_lt20"),
        aggregate(slice(arr, 1, 3), lit(0L), (a, x) => a + x).as("head3_sum"))
      .orderBy("event_id")
  }

  private val q91Sql =
    """WITH t AS (SELECT event_id, range(1, event_id % 10 + 2) AS arr
      |           FROM events WHERE event_id <= 2000)
      |SELECT event_id,
      |  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
      |  CAST(CASE WHEN len(list_filter(arr, x -> x > 5)) > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_gt5,
      |  CAST(CASE WHEN len(list_filter(arr, x -> NOT (x < 20))) = 0 THEN 1 ELSE 0 END AS BIGINT) AS all_lt20,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), arr[1:3]), (a, x) -> a + x) AS head3_sum
      |FROM t ORDER BY event_id""".stripMargin

  /** Conditional / selective aggregate family: count_if, max_by/min_by
    * (with a composite struct key so price ties resolve by orderkey —
    * argmax determinism), bool_and/bool_or (as BIGINT 0/1). DuckDB 1.0's
    * arg_max can't take a struct key, so the oracle mirrors the argmax
    * semantics with ranked CTEs — same result, different spelling.
    */
  private def q92(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > 100000).as("n_big"),
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
        bool_and(col("o_totalprice") > 0).cast("long").as("all_positive"),
        bool_or(col("o_totalprice") > 400000).cast("long").as("any_huge"))
      .orderBy("o_orderpriority")

  private val q92Sql =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rd,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS ra
      |  FROM orders)
      |SELECT o_orderpriority,
      |  count(*) FILTER (o_totalprice > 100000) AS n_big,
      |  max(o_orderkey) FILTER (rd = 1) AS top_order,
      |  max(o_orderkey) FILTER (ra = 1) AS bottom_order,
      |  CAST(CASE WHEN bool_and(o_totalprice > 0) THEN 1 ELSE 0 END AS BIGINT) AS all_positive,
      |  CAST(CASE WHEN bool_or(o_totalprice > 400000) THEN 1 ELSE 0 END AS BIGINT) AS any_huge
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** UNPIVOT/melt (the inverse of q26's pivot): part's numeric metrics as
    * (key, metric, val) long-form rows via the `stack` generator — the
    * reshape every feature store needs going INTO training. Generator
    * output, no shuffle until the final sort.
    */
  private def q93(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .selectExpr("p_partkey",
        """stack(2,
          |  'retailprice', cast(p_retailprice as double),
          |  'size', cast(p_size as double)) as (metric, val)""".stripMargin)
      .orderBy("p_partkey", "metric")

  private val q93Sql =
    """SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val
      |FROM part
      |UNION ALL
      |SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  /** CUBE grouping sets (all four subtotal combinations, completing q25's
    * ROLLUP): order counts and exact-decimal revenue by priority × status.
    */
  private def q97(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .select(coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
        coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
        col("n"), col("revenue"))
      .orderBy("priority", "status")

  private val q97Sql =
    """SELECT coalesce(o_orderpriority, '<all>') AS priority,
      |  coalesce(o_orderstatus, '<all>') AS status, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** One typed row of the events table for the Dataset[T] pipeline. */
  private[graft] case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double)
  /** Typed per-user aggregate produced by mapGroups. */
  private[graft] case class UserAgg(user_id: Long, n: Long, sum_v: Double)

  /** Typed Dataset[T] pipeline (the case-class Encoder API surface):
    * filter → groupByKey → mapGroups with an event_id-ordered sequential
    * fold, so the double sum is deterministic and the result equals the
    * relational GROUP BY the oracle runs. mapGroups is object-mode (no
    * codegen) — the right tool when per-group logic is genuinely
    * imperative; anything expressible as an aggregate should stay
    * relational (see q01/q03), which is why only this one query pays the
    * typed path.
    */
  private def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
      .filter((e: Ev) => e.event_type == "purchase")
      .groupByKey(_.user_id)
      .mapGroups { (uid, rows) =>
        val ordered = rows.toSeq.sortBy(_.event_id)
        UserAgg(uid, ordered.size.toLong,
          ordered.foldLeft(0.0)((acc, e) => acc + e.value))
      }
      .toDF()
      .orderBy("user_id")
  }

  private val q98Sql =
    """SELECT user_id, count(*) AS n,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(value ORDER BY event_id)),
      |    (a, b) -> a + b) AS sum_v
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Time-series gap-fill + forward-fill: the date spine per priority is
    * generated with sequence/explode (no calendar table needed), missing
    * days left-join to NULL, and `last(total, ignoreNulls)` over an
    * unbounded-preceding frame carries the previous day's value forward —
    * the standard feature-store repair for irregular time series. One
    * shuffle on the series key; the spine is generated, never scanned.
    */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("d"))
      .agg(dsum(col("o_totalprice")).as("total"))
    val spine = daily.groupBy("o_orderpriority")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("o_orderpriority"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy("o_orderpriority").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("o_orderpriority", "d"), "left")
      .select(col("o_orderpriority"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        last(col("total"), ignoreNulls = true).over(w).as("total_filled"),
        when(col("total").isNull, 1L).otherwise(0L).as("was_missing"))
      .orderBy("o_orderpriority", "day")
  }

  private val q94Sql =
    """WITH daily AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 1, 2),
      |bounds AS (SELECT o_orderpriority, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
      |spine AS (
      |  SELECT o_orderpriority, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM bounds),
      |j AS (SELECT s.o_orderpriority, s.d, daily.total
      |      FROM spine s LEFT JOIN daily
      |        ON s.o_orderpriority = daily.o_orderpriority AND s.d = daily.d)
      |SELECT o_orderpriority, strftime(d, '%Y-%m-%d') AS day,
      |  last_value(total IGNORE NULLS) OVER (PARTITION BY o_orderpriority ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_filled,
      |  CAST(CASE WHEN total IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_missing
      |FROM j ORDER BY o_orderpriority, day""".stripMargin

  // ---------------------------------------------------------------- q237

  /** EWMA CONTROL CHART over the daily event series — exponential
    * smoothing (α = 1/4) per event type with a spike verdict per day,
    * the classic ops-telemetry monitor (Roberts' EWMA chart) and the
    * volume-anomaly gate a continuously-ingesting corpus pipeline runs
    * on its own intake: a day whose raw count exceeds 2× the previous
    * smoothed level is flagged before it contaminates downstream stats.
    * Complements q109 (fixed decay weighting) and q94 (gap repair) with
    * the RECURRENCE the family lacked: s_t = (3·s_{t-1} + 1000·v_t) div 4
    * — a sequential per-step-floored integer fold, not a closed form.
    *
    * Determinism: the fold is exact int64 at scale 1000 — the division
    * by 4 is written `floor(x/4)` (x < 2^53, so the double divide by a
    * power of two is exact and floor matches DuckDB's integer `//`
    * bit-for-bit). The DuckDB mirror computes the SAME recurrence by
    * sequential recursion (recursive CTE stepping t → t+1), so the two
    * engines traverse the series in the same order by construction.
    *
    * Scale: the only corpus-sized work is the daily pre-aggregation —
    * a map-side-combinable count down to |types|×|days| rows. The fold
    * runs per key over an array bounded by CALENDAR LENGTH (not data
    * volume): a decade of daily telemetry is ~3.7k elements, constant
    * with corpus size at 100 TB. One shuffle total; the spike lag is a
    * window over the same tiny frame.
    */
  private def q237(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val folded = daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("d"), col("n")))).as("vs"))
      .select(col("event_type"),
        aggregate(col("vs"),
          expr("CAST(array() AS ARRAY<STRUCT<d: DATE, n: BIGINT, s: BIGINT>>)"),
          (acc, x) => concat(acc, array(struct(
            x.getField("d").as("d"),
            x.getField("n").as("n"),
            when(size(acc) === 0, x.getField("n") * 1000L)
              .otherwise(floor(
                (element_at(acc, -1).getField("s") * 3L + x.getField("n") * 1000L) / 4)
                .cast("long")).as("s")))))
          .as("series"))
    val w = Window.partitionBy("event_type").orderBy("d")
    folded.select(col("event_type"), explode(col("series")).as("e"))
      .select(col("event_type"), col("e.d").as("d"), col("e.n").as("n"),
        col("e.s").as("ewma_fp"))
      .withColumn("prev", lag(col("ewma_fp"), 1).over(w))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n"), col("ewma_fp"),
        coalesce(col("n") * 1000L > col("prev") * 2L, lit(false)).as("spike"))
      .orderBy("event_type", "day")
  }

  private val q237Sql =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (
      |  SELECT event_type, d, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS t
      |  FROM daily),
      |ew(event_type, t, d, n, s) AS (
      |  SELECT event_type, t, d, n, n * 1000 FROM idx WHERE t = 1
      |  UNION ALL
      |  SELECT i.event_type, i.t, i.d, i.n, (3 * e.s + i.n * 1000) // 4
      |  FROM ew e JOIN idx i ON i.event_type = e.event_type AND i.t = e.t + 1)
      |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
      |  CAST(s AS BIGINT) AS ewma_fp,
      |  coalesce(n * 1000 > 2 * lag(s) OVER (PARTITION BY event_type ORDER BY d),
      |    false) AS spike
      |FROM ew ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------- q241

  /** ROLLING-WINDOW EXACT PERCENTILES — trailing-7-day p50/p95 of event
    * value per type and day: the SLO/latency dashboard primitive (q53
    * gives corpus-wide percentiles, q237 smooths means; operations run
    * on rolling TAIL percentiles, which no mean-based smoother shows).
    * Nearest-rank (q53's rule: the value at rank ceil(n·p)) — exact, not
    * a sketch, and hash-identical across engines because ranks are
    * integers and the ranked values are the raw column.
    *
    * Scale shape — the part that survives 100 TB: each event EXPLODES
    * into exactly the ≤7 day-cells whose trailing window contains it
    * (bounded ×7 fan-out, the q76 time-band discipline), the day spine
    * joins broadcast, and the rank runs per (type, day) partition. The
    * tempting alternative — joining the spine to events on type and
    * filtering the date band — is |days|×|rows| BEFORE the residual
    * filter and dies at scale; the explode form never materializes a
    * pair that isn't in a window.
    */
  private def q241(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        col("value"), col("event_id"))
    val spine = ev.groupBy("event_type")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val cells = ev
      .select(col("event_type"), col("value"), col("event_id"),
        explode(sequence(col("d"), date_add(col("d"), 6), expr("interval 1 day")))
          .as("day"))
      .join(broadcast(spine), Seq("event_type", "day"))
    val w = Window.partitionBy("event_type", "day").orderBy("value", "event_id")
    val n = Window.partitionBy("event_type", "day")
    cells
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
      .groupBy("event_type", "day")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("value"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("value"))).as("p95"),
        count(lit(1)).as("n"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("p50"), col("p95"), col("n"))
      .orderBy("event_type", "day")
  }

  private val q241Sql =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, value, event_id FROM events),
      |spine AS (
      |  SELECT event_type,
      |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT event_type, min(d) AS lo, max(d) AS hi
      |        FROM ev GROUP BY event_type)),
      |cells AS (
      |  SELECT e.event_type, e.value, e.event_id, s.day
      |  FROM (SELECT event_type, value, event_id,
      |          CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))
      |            AS DATE) AS day
      |        FROM ev) e
      |  JOIN spine s ON s.event_type = e.event_type AND s.day = e.day),
      |ranked AS (
      |  SELECT event_type, day, value,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type, day) AS n
      |  FROM cells)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |  max(CASE WHEN rn = ceil(n * 0.5) THEN value END) AS p50,
      |  max(CASE WHEN rn = ceil(n * 0.95) THEN value END) AS p95,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM ranked GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------- q242

  /** EXACT WEIGHTED PERCENTILES per group — the quantity-weighted p50/p90
    * of unit price per order priority: "half the UNITS shipped cost at
    * most X", which is the question inventory/pricing actually asks
    * (q53's unweighted form answers "half the LINE ITEMS", over-counting
    * single-unit lines 50×). Textbook cumulative-weight nearest-rank:
    * sort by value within the group, take the first value whose running
    * weight reaches ceil(p·W) — exact, integer thresholds (quantities
    * are integral), no interpolation, so both engines pick the identical
    * row.
    *
    * Scale: one shuffle on the group key; the cumulative sum is a single
    * window pass over each group's sorted run (Spark's running-frame
    * WindowExec — no self-join), and the pick is an aggregate over the
    * same pass. Weights never materialize per-unit rows (the naive
    * "explode quantity copies" form would 25× the table).
    */
  private def q242(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        (col("l_extendedprice") / col("qty")).as("unit_price"),
        col("qty"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy("priority")
      .orderBy("unit_price", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("priority")
    li
      .withColumn("cw", sum(col("qty")).over(w))
      .withColumn("tw", sum(col("qty")).over(tot))
      .groupBy("priority")
      .agg(
        min(when(col("cw") >= ceil(col("tw") * 0.5), col("unit_price"))).as("wp50"),
        min(when(col("cw") >= ceil(col("tw") * 0.9), col("unit_price"))).as("wp90"),
        max(col("tw")).as("total_units"),
        count(lit(1)).as("n_lines"))
      .orderBy("priority")
  }

  private val q242Sql =
    """WITH li AS (
      |  SELECT o.o_orderpriority AS priority,
      |    l.l_extendedprice / CAST(l.l_quantity AS BIGINT) AS unit_price,
      |    CAST(l.l_quantity AS BIGINT) AS qty, l.l_orderkey, l.l_linenumber
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |cum AS (
      |  SELECT priority, unit_price, qty,
      |    sum(qty) OVER (PARTITION BY priority
      |      ORDER BY unit_price, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(qty) OVER (PARTITION BY priority) AS tw
      |  FROM li)
      |SELECT priority,
      |  min(CASE WHEN cw >= ceil(tw * 0.5) THEN unit_price END) AS wp50,
      |  min(CASE WHEN cw >= ceil(tw * 0.9) THEN unit_price END) AS wp90,
      |  CAST(max(tw) AS BIGINT) AS total_units,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM cum GROUP BY priority ORDER BY priority""".stripMargin

  // ---------------------------------------------------------------- q245

  /** LEAD-LAG CROSS-CORRELATION between event-type daily series — for
    * every ordered type pair and lag L ∈ [−3, 3], the Pearson correlation
    * of (volume_a on day t, volume_b on day t+L): the "does signup volume
    * lead purchase volume by two days" question behind demand forecasting
    * and incident root-causing (q100 correlates columns within one row
    * stream; this correlates SERIES against time-shifted series). The
    * best lag per pair is flagged (max |corr|, lag-asc tiebreak).
    *
    * Determinism: daily volumes are integer counts, so all five moments
    * (Σx, Σy, Σxy, Σx², Σy²) and the three corr building blocks
    * (n·Σxy−ΣxΣy, n·Σx²−(Σx)², n·Σy²−(Σy)²) are EXACT int64; the only
    * double ops are one division and two sqrts on identical integers —
    * bit-equal across engines. Zero-variance sides are filtered (corr
    * undefined), identically in the mirror.
    *
    * Scale: the corpus collapses to |types|×|days| daily rows first
    * (map-side combinable); the lag join and moments run on that tiny
    * frame — cost is independent of event volume, the q237/q241
    * pre-aggregate discipline.
    */
  private def q245(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // tiny; referenced from both sides of the lag join
    val lags = broadcast((-3L to 3L).toDF("lag"))
    val a = daily.select(col("event_type").as("ta"), col("d").as("da"), col("n").as("x"))
      .crossJoin(lags)
    val b = daily.select(col("event_type").as("tb"), col("d").as("db"), col("n").as("y"))
    val moments = a
      .join(b, col("tb") =!= col("ta") &&
        col("db") === expr("date_add(da, CAST(lag AS INT))"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb", "lag")
      .agg(count(lit(1)).as("nd"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .select(col("ta"), col("tb"), col("lag"), col("nd"),
        (col("nd") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("nd") * col("sx2") - col("sx") * col("sx")).as("vx"),
        (col("nd") * col("sy2") - col("sy") * col("sy")).as("vy"))
      .filter(col("vx") > 0 && col("vy") > 0)
      .withColumn("corr",
        col("num").cast("double") /
          (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double"))))
    moments
      .withColumn("rn", row_number().over(
        Window.partitionBy("ta", "tb").orderBy(abs(col("corr")).desc, col("lag").asc)))
      .select(col("ta"), col("tb"), col("lag"), col("nd"), col("corr"),
        (col("rn") === 1).as("is_best_lag"))
      .orderBy("ta", "tb", "lag")
  }

  private val q245Sql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |lags AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS BIGINT) AS lag),
      |m AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, l.lag,
      |    CAST(count(*) AS BIGINT) AS nd,
      |    sum(a.n) AS sx, sum(b.n) AS sy, sum(a.n * b.n) AS sxy,
      |    sum(a.n * a.n) AS sx2, sum(b.n * b.n) AS sy2
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.event_type != a.event_type
      |    AND b.d = a.d + CAST(l.lag AS INT)
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT ta, tb, lag, nd,
      |    CAST(nd * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(nd * sx2 - sx * sx AS DOUBLE))
      |         * sqrt(CAST(nd * sy2 - sy * sy AS DOUBLE))) AS corr
      |  FROM m WHERE nd * sx2 - sx * sx > 0 AND nd * sy2 - sy * sy > 0)
      |SELECT ta, tb, lag, nd, corr,
      |  row_number() OVER (PARTITION BY ta, tb ORDER BY abs(corr) DESC, lag) = 1
      |    AS is_best_lag
      |FROM c ORDER BY ta, tb, lag""".stripMargin

  // ---------------------------------------------------------------- q246

  /** BENFORD FIRST-DIGIT AUDIT over order totals — the classic
    * forensic-accounting / synthetic-data smell test: naturally-grown
    * multiplicative amounts follow P(d) = log10(1+1/d); fabricated or
    * truncated columns don't. Reports, per leading digit, the observed
    * count, the Benford-expected count, and the χ² contribution — all in
    * int64 fixed point: the nine Benford proportions are pinned
    * basis-point literals (3010, 1761, …), the leading digit comes from
    * the DECIMAL STRING of the floored amount (never floor(x/10^log10 x)
    * — libm), and the χ² contribution is (10000·obs − n·p)² div
    * (n·p·10000). A data-quality gate this cheap runs on every ingest.
    *
    * Scale: one map-side-combinable 9-group count; everything after is
    * 9 rows.
    */
  private val BenfordBp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L)

  private def q246(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val expected =
      BenfordBp.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
        .toDF("digit", "p_bp")
    val obs = Tables.orders(s, d)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val n = obs.agg(sum(col("obs")).as("n_total"))
    // All 9 digits even if absent: left-outer with the 9-row VALUES frame
    // preserved and the aggregated side hinted — a broadcast hint on the
    // PRESERVED side of an outer join is silently dropped (ADVICE r9;
    // HintErrorLogger), so the hint must sit on obs, the build side.
    expected.join(broadcast(obs), Seq("digit"), "left")
      .crossJoin(broadcast(n))
      .select(col("digit"), coalesce(col("obs"), lit(0L)).as("obs"),
        col("p_bp"), col("n_total"),
        expr("n_total * p_bp div 10000").as("expected"),
        expr("(10000 * coalesce(obs, 0) - n_total * p_bp) * " +
          "(10000 * coalesce(obs, 0) - n_total * p_bp) div (n_total * p_bp * 10000)")
          .as("chi2_contrib"))
      .orderBy("digit")
  }

  private val q246Sql = {
    val values = BenfordBp.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    s"""WITH exp AS (SELECT CAST(digit AS BIGINT) AS digit, CAST(p_bp AS BIGINT) AS p_bp
       |             FROM (VALUES $values) v(digit, p_bp)),
       |obs AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS obs
       |  FROM orders GROUP BY 1),
       |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM obs)
       |SELECT e.digit, coalesce(o.obs, 0) AS obs, e.p_bp, n.n_total,
       |  n.n_total * e.p_bp // 10000 AS expected,
       |  (10000 * coalesce(o.obs, 0) - n.n_total * e.p_bp)
       |    * (10000 * coalesce(o.obs, 0) - n.n_total * e.p_bp)
       |    // (n.n_total * e.p_bp * 10000) AS chi2_contrib
       |FROM exp e LEFT JOIN obs o ON o.digit = e.digit, n
       |ORDER BY e.digit""".stripMargin
  }

  /** Fixed-width histogram (10 buckets of 20 over `value`, clamped): the
    * profiling primitive; pure integer/floor arithmetic so both engines
    * bucket identically.
    */
  private def q96(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(least(greatest(floor(col("value") / 20), lit(0L)), lit(9L)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  private val q96Sql =
    """SELECT least(greatest(CAST(floor(value / 20) AS BIGINT), 0), 9) AS bucket,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Correlation/covariance family from exact decimal moments: built-in
    * `corr`/`covar_samp` sum doubles in partition order (nondeterministic
    * at the ulp level), so the moments are accumulated exactly — value at
    * decimal(12,2), hour as integer, products exact — and the closed-form
    * corr/covar arithmetic runs once on deterministic scalars. Magnitude
    * check: Σvalue² int-rep ≈ 4e8/row·|rows| stays < 2^53 through sf10.
    * Same partial/final distributed aggregation as any sum.
    */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val x = col("value").cast("decimal(12,2)")
    val h = hour(col("ts")).cast("long")
    Tables.events(s, d)
      .select(col("event_type"), x.as("x"), h.as("h"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("h")).cast("double").as("sh"),
        sum((col("x") * col("h")).cast("decimal(20,2)")).cast("double").as("sxh"),
        sum((col("x") * col("x")).cast("decimal(30,4)")).cast("double").as("sx2"),
        sum(col("h") * col("h")).cast("double").as("sh2"))
      .select(col("event_type"), col("n"),
        ((col("n") * col("sxh") - col("sx") * col("sh")) /
          (col("n") * (col("n") - 1))).as("covar"),
        ((col("n") * col("sxh") - col("sx") * col("sh")) /
          (sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
            sqrt(col("n") * col("sh2") - col("sh") * col("sh")))).as("corr"))
      .orderBy("event_type")
  }

  private val q100Sql =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(hour(ts) AS BIGINT)) AS DOUBLE) AS sh,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * hour(ts) AS DECIMAL(20,2))) AS DOUBLE) AS sxh,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(30,4))) AS DOUBLE) AS sx2,
      |    CAST(sum(CAST(hour(ts) AS BIGINT) * hour(ts)) AS DOUBLE) AS sh2
      |  FROM events GROUP BY 1)
      |SELECT event_type, n,
      |  (n * sxh - sx * sh) / (n * (n - 1)) AS covar,
      |  (n * sxh - sx * sh) /
      |    (sqrt(n * sx2 - sx * sx) * sqrt(n * sh2 - sh * sh)) AS corr
      |FROM m ORDER BY event_type""".stripMargin

  /** Closed-form OLS (normal equations) per group — the trend-fit
    * capability (value regressed on hour-of-day per event type), computed
    * from the same exact decimal moments as q100: slope =
    * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), intercept = (Σy − slope·Σx)/n.
    * One hash-aggregate pass over the fact table (map-side partial),
    * then per-group scalar arithmetic — the distributed form of a
    * regression fit: no iteration, no driver data movement, exact at any
    * partitioning because every sum is decimal-routed (Det's rule).
    */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val y = col("value").cast("decimal(12,2)")
    val x = hour(col("ts")).cast("long")
    Tables.events(s, d)
      .select(col("event_type"), y.as("y"), x.as("x"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x")).cast("double").as("sx"),
        sum((col("y") * col("x")).cast("decimal(20,2)")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sx2"))
      .select(col("event_type"), col("n"), col("sy"), col("sx"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sx2") - col("sx") * col("sx"))).as("slope"))
      .select(col("event_type"), col("n"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"))
      .orderBy("event_type")
  }

  private val q151Sql =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(hour(ts) AS BIGINT)) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * hour(ts) AS DECIMAL(20,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(hour(ts) AS BIGINT) * hour(ts)) AS DOUBLE) AS sx2
      |  FROM events GROUP BY 1),
      |fit AS (
      |  SELECT event_type, n,
      |    (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope, sx, sy
      |  FROM m)
      |SELECT event_type, n, slope, (sy - slope * sx) / n AS intercept
      |FROM fit ORDER BY event_type""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders per segment. */
  private def q10(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  private val q10Sql =
    """SELECT c_mktsegment, count(*) AS n
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Conjunctive filter + projection; both predicates and the 3-column
    * read schema reach the parquet scan (PushedFilters — see PlanSpec).
    * Reference: S/process_dynamo.py:23 (`score > 1`), NB cell 44
    * (string-equality filter). (P1+P3+P4)
    */
  private def q11(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value") > 150.0 && col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .orderBy("event_id")

  private val q11Sql =
    """SELECT event_id, user_id, value FROM events
      |WHERE value > 150.0 AND event_type = 'purchase' ORDER BY event_id""".stripMargin

  /** Cast-projection (NB cell 24/28 `cast(IntegerType)`): floor-to-int
    * bucketing then count. Explicit floor() because bare double→int CAST
    * truncates in Spark but rounds in DuckDB. (P9)
    */
  private def q12(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(floor(col("l_quantity")).cast("long").as("qty_int"))
      .groupBy("qty_int")
      .agg(count(lit(1)).as("n"))
      .orderBy("qty_int")

  private val q12Sql =
    """SELECT CAST(floor(l_quantity) AS BIGINT) AS qty_int, count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Date-part feature engineering + aggregation. Reference: NB cells
    * 40/48 (`F.year/month`), cells 49/52 (posts per year/month). (D3+A1)
    */
  private def q14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("y", "m")

  private val q14Sql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin

  /** Conditional bucketing: the reference's day/night time-of-day rule
    * (S/kinesis_processing_2.py:96) and media/text CASE
    * (S/kinesis_processing_2.py:93). (D6+M4)
    */
  private def q15(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        when(hour(col("ts")).between(6, 17), "day").otherwise("night").as("tod"),
        when(col("event_type").isin("view", "click"), "passive")
          .otherwise("active").as("kind"))
      .groupBy("tod", "kind")
      .agg(count(lit(1)).as("n"))
      .orderBy("tod", "kind")

  private val q15Sql =
    """SELECT CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS tod,
      |  CASE WHEN event_type IN ('view','click') THEN 'passive' ELSE 'active' END AS kind,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY tod, kind""".stripMargin

  /** Timestamp→string formatting and re-parsing round trip (the reference
    * stores all timestamps as 'yyyy-MM-dd HH:mm:ss' strings — S/kin.py:36,
    * NB cell 39). (F11+D2+D7)
    */
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ds"))
      .groupBy("ds")
      .agg(count(lit(1)).as("n"))
      .orderBy("ds")
      .limit(50)

  private val q16Sql =
    """SELECT strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ds, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY ds LIMIT 50""".stripMargin

  /** Keyed slice: ordered limit (NB cell 18 `LIMIT 5`, S/batch.py:68
    * `[:100]`). (O3+O7+P13)
    */
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
      .limit(100)

  private val q17Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin

  /** Z-score anomaly flags, group-local statistics — the reference's
    * per-batch anomaly detector (S/kinesis_processing_2.py:104-119, M2)
    * with event_type standing in for the micro-batch. Sample stddev
    * (ddof=1) like pandas `.std()`; moments from exact decimal sums so the
    * doubles are bit-identical to the oracle's.
    */
  private def q18(s: SparkSession, d: String): DataFrame = {
    // two-pass shape, not a window: a whole-partition window caps
    // parallelism at #groups (5 here) and buffers each group on one task —
    // the groupBy+broadcast-join form computes the same exact decimal
    // moments with full map-side parallelism and scales to any group size
    val dec = col("value").cast("decimal(12,2)")
    val stats = Tables.events(s, d)
      .groupBy("event_type")
      .agg(sum(dec).cast("double").as("sx"),
        sum((dec * dec).cast("decimal(30,4)")).cast("double").as("sx2"),
        count(lit(1)).cast("double").as("cnt"))
    val mean = col("sx") / col("cnt")
    val std = sqrt((col("sx2") * col("cnt") - col("sx") * col("sx"))
      / (col("cnt") * (col("cnt") - lit(1.0))))
    Tables.events(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        // zero-variance guard — see Pipeline.batchAnomalies
        when(std > 0, (col("value") - mean) / std).as("z"))
      .filter(abs(col("z")) > 2.5)
      .orderBy("event_id")
  }

  private val q18Sql =
    """WITH s AS (
      |  SELECT event_id, event_type, value,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY event_type) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(30,4))) OVER (PARTITION BY event_type) AS DOUBLE) AS sx2,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
      |  FROM events)
      |SELECT event_id, event_type, value,
      |  CASE WHEN sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) > 0
      |    THEN (value - sx / n) / sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) END AS z
      |FROM s
      |WHERE abs(CASE WHEN sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) > 0
      |  THEN (value - sx / n) / sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) END) > 2.5
      |ORDER BY event_id""".stripMargin

  /** Population stats per group: mean + sample stddev (the Z-score inputs,
    * S/kinesis_processing_2.py:115; pandas `.std()` is ddof=1). (A5)
    */
  private def q19(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dmean(col("value")).as("mean_v"),
        dstddev(col("value")).as("std_v"))
      .orderBy("event_type")

  private val q19Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS mean_v,
      |  CASE WHEN count(value) > 1 THEN
      |    sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(30,4))) AS DOUBLE) * CAST(count(value) AS DOUBLE)
      |          - CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) * CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE))
      |         / (CAST(count(value) AS DOUBLE) * (CAST(count(value) AS DOUBLE) - 1.0)))
      |  END AS std_v
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Popularity score — the reference's engineered metric
    * score×upvote_ratio + 0.5×num_comments (S/kinesis_processing_2.py:90)
    * with events stand-ins: value×(k/100) + 0.5×(event_id mod 97).
    * Missing ratio defaults to 0 via coalesce (S/proc.py `.get(…, 0)`).
    * Top-20. (M1+P12+O4)
    */
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        (col("value") * coalesce(
          expr("try_cast(get_json_object(props, '$.k') as double)") / 100.0,
          lit(0.0))
          + lit(0.5) * (col("event_id") % 97).cast("double")).as("pop"))
      .orderBy(desc("pop"), asc("event_id"))
      .limit(20)

  private val q20Sql =
    """SELECT event_id,
      |  value * coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0, 0.0)
      |    + 0.5 * CAST(event_id % 97 AS DOUBLE) AS pop
      |FROM events ORDER BY pop DESC, event_id LIMIT 20""".stripMargin

  /** Distinct aggregation (beyond-reference completeness): exact distinct
    * user count per type. Expands to a two-phase aggregate in Spark.
    */
  private def q21(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private val q21Sql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Analytic lag: per-user value delta between consecutive events
    * (beyond-reference window completeness: lag + frame ordering).
    */
  private def q22(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, d)
      .filter(col("user_id") < 20)
      .select(col("event_id"), col("user_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
      .orderBy("event_id")
  }

  private val q22Sql =
    """SELECT event_id, user_id,
      |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
      |FROM events WHERE user_id < 20 ORDER BY event_id""".stripMargin

  /** Ranked top-3 per group with rank() (beyond-reference: rank vs
    * row_number tie semantics).
    */
  private def q23(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_orderpriority", "rnk", "o_orderkey")
  }

  private val q23Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(rank() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin

  /** Salted two-phase aggregation — the skew-mitigation pattern at 100 TB:
    * phase 1 aggregates on (key, salt) so one hot key spreads over 16
    * reducers; phase 2 merges the partials per key. Decimal partials merge
    * exactly, so the result is identical to the direct groupBy — which is
    * exactly what the (unsalted) oracle asserts.
    */
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(sum(col("value").cast("decimal(18,4)")).as("part_sum"),
        count(lit(1)).as("part_n"))
      .groupBy("event_type")
      .agg(sum(col("part_sum")).cast("double").as("sum_v"),
        sum(col("part_n")).as("n"))
      .orderBy("event_type")

  private val q24Sql =
    """SELECT event_type,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** ROLLUP hierarchy totals (beyond-reference completeness: grouping
    * sets). The NULL subtotal rows are made hash-stable by coalescing the
    * grouped keys to sentinel strings in both engines.
    */
  private def q25(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .rollup(col("event_type"),
        when(hour(col("ts")).between(6, 17), "day").otherwise("night").as("tod"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      .select(coalesce(col("event_type"), lit("<all>")).as("event_type"),
        coalesce(col("tod"), lit("<all>")).as("tod"),
        col("n"), col("sum_v"))
      .orderBy("event_type", "tod")

  private val q25Sql =
    """SELECT coalesce(event_type, '<all>') AS event_type,
      |  coalesce(tod, '<all>') AS tod, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM (SELECT event_type,
      |        CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS tod,
      |        value
      |      FROM events)
      |GROUP BY ROLLUP (event_type, tod)
      |ORDER BY event_type, tod""".stripMargin

  /** Pivot-shaped aggregation (conditional aggregation — the portable
    * form of PIVOT): per-hour counts of each event type as columns.
    */
  private def q26(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(hour(col("ts")).cast("long").as("hr"))
      .agg(
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "error", 1)).as("n_error"))
      .orderBy("hr")

  private val q26Sql =
    """SELECT CAST(hour(ts) AS BIGINT) AS hr,
      |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
      |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  /** Approximate distinct (HLL++). Sketch implementations differ across
    * engines, so the ESTIMATE itself can't be hash-compared — instead the
    * frame emits the exact distinct count alongside a `within_bound`
    * verdict (|estimate − exact| ≤ 5% of exact = 2.5× the requested 2%
    * rsd) and the oracle pins the exact counts plus verdict TRUE — the
    * q187 tolerance-verdict pattern (VERDICT r8 task 2). The raw estimate
    * is still produced by the very same plan (the verdict derives from
    * it); EdaSpec additionally asserts the numeric bound on the estimate
    * values directly.
    *
    * Scale note: the exact count_distinct here exists only to JUDGE the
    * sketch at test SF — the 100 TB user runs the sketch alone (one pass,
    * bounded buffers, map-side mergeable); the exact pass is the
    * per-group shuffle the sketch replaces.
    */
  /** The estimate-bearing frame (EdaSpec asserts the numeric bound on
    * these raw values; q27 folds them into the oracled verdict).
    */
  private[graft] def q27Raw(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count_distinct(col("user_id")).as("n_users_exact"),
        count(lit(1)).as("n"))

  private def q27(s: SparkSession, d: String): DataFrame =
    q27Raw(s, d)
      .select(col("event_type"), col("n_users_exact"), col("n"),
        (abs(col("approx_users") - col("n_users_exact")) * 100 <=
          col("n_users_exact") * 5).as("within_bound"))
      .orderBy("event_type")

  private val q27Sql =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
      |  count(*) AS n, TRUE AS within_bound
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q248

  /** RELATIONAL HLL — a HyperLogLog distinct sketch built entirely from
    * relational primitives, with its MERGE LAW proven on data. q27 uses
    * Spark's built-in `approx_count_distinct`, whose sketch bytes are
    * engine-opaque, so only a tolerance verdict is hash-comparable; here
    * the registers ARE a (group, bucket, max-rho) frame, so the ESTIMATE
    * ITSELF is an exact int64 both engines reproduce bit-for-bit — and
    * register-wise max over shard sketches must equal the direct sketch
    * (max over all = max of maxes), which is precisely the partial/final
    * aggregation contract that lets 1000 executors sketch a 100 TB
    * column and combine 64-register summaries instead of rows (q240 is
    * the KMV twin of this proof).
    *
    * Construction (m = 256, p = 8): h = avalanche-scrambled polyHash
    * (q173's mix — raw polynomial hashes of short digit strings cluster
    * mod 2^k), bucket = h mod 256, rho = leading-zero rank of the
    * remaining 22-bit word (23 − bitlength, bitlength via the binary
    * string — no libm); Σ 2^(−rho) is DYADIC, kept exact as Σ 2^(23−rho)
    * in int64; the raw estimate is α₂₅₆·m²·2²³ div S with α₂₅₆ = 0.718
    * in milli fixed point, and the canonical small-range branch (V empty
    * registers > 0 and raw ≤ 2.5m) switches to linear counting m·ln(m/V)
    * via the repo's
    * fplog2 (piecewise-linear log2 — documented divergence from libm;
    * EdaSpec pins empirical accuracy vs the exact counts, and the
    * fixture crosses BOTH branches across scale factors).
    */
  /** round(256·ln(256/V)) for V = 1..255 — the exact linear-counting
    * values, pinned as shared literals (both engines read THIS list).
    */
  private val HllLcTable: Seq[Long] =
    (1 to 255).map(v => math.round(256.0 * math.log(256.0 / v)))

  private def q248(s: SparkSession, d: String): DataFrame = {
    // Cubic avalanche: raw polyHash of short digit strings is
    // polynomial-structured, and LINEAR scrambles of it stay
    // low-discrepancy (too-even bucket occupancy breaks the
    // linear-counting branch upward — measured 136 occupied where
    // Poisson expects 113). The cubic (h³ + 40503h + 12345) mod p mix
    // restores Poisson-like occupancy (116 observed vs 113.5 expected).
    val pts = Tables.events(s, d)
      .select(col("event_type"), (col("event_id") % 2).as("shard"),
        polyHash(col("user_id").cast("string"), 13L).as("h0"))
      .select(col("event_type"), col("shard"),
        pmod(pmod(col("h0") * col("h0"), lit(1000000007L)) * col("h0")
          + lit(40503L) * col("h0") + lit(12345L), lit(1000000007L)).as("h"))
      .select(col("event_type"), col("shard"),
        (col("h") % 256).as("bucket"),
        expr("h div 256").as("w"))
      .select(col("event_type"), col("shard"), col("bucket"),
        when(col("w") === 0, lit(23L))
          .otherwise(lit(23L) - expr("length(bin(w))")).as("rho"))
    val direct = pts.groupBy("event_type", "bucket").agg(max(col("rho")).as("r"))
    val merged = pts.groupBy("event_type", "shard", "bucket")
      .agg(max(col("rho")).as("rs"))
      .groupBy("event_type", "bucket").agg(max(col("rs")).as("rm"))
    val law = direct.join(merged, Seq("event_type", "bucket"), "full_outer")
      .groupBy("event_type")
      .agg(sum(when(col("r") <=> col("rm"), 0L).otherwise(1L)).as("n_mismatch"))
    def estimate(reg: DataFrame, rCol: String): DataFrame =
      reg.groupBy("event_type")
        .agg(count(lit(1)).as("n_present"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), 23 - $rCol)")).as("sp"))
        .select(col("event_type"), col("n_present"),
          (col("sp") + (lit(256L) - col("n_present")) * (1L << 23)).as("s_scaled"),
          (lit(256L) - col("n_present")).as("v_empty"))
        .select(col("event_type"), col("n_present"), col("v_empty"),
          expr(s"${718L * 65536L * (1L << 23)} div (1000 * s_scaled)").as("raw"))
        .select(col("event_type"), col("n_present"), col("v_empty"),
          when(col("v_empty") > 0 && col("raw") <= 640,
            element_at(array(HllLcTable.map(lit): _*), col("v_empty").cast("int")))
            .otherwise(col("raw")).as("est"))
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_users_exact"))
    estimate(direct, "r")
      .select(col("event_type"), col("n_present"), col("v_empty"),
        col("est").as("est_hll"))
      .join(estimate(merged, "rm").select(col("event_type"), col("est").as("est_merged")),
        "event_type")
      .join(law, "event_type")
      .join(exact, "event_type")
      .select(col("event_type"), col("n_users_exact"), col("n_present"),
        col("v_empty"), col("est_hll"), col("est_merged"),
        (col("n_mismatch") === 0 && col("est_hll") === col("est_merged"))
          .as("merge_law_holds"))
      .orderBy("event_type")
  }

  private val q248Sql = {
    val lc = HllLcTable.mkString("[", ", ", "]") + "[v_empty]"
    s"""WITH pts AS (
       |  SELECT event_type, event_id % 2 AS shard,
       |    (((h0 * h0) % 1000000007) * h0 + 40503 * h0 + 12345) % 1000000007 AS h
       |  FROM (SELECT event_type, event_id,
       |          ${polyHashSql("CAST(user_id AS VARCHAR)", 13L)} AS h0
       |        FROM events)),
       |rhos AS (
       |  SELECT event_type, shard, h % 256 AS bucket,
       |    CASE WHEN h // 256 = 0 THEN 23
       |         ELSE 23 - length(printf('%b', h // 256)) END AS rho
       |  FROM pts),
       |direct AS MATERIALIZED (
       |  SELECT event_type, bucket, max(rho) AS r
       |  FROM rhos GROUP BY 1, 2),
       |mrg AS MATERIALIZED (
       |  SELECT event_type, bucket, max(rs) AS rm FROM (
       |    SELECT event_type, shard, bucket, max(rho) AS rs
       |    FROM rhos GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2),
       |law AS (
       |  SELECT coalesce(d.event_type, m.event_type) AS event_type,
       |    CAST(sum(CASE WHEN d.r IS NOT DISTINCT FROM m.rm THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_mismatch
       |  FROM direct d FULL OUTER JOIN mrg m
       |    ON d.event_type = m.event_type AND d.bucket = m.bucket
       |  GROUP BY 1),
       |estd AS (
       |  SELECT event_type, n_present, v_empty,
       |    CASE WHEN v_empty > 0 AND raw <= 640 THEN $lc ELSE raw END AS est
       |  FROM (
       |    SELECT event_type, CAST(count(*) AS BIGINT) AS n_present,
       |      256 - count(*) AS v_empty,
       |      ${718L * 65536L * (1L << 23)}
       |        // (1000 * (sum(CAST(1 AS BIGINT) << (23 - r))
       |            + (256 - count(*)) * ${1L << 23})) AS raw
       |    FROM direct GROUP BY 1)),
       |estm AS (
       |  SELECT event_type,
       |    CASE WHEN v_empty > 0 AND raw <= 640 THEN $lc ELSE raw END AS est
       |  FROM (
       |    SELECT event_type, 256 - count(*) AS v_empty,
       |      ${718L * 65536L * (1L << 23)}
       |        // (1000 * (sum(CAST(1 AS BIGINT) << (23 - rm))
       |            + (256 - count(*)) * ${1L << 23})) AS raw
       |    FROM mrg GROUP BY 1)),
       |ex AS (
       |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, x.n_users_exact, e.n_present, e.v_empty,
       |  CAST(e.est AS BIGINT) AS est_hll, CAST(m.est AS BIGINT) AS est_merged,
       |  (l.n_mismatch = 0 AND e.est = m.est) AS merge_law_holds
       |FROM estd e
       |JOIN estm m ON m.event_type = e.event_type
       |JOIN law l ON l.event_type = e.event_type
       |JOIN ex x ON x.event_type = e.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  /** Set operations beyond UNION (SURVEY §2.7 notes the reference has
    * none — owed for engine completeness): INTERSECT and EXCEPT with
    * distinct-set semantics.
    */
  private def q28(s: SparkSession, d: String): DataFrame = {
    def usersOf(tpe: String) = Tables.events(s, d)
      .filter(col("event_type") === tpe && col("value") > 180.0)
      .select("user_id")
    val (buyers, clickers, errorers) =
      (usersOf("purchase"), usersOf("click"), usersOf("error"))
    buyers.intersect(clickers).except(errorers)
      .orderBy("user_id")
  }

  private val q28Sql =
    """(SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 180.0
      | INTERSECT
      | SELECT user_id FROM events WHERE event_type = 'click' AND value > 180.0)
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'error' AND value > 180.0
      |ORDER BY user_id""".stripMargin

  /** Analytic completeness: RANGE frame running sum and ntile quartiles.
    * The range frame sums all rows within ±50 of the current value —
    * value-based, not row-based (a genuinely different frame semantics
    * than W2's ROWS frame).
    */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val wRange = Window.partitionBy("event_type").orderBy("value")
      .rangeBetween(-50, 0)
    val wTile = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id") < 10)
      .select(col("event_id"), col("event_type"), col("value"),
        count(lit(1)).over(wRange).as("n_within_50"),
        ntile(4).over(wTile).cast("long").as("quartile"))
      .orderBy("event_id")
  }

  private val q29Sql =
    """SELECT event_id, event_type, value,
      |  count(*) OVER (PARTITION BY event_type ORDER BY value
      |    RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS n_within_50,
      |  CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS quartile
      |FROM events WHERE user_id < 10 ORDER BY event_id""".stripMargin

  /** Correlated scalar subquery (TPC-H Q17 shape) through the `spark.sql`
    * surface: small-quantity lineitems vs 0.5× their part's mean quantity.
    * Catalyst decorrelates this into an aggregate + join — asserted in
    * PlanSpec (no per-row subquery execution survives). The mean uses the
    * decimal-exact formulation on both sides (Det rules). The temp view
    * lives on this query's session clone.
    */
  private def q13(s: SparkSession, d: String): DataFrame = Sessions.isolated(s) { s =>
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_qty_revenue,
        |  count(*) AS n
        |FROM graft_lineitem l1
        |WHERE l_quantity < (
        |  SELECT 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |  FROM graft_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_partkey
        |ORDER BY l_partkey
        |LIMIT 100""".stripMargin)
  }

  private val q13Sql =
    """SELECT l_partkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_qty_revenue,
      |  count(*) AS n
      |FROM lineitem l1
      |WHERE l_quantity < (
      |  SELECT 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY l_partkey
      |ORDER BY l_partkey
      |LIMIT 100""".stripMargin

  /** Range (interval) join: each purchase matched to the same user's
    * clicks in the preceding 10 minutes. The time predicate compares
    * FLOOR-EPOCH-SECONDS — exact integers on both engines, immune to the
    * ns-vs-µs precision gap of raw timestamp comparison. Equi on user +
    * inequality on time → sort-merge join with a band condition; at scale
    * this is the shape to co-partition by user and, for pure time-time
    * joins, to bucketize into overlapping time ranges.
    */
  private def q76(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_sec").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_sec").as("c_ts"))
    p.join(c, Seq("user_id"))
      .filter(col("c_ts") >= col("p_ts") - 600 && col("c_ts") < col("p_ts"))
      .select("user_id", "purchase_id", "click_id")
      .orderBy("purchase_id", "click_id")
  }

  private val q76Sql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events)
      |SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      |FROM ev p JOIN ev c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts_sec >= p.ts_sec - 600 AND c.ts_sec < p.ts_sec
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Analytic-function completeness: percent_rank / cume_dist (rational
    * formulas over exact integers — deterministic), first/last value over
    * an explicit frame with a total order.
    */
  private def q77(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("o_orderkey")).over(wFrame).as("cheapest_key"),
        last(col("o_orderkey")).over(wFrame).as("priciest_key"))
      .orderBy("o_orderkey")
  }

  private val q77Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_key,
      |  last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key
      |FROM orders WHERE o_orderkey < 2000
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Date arithmetic completeness: day diffs vs a fixed date, month adds,
    * month-end snapping, day-of-week.
    */
  private def q78(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"),
        datediff(lit("2024-06-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_before_cutoff"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_3m"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .orderBy("o_orderkey")

  private val q78Sql =
    """SELECT o_orderkey,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-06-01') AS BIGINT) AS days_before_cutoff,
      |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
      |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow
      |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin

  /** Map-typed columns: build a map per row, explode entries back to rows,
    * aggregate — the map construction/flattening surface.
    */
  private def q79(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(explode(map(
        lit("type"), col("event_type"),
        lit("tod"), when(hour(col("ts")).between(6, 17), "day").otherwise("night")))
        .as(Seq("k", "v")))
      .groupBy("k", "v")
      .agg(count(lit(1)).as("n"))
      .orderBy("k", "v")

  private val q79Sql =
    """SELECT k, v, count(*) AS n FROM (
      |  SELECT 'type' AS k, event_type AS v FROM events
      |  UNION ALL
      |  SELECT 'tod' AS k,
      |    CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS v
      |  FROM events)
      |GROUP BY k, v ORDER BY k, v""".stripMargin

  /** Six-table analytic join, TPC-H Q5 shape (local-supplier revenue by
    * nation): lineitem ⋈ orders ⋈ customer ⋈ supplier (with the
    * local-supplier c_nationkey = s_nationkey condition riding the join)
    * ⋈ nation ⋈ region, region filtered before the join so only matching
    * nations survive. The plan the classic warehouse query deserves:
    * nation/region broadcast (5/25 rows at any SF — at 100 TB they are
    * still KBs), the date filter pushes to the orders scan, and the big
    * three tables hash-join on their keys with AQE free to re-plan at
    * runtime. Revenue accumulates through decimal (Det rules).
    */
  private def q202(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))

  private val q202Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** PIVOT — the wide-format companion to q93's UNPIVOT: per-hour-bucket
    * event counts spread into one column per event type. The value list
    * is EXPLICIT (the five types the reference's schema fixes): with it,
    * Spark's pivot skips the extra distinct-values job AND the output
    * schema is static, which is what makes the operator both
    * single-shuffle (one partial-aggregated pivot_first pass) and
    * mirrorable as CASE-WHEN conditional aggregates — the form every
    * engine's PIVOT desugars to.
    */
  private def q203(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy((hour(col("ts")) % 6).cast("long").as("hr_bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)
      .orderBy("hr_bucket")

  private val q203Sql =
    """SELECT CAST(hour(ts) % 6 AS BIGINT) AS hr_bucket,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q218

  /** COHORT RETENTION — the product-analytics staple the funnel (q125)
    * and sessionization (q68) family was missing: users are cohorted by
    * their FIRST-SEEN day, and each (cohort, day-offset) cell counts how
    * many of that cohort's users were active again `offset` days later —
    * the diagonal retention matrix every growth dashboard draws.
    * Retention is reported in basis points of the cohort's size
    * (integer division — hash-exact).
    *
    * Scale: first-seen is one min-aggregate on user_id; activity days
    * dedupe map-side via distinct (user, day); the matrix join is
    * activity ⋈ first-seen on user_id — one shuffle each, and the output
    * is cohorts × offsets (tiny) no matter how many events. The classic
    * trap — a window over each user's full event history — is avoided
    * entirely; nothing here holds per-user state beyond the min.
    */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
    val active = ev.distinct()
    val cohortSize = firstSeen.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    active.join(firstSeen, "user_id")
      .select(col("cohort"), datediff(col("day"), col("cohort")).cast("long").as("offset"),
        col("user_id"))
      .groupBy("cohort", "offset").agg(count(lit(1)).as("n_active"))
      .join(cohortSize, "cohort")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("offset"), col("n_active"), col("n_users"),
        expr("n_active * 10000 div n_users").as("retention_bp"))
      .orderBy("cohort", "offset")
  }

  private val q218Sql =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |fs AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
      |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      |       FROM fs GROUP BY cohort),
      |act AS (SELECT DISTINCT user_id, day FROM ev),
      |cell AS (
      |  SELECT f.cohort, CAST(a.day - f.cohort AS BIGINT) AS "offset",
      |    CAST(count(*) AS BIGINT) AS n_active
      |  FROM act a JOIN fs f ON f.user_id = a.user_id
      |  GROUP BY f.cohort, a.day - f.cohort)
      |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort, c."offset",
      |  c.n_active, s.n_users,
      |  c.n_active * 10000 // s.n_users AS retention_bp
      |FROM cell c JOIN cs s ON s.cohort = c.cohort
      |ORDER BY cohort, c."offset"""".stripMargin

  // ---------------------------------------------------------------- q231

  /** MULTI-TOUCH ATTRIBUTION — the revenue-credit complement of the
    * funnel (q125) and cohort-retention (q218) family: every purchase's
    * revenue is credited back to the view/click touchpoints the same
    * user produced in the preceding 7 days, under the two canonical
    * models side by side — LAST-TOUCH (full credit to the most recent
    * touch) and LINEAR (equal split). Purchases with no in-window touch
    * credit an explicit `organic` channel, so total credited cents ==
    * total purchase cents under BOTH models (the books balance — the
    * property AttributionSpec pins).
    *
    * Determinism: revenue is floor(DECIMAL(18,4) × 100) integer cents;
    * the linear split is integer division with the remainder assigned to
    * the LAST touch (ties on touch ts broken by event_id), so every cent
    * is placed identically in both engines.
    *
    * Scale: the touch↔purchase match is an equi-join on user_id with the
    * 7-day range as a residual predicate — one shuffle keyed on user_id,
    * per-user state bounded by that user's 7-day activity (never a
    * cross-user product, never a global window). The per-purchase
    * rank/count windows partition by purchase id — same key locality as
    * the join output. Output is |channels| rows regardless of input size.
    */
  private def q231(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"),
        expr("CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)").as("cents"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        col("ts").as("t_ts"), col("event_type").as("t_channel"))
    val joined = p.join(t,
      p("user_id") === t("t_user") &&
        t("t_ts") < p("p_ts") &&
        t("t_ts") >= p("p_ts") - expr("INTERVAL 7 DAYS"),
      "left")
    val w = Window.partitionBy("p_id").orderBy(asc("t_ts"), asc("t_id"))
    val credited = joined
      .withColumn("rk", row_number().over(w))
      .withColumn("n_t", count(col("t_id")).over(Window.partitionBy("p_id")))
      .withColumn("channel", coalesce(col("t_channel"), lit("organic")))
      .withColumn("lin_cents",
        when(col("n_t") === 0, col("cents"))
          .otherwise(
            expr("cents div n_t") +
              when(col("rk") === col("n_t"),
                col("cents") - expr("cents div n_t") * col("n_t"))
                .otherwise(lit(0L))))
      .withColumn("lt_cents",
        when(col("n_t") === 0 || col("rk") === col("n_t"), col("cents"))
          .otherwise(lit(0L)))
    credited.groupBy("channel")
      .agg(count(col("t_id")).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum("lin_cents").as("lin_cents"),
        sum("lt_cents").as("lt_cents"))
      .orderBy("channel")
  }

  private val q231Sql =
    """WITH p AS (
      |  SELECT user_id, event_id AS p_id, ts AS p_ts,
      |    CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id AS t_user, event_id AS t_id, ts AS t_ts,
      |    event_type AS t_channel
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT p.*, t.t_id, t.t_ts, t.t_channel
      |  FROM p LEFT JOIN t
      |    ON p.user_id = t.t_user
      |   AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
      |c AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rk,
      |    count(t_id) OVER (PARTITION BY p_id) AS n_t,
      |    coalesce(t_channel, 'organic') AS channel
      |  FROM j),
      |cr AS (
      |  SELECT channel, t_id, p_id,
      |    CASE WHEN n_t = 0 THEN cents
      |         ELSE cents // n_t +
      |           CASE WHEN rk = n_t THEN cents - (cents // n_t) * n_t
      |                ELSE 0 END END AS lin_cents,
      |    CASE WHEN n_t = 0 OR rk = n_t THEN cents ELSE 0 END AS lt_cents
      |  FROM c)
      |SELECT channel, count(t_id) AS n_touches,
      |  CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
      |  CAST(sum(lin_cents) AS BIGINT) AS lin_cents,
      |  CAST(sum(lt_cents) AS BIGINT) AS lt_cents
      |FROM cr GROUP BY channel ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------- q233

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVALS — the statistical-rigor step
    * the eval family (q138 accuracy, q139 AUC, q168 slices, q169
    * calibration) reports around: a point metric without an interval is
    * uninterpretable when two pipeline variants differ by 0.3%. The
    * classic resample-with-replacement bootstrap cannot run at corpus
    * scale (each replicate would be a full shuffle of a 100 TB table);
    * the POISSON bootstrap (Chamandy et al., Google 2012 — "Estimating
    * uncertainty for massive data streams") replaces it with one
    * streaming pass: row i's multiplicity in replicate b is
    * Poisson(1)-distributed, independent per (i, b), so ALL B replicate
    * sums accumulate in a single scan + one (group, b) aggregate.
    *
    * Determinism: multiplicities come from a hash of (doc_id, b) mapped
    * through the exact integer inverse-CDF of Poisson(1) (cutoffs =
    * cumulative probabilities × 10⁶, tail capped at 6); replicate means
    * are fixed-point `sum(x·m)·10⁴ div sum(m)`; the 95% interval is
    * nearest-rank over the B = 200 replicate means with (mean, b)
    * tiebreak — every value integer, every rank unique, both engines
    * bit-identical.
    *
    * Scale: the explode is a constant B-fold fan-out feeding ONE shuffle
    * keyed on (lang, b) — B·|langs| partial aggregates, corpus read once;
    * the rank step runs on B·|langs| rows (hundreds), nothing
    * corpus-sized ever re-sorts. This is the published production shape
    * for CI at scale.
    */
  private def q233(s: SparkSession, d: String): DataFrame = {
    val B = 200
    // integer inverse-CDF of Poisson(1): cumulative ×1e6, tail cap 6
    val cuts = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars").cast("long").as("x"))
    val rep = docs.select(col("doc_id"), col("lang"), col("x"),
      explode(sequence(lit(0), lit(B - 1))).as("b"))
      // mix b BEFORE the multiplicative scramble: a hash linear in b
      // (doc·c + b·k) gives every replicate nearly the same residue per
      // doc — 200 copies of ONE subsample, not 200 independent ones
      .withColumn("r",
        pmod(pmod(col("doc_id") + col("b") * 1000003L + 13L, lit(1000000007L))
          * 2654435761L, lit(1000000007L)) % 1000000L)
    // fold from the LARGEST cutoff inward so the smallest matching
    // cutoff ends up outermost (first-match-wins semantics)
    val mExpr = cuts.zipWithIndex.reverse.foldLeft(lit(6L)) {
      case (acc, (c, i)) => when(col("r") < c, lit(i.toLong)).otherwise(acc)
    }
    val bmeans = rep.withColumn("m", mExpr)
      .groupBy("lang", "b")
      .agg(sum(col("x") * col("m")).as("sx"), sum("m").as("sm"))
      .filter(col("sm") > 0)
      .select(col("lang"), col("b"),
        expr("sx * 10000 div sm").as("mean_fp"))
    val w = Window.partitionBy("lang").orderBy(asc("mean_fp"), asc("b"))
    val ranked = bmeans.withColumn("rk", row_number().over(w))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("lang")))
    val ci = ranked.groupBy("lang")
      .agg(max("nb").as("b_used"),
        sum(when(col("rk") === ceil(col("nb") * 0.025), col("mean_fp"))).as("lo_fp"),
        sum(when(col("rk") === ceil(col("nb") * 0.975), col("mean_fp"))).as("hi_fp"))
    val point = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(x) * 10000 div count(*)").as("point_fp"))
    point.join(ci, "lang")
      .select(col("lang"), col("n_docs"), col("point_fp"),
        col("lo_fp"), col("hi_fp"), col("b_used"))
      .orderBy("lang")
  }

  private val q233Sql =
    """WITH rep AS MATERIALIZED (
      |  SELECT lang, CAST(n_chars AS BIGINT) AS x, b,
      |    ((doc_id + b * 1000003 + 13) % 1000000007) * 2654435761 % 1000000007 % 1000000 AS r
      |  FROM documents, (SELECT unnest(range(0, 200)) AS b)),
      |wm AS MATERIALIZED (
      |  SELECT lang, b, x,
      |    CASE WHEN r < 367879 THEN 0 WHEN r < 735759 THEN 1
      |         WHEN r < 919699 THEN 2 WHEN r < 981012 THEN 3
      |         WHEN r < 996340 THEN 4 WHEN r < 999406 THEN 5
      |         ELSE 6 END AS m
      |  FROM rep),
      |bmeans AS MATERIALIZED (
      |  SELECT lang, b, sum(x * m) * 10000 // sum(m) AS mean_fp
      |  FROM wm GROUP BY lang, b HAVING sum(m) > 0),
      |ranked AS MATERIALIZED (
      |  SELECT lang, b, mean_fp,
      |    row_number() OVER (PARTITION BY lang ORDER BY mean_fp, b) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS nb
      |  FROM bmeans),
      |ci AS (
      |  SELECT lang, max(nb) AS b_used,
      |    sum(CASE WHEN rk = ceil(nb * 0.025) THEN mean_fp END) AS lo_fp,
      |    sum(CASE WHEN rk = ceil(nb * 0.975) THEN mean_fp END) AS hi_fp
      |  FROM ranked GROUP BY lang),
      |pt AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    sum(CAST(n_chars AS BIGINT)) * 10000 // count(*) AS point_fp
      |  FROM documents GROUP BY lang)
      |SELECT p.lang, p.n_docs, CAST(p.point_fp AS BIGINT) AS point_fp,
      |  CAST(c.lo_fp AS BIGINT) AS lo_fp, CAST(c.hi_fp AS BIGINT) AS hi_fp,
      |  CAST(c.b_used AS BIGINT) AS b_used
      |FROM pt p JOIN ci c ON p.lang = c.lang
      |ORDER BY p.lang""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q248_hll_registers", q248, Some(q248Sql),
      "relational HLL (m=256, p=8): dyadic-exact estimate hash-oracled directly + register-wise merge-law proof (shard max == direct)"),
    QueryDef("q245_leadlag_corr", q245, Some(q245Sql),
      "lead-lag cross-correlation of event-type daily series (lags -3..3): exact int64 moments, best-lag flag"),
    QueryDef("q246_benford_audit", q246, Some(q246Sql),
      "Benford first-digit audit of order totals: pinned basis-point expectations, int64 chi-square contributions"),
    QueryDef("q242_weighted_percentiles", q242, Some(q242Sql),
      "exact quantity-weighted p50/p90 unit price per priority: cumulative-weight nearest-rank in one window pass, no per-unit explode"),
    QueryDef("q241_rolling_percentiles", q241, Some(q241Sql),
      "trailing-7-day exact p50/p95 per event type and day: bounded x7 explode + broadcast spine + per-cell nearest-rank"),
    QueryDef("q237_ewma_chart", q237, Some(q237Sql),
      "EWMA control chart (α=1/4) over daily event volumes: exact integer recurrence + 2× spike verdicts, mirrored by sequential recursion"),
    QueryDef("q233_bootstrap_ci", q233, Some(q233Sql),
      "Poisson-bootstrap 95% CI for per-lang mean doc length: hash-deterministic multiplicities, one-pass B=200 replicates, nearest-rank interval"),
    QueryDef("q231_attribution", q231, Some(q231Sql),
      "multi-touch revenue attribution: last-touch + linear credit over 7-day touch windows, organic balance"),
    QueryDef("q218_cohort_retention", q218, Some(q218Sql),
      "cohort retention matrix: first-seen-day cohorts x day-offset activity, retention in basis points"),
    QueryDef("q203_pivot", q203, Some(q203Sql),
      "PIVOT with an explicit value list: single-shuffle wide-format counts"),
    QueryDef("q202_local_supplier_revenue", q202, Some(q202Sql),
      "TPC-H Q5 shape: six-table join, broadcast dims, pushed date filter, decimal revenue"),
    QueryDef("q77_window_extras", q77, Some(q77Sql), "percent_rank/cume_dist/first/last"),
    QueryDef("q78_date_math", q78, Some(q78Sql), "date arithmetic family"),
    QueryDef("q79_map_explode", q79, Some(q79Sql), "map build + entry explode"),
    QueryDef("q76_range_join", q76, Some(q76Sql), "time-band interval join"),
    QueryDef("q13_correlated_subq", q13, Some(q13Sql), "correlated scalar subquery (decorrelated)"),
    QueryDef("q28_setops", q28, Some(q28Sql), "INTERSECT/EXCEPT distinct set ops"),
    QueryDef("q29_range_ntile", q29, Some(q29Sql), "RANGE frame + ntile analytics"),
    QueryDef("q25_rollup", q25, Some(q25Sql), "ROLLUP grouping-set totals"),
    QueryDef("q26_pivot_counts", q26, Some(q26Sql), "pivot-shaped conditional agg"),
    QueryDef("q27_approx_distinct", q27, Some(q27Sql),
      "HLL approx distinct, tolerance-verdict oracled (+EdaSpec bound)"),
    QueryDef("q24_salted_agg", q24, Some(q24Sql), "two-phase salted skew aggregation"),
    QueryDef("q01_count_by_type", q01, Some(q01Sql), "A1+O1 groupBy-count ordered"),
    QueryDef("q02_count_type_hour", q02, Some(q02Sql), "A2+D3 two-key count with hour()"),
    QueryDef("q03_grouped_sums", q03, Some(q03Sql), "A3 aliased sums, TPC-H Q1 shape"),
    QueryDef("q05_top1_per_group", q05, Some(q05Sql), "W1 row_number top-1-per-group"),
    QueryDef("q04_topk", q04, Some(q04Sql), "O4 orderBy.limit top-k"),
    QueryDef("q06_running_count", q06, Some(q06Sql), "W2/A7 running per-key count"),
    QueryDef("q07_union_shards", q07, Some(q07Sql), "U1 unionByName of shards"),
    QueryDef("q08_star_join", q08, Some(q08Sql), "inner equi-join, broadcast dims"),
    QueryDef("q09_semi_join", q09, Some(q09Sql), "left-semi EXISTS"),
    QueryDef("q10_anti_join", q10, Some(q10Sql), "left-anti NOT EXISTS"),
    QueryDef("q89_outer_joins", q89, Some(q89Sql), "FULL OUTER + LEFT OUTER with coalesce repair"),
    QueryDef("q91_array_hof", q91, Some(q91Sql), "higher-order array function family"),
    QueryDef("q92_conditional_aggs", q92, Some(q92Sql), "count_if/max_by/min_by/bool aggs"),
    QueryDef("q93_unpivot", q93, Some(q93Sql), "UNPIVOT/melt via stack generator"),
    QueryDef("q94_gap_fill", q94, Some(q94Sql), "date-spine gap-fill + forward-fill"),
    QueryDef("q100_corr", q100, Some(q100Sql), "corr/covar from exact decimal moments"),
    QueryDef("q151_ols_trend", q151, Some(q151Sql),
      "closed-form OLS trend fit per group from exact decimal moments"),
    QueryDef("q96_histogram", q96, Some(q96Sql), "fixed-width histogram profile"),
    QueryDef("q97_cube", q97, Some(q97Sql), "CUBE grouping sets"),
    QueryDef("q98_typed_dataset", q98, Some(q98Sql), "typed Dataset filter/groupByKey/mapGroups"),
    QueryDef("q11_filter_project", q11, Some(q11Sql), "P3+P4 pushed filters"),
    QueryDef("q12_cast_bucket", q12, Some(q12Sql), "P9 cast projection"),
    QueryDef("q14_date_parts", q14, Some(q14Sql), "D3 year/month feature agg"),
    QueryDef("q15_cond_bucket", q15, Some(q15Sql), "D6+M4 CASE bucketing"),
    QueryDef("q16_date_roundtrip", q16, Some(q16Sql), "F11 date_format grouping"),
    QueryDef("q17_limit_slice", q17, Some(q17Sql), "O3 ordered limit"),
    QueryDef("q18_zscore_anomaly", q18, Some(q18Sql), "M2 group-local z-score"),
    QueryDef("q19_mean_std", q19, Some(q19Sql), "A5 mean + sample stddev"),
    QueryDef("q20_popularity_topk", q20, Some(q20Sql), "M1 popularity score top-k"),
    QueryDef("q21_distinct_agg", q21, Some(q21Sql), "countDistinct completeness"),
    QueryDef("q22_lag_delta", q22, Some(q22Sql), "lag() analytic"),
    QueryDef("q23_rank_topn", q23, Some(q23Sql), "rank() top-3 per group"))
}
