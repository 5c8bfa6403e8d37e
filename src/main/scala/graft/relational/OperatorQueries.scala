package graft.relational

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Relational operators beyond the reference's surface: point-in-time
  * (as-of) join and bounded grouped top-k via a typed Aggregator — the two
  * classic "Spark lacks this as a primitive" operators, both built the
  * scale-first way (single shuffle, no per-key materialization).
  */
object OperatorQueries {

  /** AS-OF JOIN (point-in-time lookup): each purchase event picks up the
    * same user's most recent click at-or-before its timestamp.
    *
    * Implementation is the scalable union-window form, NOT a range join:
    * tag build rows (clicks) and probe rows (purchases), union, one window
    * per user ordered by (ts, side) with `last(click_*, ignoreNulls)` over
    * an unbounded-preceding frame — each probe row sees exactly the latest
    * build row at-or-before it. One shuffle on the key, linear in rows,
    * no candidate pairs: at 100 TB this is the difference between an
    * as-of join and an exploding interval join (compare q76, which owes
    * ALL matches in a band, not the latest). Clicks are deduped to one per
    * (user, second) — max event_id wins — so the as-of value is uniquely
    * defined and the DuckDB `ASOF LEFT JOIN` oracle is deterministic.
    */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"), col("value"))
    val clickW = Window.partitionBy("user_id", "ts_sec").orderBy(desc("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .withColumn("rn", row_number().over(clickW)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts_sec"), lit(0).as("side"),
        col("event_id").as("click_id"), col("value").as("click_value"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_sec"), lit(1).as("side"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("double").as("click_value"),
        col("event_id").as("purchase_id"))
    // (ts_sec, side) ordering puts the click first at equal timestamps —
    // exactly ASOF's `probe.ts >= build.ts` inclusivity
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("asof_value", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("purchase_id"), col("user_id"), col("ts_sec"),
        col("asof_click"), col("asof_value"))
  }

  private val q82Sql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
      |  FROM events),
      |c0 AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec ORDER BY event_id DESC) AS rn
      |  FROM ev WHERE event_type = 'click'),
      |c AS (SELECT user_id, ts_sec, event_id AS click_id, value AS click_value
      |      FROM c0 WHERE rn = 1),
      |p AS (SELECT event_id AS purchase_id, user_id, ts_sec
      |      FROM ev WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.ts_sec,
      |  c.click_id AS asof_click, c.click_value AS asof_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_sec >= c.ts_sec
      |ORDER BY purchase_id""".stripMargin

  /** One (price, key) candidate for the bounded top-k buffer. */
  case class PK(price: Double, key: Long)

  /** Bounded top-3 typed Aggregator: the buffer holds AT MOST k elements
    * at every step — grouped top-k without window-sorting each group
    * (row_number ranks and sorts every row of every group; this keeps k
    * per partial aggregate and merges map-side, the shape that survives a
    * billion-row group). Total order (price desc, key asc) on unique keys
    * makes reduce/merge associative-commutative → deterministic output.
    */
  object Top3Agg extends Aggregator[PK, Seq[PK], Seq[PK]] {
    private val k = 3
    private def ord(p: PK): (Double, Long) = (-p.price, p.key)
    override def zero: Seq[PK] = Seq.empty
    override def reduce(b: Seq[PK], a: PK): Seq[PK] =
      (b :+ a).sortBy(ord).take(k)
    override def merge(x: Seq[PK], y: Seq[PK]): Seq[PK] =
      (x ++ y).sortBy(ord).take(k)
    override def finish(r: Seq[PK]): Seq[PK] = r
    override def bufferEncoder: Encoder[Seq[PK]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[PK]] = ExpressionEncoder()
  }

  /** Grouped top-k through the custom Aggregator (UDAF surface): top-3
    * orders by total price per order priority. The window-function
    * formulation is the ORACLE; the Aggregator is the engine path.
    */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val top3 = udaf(Top3Agg)
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
        col("t.key").as("o_orderkey"), col("t.price").as("o_totalprice"))
  }

  private val q83Sql =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderpriority, CAST(rn AS BIGINT) AS rank, o_orderkey, o_totalprice
      |FROM ranked WHERE rn <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  /** Bloom-filter semi-join reduction (runtime-filter pattern): the
    * selective dimension (suppliers with acctbal > 9000) builds a 1024-bit
    * bloom filter RELATIONALLY (two integer hash positions per key,
    * bit_or-aggregated into 16 words), which is broadcast and applied to
    * the fact table BEFORE the exact semi-join — at 100 TB the bloom
    * kills almost every non-matching fact row pre-shuffle, which is the
    * entire cost of a large semi-join. False positives are then removed
    * by the exact join, so the result (and the oracle) is exactly the
    * plain semi-join; BloomSpec pins the pre-filter's selectivity.
    * Integer-only hashing — no engine divergence possible.
    */
  private val BloomBits = 1024L
  private def bloomPos(key: org.apache.spark.sql.Column, salt: Long) =
    pmod(key * lit(2654435761L) + lit(salt), lit(BloomBits))

  private[graft] def bloomWords(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.supplier(s, d)
      .filter(col("s_acctbal") > 9000)
      .select(col("s_suppkey").as("k"))
    val positions = keys.select(explode(array(
      bloomPos(col("k"), 0L), bloomPos(col("k"), 7919L))).as("pos"))
    val setBits = positions
      .groupBy((col("pos") / 64).cast("long").as("word_idx"))
      .agg(bit_or(call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int"))).as("bits"))
    s.range(BloomBits / 64).select(col("id").as("word_idx"))
      .join(setBits, Seq("word_idx"), "left")
      .select(col("word_idx"), coalesce(col("bits"), lit(0L)).as("bits"))
  }

  private def q87(s: SparkSession, d: String): DataFrame = {
    val bloom = bloomWords(s, d)
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("word_idx"), col("bits")))),
        x => x.getField("bits")).as("bloom"))
    def mightContain(key: org.apache.spark.sql.Column, salt: Long) = {
      val pos = bloomPos(key, salt)
      (element_at(col("bloom"), (pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int")))) =!= 0L
    }
    val dim = Tables.supplier(s, d).filter(col("s_acctbal") > 9000)
      .select(col("s_suppkey"))
    val candidates = Tables.lineitem(s, d)
      .crossJoin(broadcast(bloom))
      // the runtime filter: evaluated scan-side, before any shuffle
      .filter(mightContain(col("l_suppkey"), 0L) && mightContain(col("l_suppkey"), 7919L))
      .drop("bloom")
    candidates
      .join(dim, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), graft.util.Det.dsum(col("l_quantity")).as("sum_qty"))
  }

  private val q87Sql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SCD2 (slowly-changing-dimension type 2) history build: collapse each
    * user's event stream into versioned activity-type intervals — a new
    * version opens whenever event_type changes; `valid_to_sec` is the next
    * version's start (NULL = current row). The lag-filter + lead-window
    * pair is the standard warehouse CDC-compaction shape: one shuffle on
    * the key, linear, no state on the driver. Time order is (ts, event_id)
    * so concurrent events resolve identically in both engines.
    */
  /** The SCD2 versioned-history frame (shared by q88 and q175's
    * time-travel read).
    */
  private def scd2Frame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_sec"), col("event_type"))
    val changes = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_sec", lead(col("ts_sec"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type").as("state"),
        col("ts_sec").as("valid_from_sec"), col("valid_to_sec"),
        when(col("valid_to_sec").isNull, 1L).otherwise(0L).as("is_current"))
  }

  private def q88(s: SparkSession, d: String): DataFrame =
    scd2Frame(s, d)

  private val q88Sql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_type
      |  FROM events),
      |marked AS (
      |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_type
      |  FROM ev),
      |changes AS (SELECT * FROM marked WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS BIGINT) AS version,
      |  event_type AS state, ts_sec AS valid_from_sec,
      |  lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS valid_to_sec,
      |  CAST(CASE WHEN lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM changes ORDER BY user_id, version""".stripMargin

  /** Z-order (Morton-curve) clustering layout: bucketize two join/filter
    * dimensions to 4-bit ranks, interleave the bits into an 8-bit Morton
    * code, and cluster rows by its top nibble. The payoff is the layout
    * property the per-bucket stats expose: every bucket spans at most a
    * quarter of EACH dimension's range, so a file layout written in
    * z-bucket order serves min/max-pruned scans on BOTH `l_partkey` and
    * `l_suppkey` predicates — the standard multi-dimensional data-skipping
    * trick (Delta/Iceberg OPTIMIZE ZORDER) expressed as pure integer
    * arithmetic (bit shifts of disjoint powers — addition ≡ OR), fully
    * codegen'd, one aggregate shuffle.
    */
  /** spread(x) interleaves x's 4 bits into even positions: the Morton
    * table z = 2·spread(px) + spread(sy). A 16-entry lookup keeps the
    * generated code a single array index per dim (the 8-term shift/mask
    * expression compiled measurably slower under janino: 4.5 s cold).
    */
  private val mortonSpread: Seq[Long] =
    (0 until 16).map(x => (0 until 4).map(k => ((x >> k) & 1).toLong << (2 * k)).sum)

  private def q124(s: SparkSession, d: String): DataFrame = {
    // 4-bit range ranks from the DATA bounds (scale-factor independent —
    // a fixed divisor calibrated at one sf silently wraps at the next);
    // the bounds row is a broadcast scalar, the standard binning shape
    val li = Tables.lineitem(s, d)
    val bounds = li.agg(max("l_partkey").as("maxp"), max("l_suppkey").as("maxs"))
    val px = expr("l_partkey * 16 div (maxp + 1)").cast("long")  // 0..15
    val sy = expr("l_suppkey * 16 div (maxs + 1)").cast("long")  // 0..15
    val spread = array(mortonSpread.map(lit): _*)
    val z = element_at(spread, (px + 1).cast("int")) * 2 +
      element_at(spread, (sy + 1).cast("int"))
    li.select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(bounds))
      .select(px.as("px"), sy.as("sy"), z.as("z"))
      .withColumn("zbucket", expr("z div 16"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        min("px").as("pk_lo"), max("px").as("pk_hi"),
        min("sy").as("sp_lo"), max("sy").as("sp_hi"))
  }

  private val q124Sql = {
    val m = mortonSpread.mkString("[", ", ", "]")
    val z = s"$m[px + 1] * 2 + $m[sy + 1]"
    s"""WITH bounds AS (
       |  SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs FROM lineitem),
       |ranked AS (
       |  SELECT l_partkey * 16 // (maxp + 1) AS px,
       |         l_suppkey * 16 // (maxs + 1) AS sy
       |  FROM lineitem, bounds),
       |coded AS (
       |  SELECT px, sy, ($z) AS z
       |  FROM ranked)
       |SELECT CAST(z // 16 AS BIGINT) AS zbucket, count(*) AS n,
       |  min(px) AS pk_lo, max(px) AS pk_hi,
       |  min(sy) AS sp_lo, max(sy) AS sp_hi
       |FROM coded GROUP BY 1 ORDER BY zbucket""".stripMargin
  }

  /** Ordered funnel analysis (view → click → purchase): per-user earliest
    * view, earliest click strictly after it, earliest purchase strictly
    * after that, counted per stage. The event axis is `event_id` (the
    * testdata's timestamps are strictly increasing in event_id, so this IS
    * event-time order with a stable tiebreak — TESTDATA invariant pinned
    * in OperatorSpec). Three narrow join+min aggregates, each shuffling
    * only (user, stage-min) pairs — at 100 TB the per-stage frames are one
    * row per surviving user, so the later joins broadcast.
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "event_id", "event_type")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("event_id").as("e1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("event_id") > col("e1"))
      .groupBy("user_id").agg(min("event_id").as("e2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("event_id") > col("e2"))
      .groupBy("user_id").agg(min("event_id").as("e3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
  }

  private val q125Sql =
    """WITH v AS (SELECT user_id, min(event_id) AS e1 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.event_id) AS e2 FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.event_id > v.e1 GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.event_id) AS e3 FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.event_id > c.e2 GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_view_click,
      |  (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin

  /** Row-level lineage audit via `input_file_name()`: every row carries
    * the file it was scanned from — the audit column a 100 TB ingest
    * writes next to each record so bad shards are traceable. Grouping by
    * the basename proves the column is populated and exact (the oracle
    * pins the expected file names and counts per table).
    */
  private def q127(s: SparkSession, d: String): DataFrame = {
    def audit(name: String) =
      Tables.table(s, d, name).select(input_file_name().as("path"))
    // r16 optimization (§1.2 per-task work): count by the RAW path first —
    // constant within a scan partition, so the partial aggregate collapses
    // each partition to ~1 row — and run the regexp on the few distinct
    // paths AFTER, instead of once per scanned row (~800k evaluations).
    // The second groupBy re-merges basenames in case two raw paths share
    // one table-level segment, so results are identical by construction.
    // Extract the TABLE-level "<name>.parquet" path segment, not the
    // leaf basename: under a Spark-written directory layout the leaf
    // is part-*.snappy.parquet and the table name is the parent dir.
    // Leftmost-match keeps the single-file layout working unchanged.
    audit("lineitem").unionAll(audit("orders")).unionAll(audit("customer"))
      .groupBy("path").agg(count(lit(1)).as("pn"))
      .select(regexp_extract(col("path"), "([^/]+\\.parquet)(/|$)", 1).as("file"),
        col("pn"))
      .groupBy("file").agg(sum("pn").as("n"))
  }

  private val q127Sql =
    """SELECT 'customer.parquet' AS file, count(*) AS n FROM customer
      |UNION ALL SELECT 'lineitem.parquet', count(*) FROM lineitem
      |UNION ALL SELECT 'orders.parquet', count(*) FROM orders
      |ORDER BY file""".stripMargin

  /** Native session windows (Spark's built-in `session_window` — the
    * declarative complement of q68's hand-built gap sessionization):
    * per-user sessions close after a 30-minute silence; Catalyst merges
    * overlapping windows in one pass. Oracle = the lag/gap-islands SQL,
    * proving built-in session semantics ≡ the explicit construction
    * (session end = last event + gap).
    */
  private def q128(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") < 30)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("n_events"))

  private val q128Sql =
    """WITH ev AS (
      |  SELECT user_id, ts, epoch_us(ts) AS ts_us, event_id
      |  FROM events WHERE user_id < 30),
      |flagged AS (
      |  SELECT user_id, ts, ts_us, event_id,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w >= 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |grouped AS (
      |  SELECT user_id, ts, sum(new_session)
      |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
      |  count(*) AS n_events
      |FROM grouped GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin

  /** Event-sequence pattern matching (MATCH_RECOGNIZE-lite): each user's
    * event history becomes an ordered initial-letter string (order-pinned
    * aggregation — the same construction q114/q120 use) and a regex counts
    * non-overlapping view→…→purchase runs (`v[^p]*p` — no backrefs or
    * lookarounds, so Java regex and RE2 agree on leftmost-greedy matches).
    * The heavy lifting is one shuffle on user_id; the regex is a per-row
    * scalar over a bounded-length string.
    */
  private def q130(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      .groupBy("user_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("event_id"), col("c")))),
            x => x("c")), "").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        size(regexp_extract_all(col("seq"), lit("v[^p]*p"), lit(0)))
          .cast("long").as("n_funnel_runs"))

  private val q130Sql =
    """WITH seqs AS (
      |  SELECT user_id,
      |    string_agg(substring(event_type, 1, 1), '' ORDER BY event_id) AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  CAST(length(seq) AS BIGINT) AS n_events,
      |  CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT) AS n_funnel_runs
      |FROM seqs ORDER BY user_id""".stripMargin

  /** Column profiling (the data-quality summary every ingest job emits):
    * per-column row/null/distinct counts and min/max, one output row per
    * column. Long and string columns only — their string renderings are
    * engine-identical; double formatting is not (1e7 vs 10000000.0), so a
    * production profiler keeps numeric bounds in typed columns.
    * Each column profile is one narrow aggregate; they union into the
    * report frame.
    */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def profile(name: String) =
      o.agg(
        count(lit(1)).as("n"),
        sum(when(col(name).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(name)).as("n_distinct"),
        min(col(name)).cast("string").as("min_v"),
        max(col(name)).cast("string").as("max_v"))
        .select(lit(name).as("column"), col("n"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    profile("o_orderkey")
      .unionAll(profile("o_custkey"))
      .unionAll(profile("o_orderstatus"))
      .unionAll(profile("o_orderpriority"))
  }

  private val q131Sql = {
    def p(name: String) =
      s"""SELECT '$name' AS "column", count(*) AS n,
         |  CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $name) AS n_distinct,
         |  CAST(min($name) AS VARCHAR) AS min_v,
         |  CAST(max($name) AS VARCHAR) AS max_v
         |FROM orders""".stripMargin
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map(p).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Relational PageRank (3 unrolled iterations) over the supplier↔customer
    * co-purchase graph — the canonical "Spark does graphs as joins"
    * operator: ranks live in a (node, r) frame, one join+aggregate per
    * iteration, no graph library, no driver loop over vertices.
    *
    * Arithmetic is FIXED-POINT INTEGER (ranks in units of 1e-12; damping
    * as ·85 //100; contributions as r // outdeg): floor division makes
    * every iteration bit-exact in any engine — the float formulation
    * would accumulate engine-specific rounding in the per-node sums (Det's
    * no-unordered-double-sums rule). The ~1e-12 quantization error per
    * step is irrelevant to ranking and fully deterministic.
    *
    * At 100 TB: each iteration shuffles (dst, contrib) — linear in edges;
    * the iteration count is fixed (unrolled), so the plan is static and
    * AQE sizes every exchange. For adaptive convergence, checkpoint ranks
    * between iterations to cut lineage (documented; unnecessary for 3).
    */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val unit = 1000000000000L // 1e12 fixed-point scale
    // long node ids (suppliers even, customers odd) keep every shuffle row
    // two longs — the string labels exist only in the final projection
    val e0 = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
    // materialize the edge list once: deg + all three iterations read it
    // (4 consumers; uncached each re-runs the 600k-row join+distinct).
    // localCheckpoint (row-based, lineage-cutting) measured faster here
    // than the columnar cache, whose encode cost exceeded the recompute.
    // (r16 re-probed both alternatives, interleaved A/B: repartition(src)
    // + cache DOES eliminate the four downstream edge exchanges in-plan —
    // InMemoryRelation preserves the partitioning — but the encode cost
    // still loses, 7.0 s vs 4.7 s median; repartition(src) +
    // localCheckpoint loses the partitioning metadata entirely, probed
    // UnknownPartitioning(0). The r12 layout stands.)
    val edges = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"))
    val nn = broadcast(deg.agg(count(lit(1)).as("n_nodes")))
    var ranks = deg.crossJoin(nn)
      .select(col("node"), col("outdeg"),
        expr(s"$unit div n_nodes").as("r"))
    (1 to 3).foreach { _ =>
      val contribs = ranks
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("cin"))
      ranks = deg.crossJoin(nn)
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"), col("outdeg"),
          (expr(s"(15 * $unit) div (100 * n_nodes)") +
            expr("(85 * coalesce(cin, 0)) div 100")).as("r"))
    }
    ranks
      .select(
        when(pmod(col("node"), lit(2)) === 0,
          concat(lit("S"), expr("node div 2")))
          .otherwise(concat(lit("C"), expr("(node - 1) div 2")))
          .as("node"),
        col("r"))
      .orderBy(desc("r"), asc("node")).limit(20)
  }

  private val q132Sql = {
    val unit = "1000000000000"
    def iter(prev: String, out: String) =
      s"""c_$out AS (
         |  SELECT e.dst, CAST(sum(r.r // r.outdeg) AS BIGINT) AS cin
         |  FROM $prev r JOIN edges e ON r.node = e.src GROUP BY 1),
         |$out AS (
         |  SELECT d.node, d.outdeg,
         |    CAST((15 * $unit) // (100 * n_nodes)
         |      + (85 * coalesce(c.cin, 0)) // 100 AS BIGINT) AS r
         |  FROM deg d CROSS JOIN nn LEFT JOIN c_$out c ON d.node = c.dst)"""
        .stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n_nodes FROM deg),
       |r0 AS (SELECT node, outdeg, CAST($unit // n_nodes AS BIGINT) AS r
       |       FROM deg CROSS JOIN nn),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'S' || CAST(node // 2 AS VARCHAR)
       |            ELSE 'C' || CAST((node - 1) // 2 AS VARCHAR) END AS node, r
       |FROM r3 ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q143

  /** Batch MERGE INTO (the Delta/Iceberg upsert primitive, as one
    * relational plan): a CDC change feed — deletes, updates, inserts,
    * derived deterministically from the order key — merges into the
    * `orders` snapshot with the standard WHEN MATCHED THEN UPDATE/DELETE,
    * WHEN NOT MATCHED THEN INSERT semantics, expressed as ONE full-outer
    * join + conditional projection.
    *
    * Scale: a MERGE is exactly one shuffle — the full-outer sort-merge on
    * the key (AQE splits skewed keys). With the base bucketed on the key
    * (q74's layout) the join co-locates and the shuffle disappears; the
    * rewrite then touches only changed partitions via dynamic partition
    * overwrite — q61's streaming upsert store is this same primitive
    * applied per micro-batch. Price arithmetic is one double add per row
    * (bit-exact; no float sums).
    */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
    val m = col("o_orderkey") % 10
    val o = Tables.orders(s, d)
    val changes =
      o.filter(m === 0)
        .select(col("o_orderkey").as("key"), lit("D").as("op"),
          lit(null).cast("double").as("new_price"))
        .unionAll(o.filter(m.isin(1, 2))
          .select(col("o_orderkey").as("key"), lit("U").as("op"),
            (col("o_totalprice") + 1.0d).as("new_price")))
        .unionAll(o.filter(m === 3)
          .select((col("o_orderkey") + 100000000L).as("key"), lit("I").as("op"),
            col("o_totalprice").as("new_price")))
    base.join(changes, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        coalesce(col("new_price"), col("price")).as("price"),
        when(col("op") === "U", "updated")
          .when(col("op") === "I", "inserted")
          .otherwise("base").as("src"))
  }

  private val q143Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_totalprice AS price FROM orders),
      |changes AS (
      |  SELECT o_orderkey AS key, 'D' AS op, CAST(NULL AS DOUBLE) AS new_price
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'U', o_totalprice + 1.0
      |  FROM orders WHERE o_orderkey % 10 IN (1, 2)
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'I', o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 3)
      |SELECT coalesce(b.key, c.key) AS key,
      |  coalesce(c.new_price, b.price) AS price,
      |  CASE WHEN c.op = 'U' THEN 'updated'
      |       WHEN c.op = 'I' THEN 'inserted'
      |       ELSE 'base' END AS src
      |FROM base b FULL OUTER JOIN changes c ON b.key = c.key
      |WHERE c.op IS NULL OR c.op != 'D'
      |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- q174

  /** Data-contract validation — the declarative constraint audit every
    * table publishes against before consumers read it (the dbt-test /
    * Great Expectations shape as an engine operator): each contract is a
    * named predicate class over `orders`/`lineitem` — NOT NULL, range,
    * enum membership, key uniqueness, referential integrity — and the
    * report carries (checked, violations, passed) per contract. Two
    * contracts genuinely FAIL on the testdata (status-settled and the
    * discount cap), so the operator demonstrably reports violations
    * rather than rubber-stamping.
    *
    * Scale: every contract is one aggregate over its table (uniqueness
    * = count vs distinct; FK = broadcast anti-join count — customer is
    * dimension-sized); the report is contract-cardinality rows. At
    * 100 TB contracts attach per-partition and gate publication of each
    * increment (q166's drift report is the statistical sibling).
    */
  private def q174(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def row(name: String, checked: Column, viol: Column, src: DataFrame) =
      src.agg(checked.as("n_checked"), viol.as("n_violations"))
        .select(lit(name).as("contract"), col("n_checked"),
          coalesce(col("n_violations"), lit(0L)).as("n_violations"))
    val notNull = row("orders_custkey_not_null", count(lit(1)),
      sum(when(col("o_custkey").isNull, 1L)), o)
    val unique = row("orders_orderkey_unique", count(lit(1)),
      count(lit(1)) - countDistinct(col("o_orderkey")), o)
    val enumC = row("orders_status_settled", count(lit(1)),
      sum(when(!col("o_orderstatus").isin("O", "F"), 1L)), o)
    val range = row("orders_totalprice_positive", count(lit(1)),
      sum(when(col("o_totalprice") <= 0, 1L)), o)
    // FK: anti-join survivors ARE the violations; checked = full table size
    val fkViol = o
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    val fkFixed = o.agg(count(lit(1)).as("n_checked")).crossJoin(fkViol)
      .select(lit("orders_fk_customer").as("contract"), col("n_checked"),
        col("n_violations"))
    val cap = row("lineitem_discount_cap", count(lit(1)),
      sum(when(col("l_discount") > 0.08, 1L)), li)
    Seq(notNull, unique, enumC, range, fkFixed, cap)
      .reduce(_ unionByName _)
      .select(col("contract"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("passed"))
  }

  private val q174Sql =
    """WITH r AS (
      |  SELECT 'orders_custkey_not_null' AS contract, count(*) AS n_checked,
      |    CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 END), 0) AS BIGINT)
      |      AS n_violations FROM orders
      |  UNION ALL
      |  SELECT 'orders_orderkey_unique', count(*),
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders_status_settled', count(*),
      |    CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F') THEN 1 END), 0)
      |      AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders_totalprice_positive', count(*),
      |    CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 END), 0) AS BIGINT)
      |    FROM orders
      |  UNION ALL
      |  SELECT 'orders_fk_customer', (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                       WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'lineitem_discount_cap', count(*),
      |    CAST(coalesce(sum(CASE WHEN l_discount > 0.08 THEN 1 END), 0) AS BIGINT)
      |    FROM lineitem)
      |SELECT contract, CAST(n_checked AS BIGINT) AS n_checked, n_violations,
      |  n_violations = 0 AS passed
      |FROM r ORDER BY contract""".stripMargin

  // ---------------------------------------------------------------- q175

  /** Time-travel (AS OF) read over the SCD2 history — the lakehouse
    * "SELECT … VERSION AS OF" semantics expressed relationally: pin a
    * point in time T (the corpus midpoint second — a parameter in
    * production) and reconstruct the table state at T by keeping, per
    * entity, the version whose validity interval covers T. Entities
    * born after T are correctly absent. This is the query every audit /
    * reproducible-training-run requirement turns into: "exactly what did
    * the table say when the model trained?".
    *
    * Scale: the history build is q88's one window shuffle; the AS OF
    * filter is a per-row interval test against a broadcast scalar —
    * no extra shuffle. A real lakehouse answers it from version metadata
    * without scanning dead versions; the relational form here is the
    * fallback that works on ANY versioned table.
    */
  private def q175(s: SparkSession, d: String): DataFrame = {
    val t = broadcast(Tables.events(s, d)
      .agg(expr("(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2")
        .as("as_of_sec")))
    scd2Frame(s, d).crossJoin(t)
      .filter(col("valid_from_sec") <= col("as_of_sec") &&
        (col("valid_to_sec").isNull || col("valid_to_sec") > col("as_of_sec")))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from_sec"), col("as_of_sec"))
  }

  private val q175Sql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |    event_type
      |  FROM events),
      |marked AS (
      |  SELECT *, lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts_sec, event_id) AS prev_type
      |  FROM ev),
      |changes AS (
      |  SELECT * FROM marked WHERE prev_type IS NULL OR prev_type <> event_type),
      |hist AS (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts_sec, event_id) AS BIGINT) AS version,
      |    event_type AS state, ts_sec AS valid_from_sec,
      |    lead(ts_sec) OVER (PARTITION BY user_id
      |      ORDER BY ts_sec, event_id) AS valid_to_sec
      |  FROM changes),
      |t AS (SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
      |            + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS as_of_sec
      |      FROM events)
      |SELECT h.user_id, h.version, h.state, h.valid_from_sec,
      |  CAST(t.as_of_sec AS BIGINT) AS as_of_sec
      |FROM hist h, t
      |WHERE h.valid_from_sec <= t.as_of_sec
      |  AND (h.valid_to_sec IS NULL OR h.valid_to_sec > t.as_of_sec)
      |ORDER BY h.user_id""".stripMargin

  // ---------------------------------------------------------------- q200

  /** Columnar encoding-size estimator — the storage-layout advisor that
    * decides how a write path should encode each column (the decision
    * parquet writers make page-by-page; q172 BUILDS a dictionary, q124
    * picks a sort order — this op produces the per-column evidence):
    * for each candidate column of `events` in event_id order, compute
    * plain size, RLE run count (runs = value-change points + 1, via one
    * lag window), dictionary cardinality, and the integer bit widths the
    * encodings would need (`ceil(log2(k)) = length(bin(k-1))`, exact
    * integer math — no libm), then estimate encoded bytes:
    * plain = Σ len (strings) / 8·n (longs); dict = distinct·avg_len +
    * n·width(distinct)/8; RLE = runs·(width(distinct)/8 + run-length
    * varint ≈ 2 B). Best encoding = argmin with a fixed tiebreak order.
    * One window pass + one aggregate per column, unioned — linear, and
    * the per-column stats are exactly what a 100 TB writer's
    * column-chunk statistics task computes.
    */
  private def q200(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w = Window.orderBy("event_id")
    def colStats(name: String, c: Column, pbOf: Column => Column): DataFrame = {
      val runs = ev.select(col("event_id"), c.as("v"))
        .select(when(lag("v", 1).over(w).isNull ||
          col("v") =!= lag("v", 1).over(w), 1L).otherwise(0L).as("chg"),
          col("v"), pbOf(col("v")).as("pb"))
      runs.agg(
        lit(name).as("column"),
        count(lit(1)).as("n"),
        countDistinct(col("v")).as("n_distinct"),
        sum("chg").as("n_runs"),
        sum("pb").as("plain_bytes"))
    }
    val stats = Seq(
      colStats("event_type", col("event_type"), v => length(v).cast("long")),
      colStats("user_id", col("user_id"), _ => lit(8L)),
      colStats("props", col("props"), v => length(v).cast("long"))
    ).reduce(_ unionAll _)
    // avg dict entry size ≈ plain_bytes / n (integer div — an estimator)
    val dictBytes = col("n_distinct") * expr("plain_bytes div n") +
      expr("(n * length(bin(greatest(n_distinct - 1, 1))) + 7) div 8")
    val rleBytes = col("n_runs") *
      (expr("(length(bin(greatest(n_distinct - 1, 1))) + 7) div 8") + lit(2L))
    stats
      .withColumn("dict_bytes", dictBytes.cast("long"))
      .withColumn("rle_bytes", rleBytes.cast("long"))
      .withColumn("best_encoding",
        when(col("rle_bytes") <= col("dict_bytes") &&
          col("rle_bytes") <= col("plain_bytes"), "rle")
          .when(col("dict_bytes") <= col("plain_bytes"), "dict")
          .otherwise("plain"))
      .select("column", "n", "n_distinct", "n_runs", "plain_bytes",
        "dict_bytes", "rle_bytes", "best_encoding")
  }

  private val q200Sql = {
    def one(name: String, v: String, plain: String) =
      s"""SELECT '$name' AS "column", count(*) AS n,
         |  count(DISTINCT v) AS n_distinct,
         |  CAST(sum(chg) AS BIGINT) AS n_runs,
         |  CAST(sum(pb) AS BIGINT) AS plain_bytes
         |FROM (
         |  SELECT v, $plain AS pb,
         |    CASE WHEN lag(v) OVER (ORDER BY event_id) IS NULL
         |           OR v != lag(v) OVER (ORDER BY event_id)
         |         THEN 1 ELSE 0 END AS chg
         |  FROM (SELECT event_id, $v AS v FROM events) t)""".stripMargin
    s"""WITH stats AS (
       |${one("event_type", "event_type", "length(v)")}
       |UNION ALL
       |${one("user_id", "user_id", "8")}
       |UNION ALL
       |${one("props", "props", "length(v)")}),
       |est AS (
       |  SELECT *,
       |    CAST(n_distinct * (plain_bytes // n) +
       |      (n * length(bin(greatest(n_distinct - 1, 1))) + 7) // 8 AS BIGINT)
       |      AS dict_bytes,
       |    CAST(n_runs * ((length(bin(greatest(n_distinct - 1, 1))) + 7) // 8 + 2)
       |      AS BIGINT) AS rle_bytes
       |  FROM stats)
       |SELECT "column", n, n_distinct, n_runs, plain_bytes, dict_bytes, rle_bytes,
       |  CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes THEN 'rle'
       |       WHEN dict_bytes <= plain_bytes THEN 'dict'
       |       ELSE 'plain' END AS best_encoding
       |FROM est ORDER BY "column"""".stripMargin
  }

  // ---------------------------------------------------------------- q211

  /** CDC LOG REPLAY — apply an ordered insert/update/delete change log
    * (the Debezium/binlog shape) onto a base snapshot and emit the final
    * table state. Distinct from q143's single-batch MERGE (no deletes, no
    * intra-batch ordering) and q88/q201's SCD2 (which KEEP history): this
    * is the "latest state wins, deletes really delete, ops apply in LSN
    * order" materialization every replicated table needs.
    *
    * Fixture (deterministic from `orders`): base = (o_orderkey, cents);
    * keys ≡1 (mod 4) get 1+key%2 UPDATE ops (val += lsn·37), of which any
    * op with (key+lsn) ≡0 (mod 5) is a DELETE instead; keys ≡2 (mod 4)
    * insert a brand-new key (key+10^9). Money stays exact via
    * DECIMAL(18,2)→cents — never double arithmetic.
    *
    * Scale shape: the log and base UNION into one frame; ONE window
    * shuffle on key ordered by (lsn DESC) picks each key's final op
    * (row_number=1), deletes filter out. No join at all — the union-window
    * replay is the same single-shuffle recipe as the as-of join above, and
    * it stays linear no matter how many ops a hot key accumulates.
    */
  private def q211(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("key"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("val_c"),
        lit("B").as("op"), lit(0L).as("lsn"))
    val touched = Tables.orders(s, d).filter(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey").as("key"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("v0"),
        explode(sequence(lit(1L), lit(1L) + col("o_orderkey") % 2)).as("lsn"))
      .select(col("key"),
        when((col("key") + col("lsn")) % 5 === 0, lit("D")).otherwise(lit("U")).as("op"),
        when((col("key") + col("lsn")) % 5 === 0, lit(0L))
          .otherwise(col("v0") + col("lsn") * 37L).as("val_c"),
        col("lsn"))
    val inserts = Tables.orders(s, d).filter(col("o_orderkey") % 4 === 2)
      .select((col("o_orderkey") + 1000000000L).as("key"),
        lit("I").as("op"),
        (col("o_orderkey") % 1000L).as("val_c"),
        lit(1L).as("lsn"))
    val log = touched.select("key", "val_c", "op", "lsn")
      .unionByName(inserts.select("key", "val_c", "op", "lsn"))
    cdcApply(base.select("key", "val_c", "op", "lsn"), log)
  }

  /** q211's replay core on injectable base/log frames, both shaped
    * (key, val_c, op, lsn) with base rows at lsn 0 — exposed so
    * PropertySpec can fuzz the ordering semantics on random op logs
    * against a sequential driver-side apply.
    *
    * Equal-lsn ops on one key (possible through this API, never emitted
    * by a real WAL) resolve deterministically: delete beats upsert
    * (tombstone-wins, the log-compaction rule), then lower val_c wins —
    * so replay order can never change the final state (ADVICE r8).
    */
  private[graft] def cdcApply(base: DataFrame, log: DataFrame): DataFrame = {
    val all = base.unionByName(log)
    val w = Window.partitionBy("key").orderBy(desc("lsn"), asc("op"), asc("val_c"))
    val nOps = log.groupBy("key").agg(count(lit(1)).as("n_ops"))
    all
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .join(nOps, Seq("key"), "left")
      .select(col("key"), col("val_c"),
        coalesce(col("n_ops"), lit(0L)).as("n_ops"),
        col("lsn").as("last_lsn"))
  }

  private val q211Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS key,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_c,
      |    'B' AS op, CAST(0 AS BIGINT) AS lsn
      |  FROM orders),
      |touched AS (
      |  SELECT key, CASE WHEN (key + lsn) % 5 = 0 THEN 'D' ELSE 'U' END AS op,
      |    CASE WHEN (key + lsn) % 5 = 0 THEN 0 ELSE v0 + lsn * 37 END AS val_c,
      |    lsn
      |  FROM (
      |    SELECT o_orderkey AS key,
      |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v0,
      |      unnest(range(1, 2 + o_orderkey % 2)) AS lsn
      |    FROM orders WHERE o_orderkey % 4 = 1) t),
      |inserts AS (
      |  SELECT o_orderkey + 1000000000 AS key, 'I' AS op,
      |    o_orderkey % 1000 AS val_c, CAST(1 AS BIGINT) AS lsn
      |  FROM orders WHERE o_orderkey % 4 = 2),
      |log AS (SELECT key, val_c, op, lsn FROM touched
      |        UNION ALL SELECT key, val_c, op, lsn FROM inserts),
      |alltab AS (SELECT key, val_c, op, lsn FROM base
      |           UNION ALL SELECT key, val_c, op, lsn FROM log),
      |nops AS (SELECT key, CAST(count(*) AS BIGINT) AS n_ops FROM log GROUP BY key),
      |fin AS (
      |  SELECT key, val_c, op, lsn,
      |    row_number() OVER (PARTITION BY key ORDER BY lsn DESC, op, val_c) AS rn
      |  FROM alltab)
      |SELECT f.key, CAST(f.val_c AS BIGINT) AS val_c,
      |  coalesce(n.n_ops, 0) AS n_ops, f.lsn AS last_lsn
      |FROM fin f LEFT JOIN nops n ON n.key = f.key
      |WHERE f.rn = 1 AND f.op != 'D'
      |ORDER BY f.key""".stripMargin

  // ---------------------------------------------------------------- q220

  /** INCREMENTAL VIEW MAINTENANCE for a JOIN view — the delta-rule
    * algebra (ΔV = ΔA⋈B′ ∪ A′⋈ΔB ∪ ΔA⋈ΔB) that keeps a materialized
    * join-aggregate fresh without re-joining the full tables; q108
    * maintains an AGGREGATE incrementally, this maintains a two-table
    * JOIN view, the genuinely hard IVM case. View: revenue cents per
    * customer nation over orders ⋈ customer. Fixture deltas: orders with
    * key ≡ 3 (mod 7) arrive as ΔA, customers with key ≡ 5 (mod 11) as
    * ΔB; A′/B′ are the bases. The operator computes the view BOTH ways —
    * base + three delta joins vs full recompute — and emits them side by
    * side with an equality verdict, so the algebra proves itself row by
    * row (asserted all-true in OperatorSpec).
    *
    * Scale: this is THE pattern for keeping a 100 TB join view fresh
    * under a 0.1% daily delta — the three delta joins touch |Δ|-sized
    * sides (broadcast when small), and the base view is never re-joined,
    * only re-aggregated with the delta contributions (map-side
    * combinable).
    */
  private def q220(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select(col("o_custkey").as("ck"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 7 === 3).as("is_delta"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
        (col("c_custkey") % 11 === 5).as("is_delta"))
    val aBase = orders.filter(!col("is_delta")).drop("is_delta")
    val aDelta = orders.filter(col("is_delta")).drop("is_delta")
    val bBase = cust.filter(!col("is_delta")).drop("is_delta")
    val bDelta = cust.filter(col("is_delta")).drop("is_delta")
    def agg(j: org.apache.spark.sql.DataFrame) =
      j.groupBy("nk").agg(sum(col("cents")).as("v"), count(lit(1)).as("n"))
    val vBase = agg(aBase.join(bBase, "ck"))
    val d1 = agg(aDelta.join(bBase, "ck"))
    val d2 = agg(aBase.join(bDelta, "ck"))
    val d3 = agg(aDelta.join(bDelta, "ck"))
    val vIncr = vBase.unionByName(d1).unionByName(d2).unionByName(d3)
      .groupBy("nk").agg(sum(col("v")).as("v_incr"), sum(col("n")).as("n_incr"))
    val vFull = agg(orders.drop("is_delta").join(cust.drop("is_delta"), "ck"))
      .select(col("nk"), col("v").as("v_full"), col("n").as("n_full"))
    vIncr.join(vFull, Seq("nk"), "full")
      .select(col("nk"),
        coalesce(col("v_incr"), lit(0L)).as("v_incr"),
        coalesce(col("v_full"), lit(0L)).as("v_full"),
        coalesce(col("n_incr"), lit(0L)).as("n_incr"),
        coalesce(col("n_full"), lit(0L)).as("n_full"),
        (coalesce(col("v_incr"), lit(0L)) === coalesce(col("v_full"), lit(0L)) &&
          coalesce(col("n_incr"), lit(0L)) === coalesce(col("n_full"), lit(0L)))
          .as("algebra_holds"))
  }

  private val q220Sql =
    """WITH o AS (
      |  SELECT o_custkey AS ck,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    (o_orderkey % 7 = 3) AS is_delta
      |  FROM orders),
      |c AS (SELECT c_custkey AS ck, c_nationkey AS nk,
      |        (c_custkey % 11 = 5) AS is_delta
      |      FROM customer),
      |vb AS (SELECT c.nk, CAST(sum(o.cents) AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM o JOIN c ON o.ck = c.ck
      |       WHERE NOT o.is_delta AND NOT c.is_delta GROUP BY c.nk),
      |d1 AS (SELECT c.nk, CAST(sum(o.cents) AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM o JOIN c ON o.ck = c.ck
      |       WHERE o.is_delta AND NOT c.is_delta GROUP BY c.nk),
      |d2 AS (SELECT c.nk, CAST(sum(o.cents) AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM o JOIN c ON o.ck = c.ck
      |       WHERE NOT o.is_delta AND c.is_delta GROUP BY c.nk),
      |d3 AS (SELECT c.nk, CAST(sum(o.cents) AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM o JOIN c ON o.ck = c.ck
      |       WHERE o.is_delta AND c.is_delta GROUP BY c.nk),
      |vi AS (SELECT nk, CAST(sum(v) AS BIGINT) AS v_incr,
      |         CAST(sum(n) AS BIGINT) AS n_incr
      |       FROM (SELECT * FROM vb UNION ALL SELECT * FROM d1
      |             UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) u
      |       GROUP BY nk),
      |vf AS (SELECT c.nk, CAST(sum(o.cents) AS BIGINT) AS v_full,
      |         CAST(count(*) AS BIGINT) AS n_full
      |       FROM o JOIN c ON o.ck = c.ck GROUP BY c.nk)
      |SELECT coalesce(vi.nk, vf.nk) AS nk,
      |  coalesce(vi.v_incr, 0) AS v_incr, coalesce(vf.v_full, 0) AS v_full,
      |  coalesce(vi.n_incr, 0) AS n_incr, coalesce(vf.n_full, 0) AS n_full,
      |  (coalesce(vi.v_incr, 0) = coalesce(vf.v_full, 0)
      |    AND coalesce(vi.n_incr, 0) = coalesce(vf.n_full, 0)) AS algebra_holds
      |FROM vi FULL OUTER JOIN vf ON vi.nk = vf.nk
      |ORDER BY nk""".stripMargin

  // ---------------------------------------------------------------- q239

  /** SHUFFLE-SKEW ADVISOR — the static planning report behind every
    * "why is one task still running" incident: for each candidate
    * join/aggregation key across the warehouse, the exact per-key load
    * profile (rows, distinct keys, heaviest key, skew = max/mean in
    * fixed point) and a strategy verdict — `two_phase_agg` for
    * low-cardinality keys (q24's salted partial-aggregate shape: a
    * straight groupBy on 5 values makes 5 reducers do all the work),
    * `salt` with an explicit factor where one key dominates its mean by
    * ≥ 2× (pre-split that key across salt_n reducers), `hash_ok`
    * otherwise. AQE's skew-join handles the JOIN case at runtime; this
    * is the design-time complement that tells you which keys to bucket,
    * salt, or two-phase BEFORE laying out a 100 TB table.
    *
    * Scale: each profile is one map-side-combinable count per key then
    * a 1-row reduce — the advisor costs one scan per audited table and
    * emits |keys audited| rows. All arithmetic is integer (skew in
    * thousandths), so the verdicts hash-match the mirror exactly.
    */
  private def q239(s: SparkSession, d: String): DataFrame = {
    def profile(df: DataFrame, table: String, key: String): DataFrame =
      df.select(col(key).cast("string").as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
          max("c").as("max_cnt"))
        .select(lit(table).as("table_name"), lit(key).as("key_col"),
          col("n_rows"), col("n_keys"), col("max_cnt"),
          expr("max_cnt * 1000 * n_keys div n_rows").as("skew_x1000"))
    val profiles = Seq(
      profile(Tables.orders(s, d), "orders", "o_custkey"),
      profile(Tables.lineitem(s, d), "lineitem", "l_orderkey"),
      profile(Tables.events(s, d), "events", "user_id"),
      profile(Tables.events(s, d), "events", "event_type"),
      profile(Tables.documents(s, d), "documents", "lang"))
      .reduce(_.unionByName(_))
    profiles
      .withColumn("verdict",
        when(col("n_keys") <= 8, lit("two_phase_agg"))
          .when(col("skew_x1000") >= 2000, lit("salt"))
          .otherwise(lit("hash_ok")))
      .withColumn("salt_n",
        when(col("n_keys") > 8 && col("skew_x1000") >= 2000,
          expr("(skew_x1000 + 999) div 1000")).otherwise(lit(0L)))
  }

  private val q239Sql = {
    val audited = Seq(
      ("orders", "o_custkey", "CAST(o_custkey AS VARCHAR)"),
      ("lineitem", "l_orderkey", "CAST(l_orderkey AS VARCHAR)"),
      ("events", "user_id", "CAST(user_id AS VARCHAR)"),
      ("events", "event_type", "event_type"),
      ("documents", "lang", "lang"))
    val parts = audited.map { case (t, kcol, kexpr) =>
      s"""  SELECT '$t' AS table_name, '$kcol' AS key_col,
         |    CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(max(c) AS BIGINT) AS max_cnt,
         |    CAST(max(c) * 1000 * count(*) // sum(c) AS BIGINT) AS skew_x1000
         |  FROM (SELECT $kexpr AS k, count(*) AS c FROM $t GROUP BY 1)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH p AS (
       |$parts)
       |SELECT table_name, key_col, n_rows, n_keys, max_cnt, skew_x1000,
       |  CASE WHEN n_keys <= 8 THEN 'two_phase_agg'
       |       WHEN skew_x1000 >= 2000 THEN 'salt'
       |       ELSE 'hash_ok' END AS verdict,
       |  CAST(CASE WHEN n_keys > 8 AND skew_x1000 >= 2000
       |       THEN (skew_x1000 + 999) // 1000 ELSE 0 END AS BIGINT) AS salt_n
       |FROM p ORDER BY table_name, key_col""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q239_skew_advisor", q239, Some(q239Sql),
      "shuffle-skew advisor: exact per-key load profiles across warehouse join keys + salt/two-phase/hash verdicts in fixed point"),
    QueryDef("q220_ivm_join", q220, Some(q220Sql),
      "incremental view maintenance for a join view (delta rule: base + dA*B' + A'*dB + dA*dB) with self-verifying equality vs full recompute"),
    QueryDef("q211_cdc_apply", q211, Some(q211Sql),
      "CDC log replay: ordered insert/update/delete ops materialized onto a base snapshot via one union-window pass (no join)"),
    QueryDef("q200_encoding_advisor", q200, Some(q200Sql),
      "columnar encoding-size advisor: RLE runs, dictionary width, plain size per column (integer bit math)"),
    QueryDef("q175_time_travel", q175, Some(q175Sql),
      "AS OF time-travel read over the SCD2 history (state at the corpus midpoint)"),
    QueryDef("q174_data_contract", q174, Some(q174Sql),
      "declarative data-contract audit (null/range/enum/unique/FK, per-contract report)"),
    QueryDef("q143_merge_upsert", q143, Some(q143Sql),
      "batch MERGE INTO semantics (CDC upsert/delete/insert via one full-outer join)"),
    QueryDef("q132_pagerank", q132, Some(q132Sql),
      "fixed-point relational PageRank, 3 unrolled join+agg iterations"),
    QueryDef("q130_event_pattern", q130, Some(q130Sql),
      "MATCH_RECOGNIZE-lite regex runs over ordered event sequences"),
    QueryDef("q131_column_profile", q131, Some(q131Sql),
      "per-column null/distinct/min/max data-quality profile"),
    QueryDef("q127_lineage_audit", q127, Some(q127Sql),
      "input_file_name row-level lineage audit"),
    QueryDef("q128_session_window", q128, Some(q128Sql),
      "native session_window gap sessions (== gap-islands SQL)"),
    QueryDef("q124_zorder_layout", q124, Some(q124Sql),
      "Z-order multi-dim clustering with per-bucket skipping stats"),
    QueryDef("q125_funnel", q125, Some(q125Sql),
      "ordered view->click->purchase funnel stage counts"),
    QueryDef("q82_asof_join", q82, Some(q82Sql), "as-of join via union-window (vs DuckDB ASOF JOIN)"),
    QueryDef("q83_grouped_topk", q83, Some(q83Sql), "bounded top-k typed Aggregator"),
    QueryDef("q87_bloom_semijoin", q87, Some(q87Sql), "bloom-filter runtime semi-join reduction"),
    QueryDef("q88_scd2_history", q88, Some(q88Sql), "SCD2 versioned history build (CDC compaction)"))
}
