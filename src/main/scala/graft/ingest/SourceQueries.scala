package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.sources.GraftCatalog.onGraftCatalog
import graft.util.Det

/** Source/sink + catalog operator family (SURVEY §2.1): CSV write/read
  * round trip (S3-S6), catalog table save + SQL scan (S12/S13), the
  * reshape operators (P7 rename, P8 drop, P9 cast, P11 copy-through, D4
  * date-part intent, D7 timestamped filename), and the order-pinned corpus
  * aggregation (A4).
  */
object SourceQueries {

  /** CSV round trip: write a projected/formatted slice with header
    * (S4/S5/S6), read it back with an explicit schema (S3), aggregate.
    * Timestamps travel as 'yyyy-MM-dd HH:mm:ss' strings — exactly the
    * reference's wire format (S/kin.py:36). Lossless for the grain used,
    * so the aggregate hash-matches the oracle computed on the source
    * table.
    */
  private def q70(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_csv_") + "/events_csv"
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts_str", StringType)))
    s.read.option("header", "true").schema(schema).csv(dir)
      .groupBy(col("event_type"),
        hour(to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
  }

  private val q70Sql =
    """SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM events GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin

  /** JSON-lines source round trip (the S7/S9 serialization surface at the
    * SOURCE level, complementing q40's to_json/from_json functions):
    * events written as JSONL, read back with an explicit schema, then
    * aggregated — the result must equal aggregating the parquet directly,
    * proving the write→read loop is value-preserving (Jackson emits
    * shortest round-trippable doubles). At 100 TB the lesson is schema-on-
    * read with an EXPLICIT StructType: schema inference reads the data
    * twice and infers per-file types that can disagree across shards.
    */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_jsonl_") + "/events_json"
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    s.read.schema(schema).json(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        Det.dsum(col("value")).as("sum_v"))
  }

  private val q95Sql =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Runs `body` with one fresh catalog table name per prefix, then drops
    * those tables. The session catalog is shared by every session of the
    * app, so fixed names would collide between concurrent executions. The
    * tables must be external (`path` option): the frame `body` returns is
    * already analyzed against their files, which the drop leaves in place.
    */
  private def withScratchTables(s: SparkSession, prefixes: String*)(
      body: Seq[String] => DataFrame): DataFrame = {
    val names = prefixes.map(p => p + "_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    try body(names) finally names.foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
  }

  /** Catalog round trip (S12/S13): saveAsTable an aggregate, scan it back
    * through `spark.sql` — the notebook's Hive-table detour (NB cell 16 →
    * cell 19). External-path table under a temp dir keeps the warehouse
    * clean.
    */
  private def q71(s: SparkSession, d: String): DataFrame =
      withScratchTables(s, "graft_orders_by_month") { case Seq(table) =>
    val path = graft.util.TempDirs.create("graft_tbl_") + "/orders_by_month"
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
      .write.mode("overwrite").option("path", path)
      .saveAsTable(table)
    s.sql(s"SELECT y, m, n, total FROM $table WHERE n > 0")
  }

  private val q71Sql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 HAVING count(*) > 0 ORDER BY y, m""".stripMargin

  /** Corpus building (A4, NB cell 44): concat all texts per group. The
    * reference's `collect_list` order is nondeterministic (SURVEY §7.4) —
    * here the list is sorted by doc_id before joining, making the operator
    * deterministic and hash-comparable (string_agg ORDER BY in DuckDB).
    * Emits length + content hash instead of the megabyte corpus string.
    */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val corpus = array_join(
      transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
        x => x.getField("text")), " ")
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(corpus.as("corpus"))
      .select(col("lang"), length(col("corpus")).cast("long").as("corpus_len"),
        Det.polyHash(col("corpus")).as("corpus_hash"))
  }

  private val q72Sql =
    s"""WITH c AS (
       |  SELECT lang, string_agg(text, ' ' ORDER BY doc_id) AS corpus
       |  FROM documents GROUP BY lang)
       |SELECT lang, CAST(length(corpus) AS BIGINT) AS corpus_len,
       |  ${Det.polyHashSql("corpus")} AS corpus_hash
       |FROM c ORDER BY lang""".stripMargin

  /** Reshape block: rename (P7), drop (P8), floor-cast (P9), copy-through
    * computed columns (P11), the D4 date/time-part *intent* (`to_date` /
    * `date_format` — the reference's `F.split(ts,'')` is a bug, SURVEY
    * §7.4), and the timestamped filename expression (D7/S6).
    */
  private def q73(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumnRenamed("o_orderstatus", "status") // P7
      .drop("o_orderpriority") // P8
      .withColumn("price_int", floor(col("o_totalprice")).cast("long")) // P9
      .withColumn("date_part", date_format(col("o_orderdate"), "yyyy-MM-dd")) // D4 intent
      .withColumn("time_part", date_format(col("o_orderdate"), "HH:mm:ss")) // D4 intent
      .withColumn("filename", // D7: s3 key pattern with timestamped name
        concat(lit("reddit-data/"),
          date_format(col("o_orderdate"), "yyyy-MM-dd_HH-mm-ss"), lit(".csv")))
      .select("o_orderkey", "status", "price_int", "date_part", "time_part", "filename")
      .orderBy("o_orderkey")
      .limit(200)

  private val q73Sql =
    """SELECT o_orderkey, o_orderstatus AS status,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
      |  strftime(o_orderdate, '%Y-%m-%d') AS date_part,
      |  strftime(o_orderdate, '%H:%M:%S') AS time_part,
      |  'reddit-data/' || strftime(o_orderdate, '%Y-%m-%d_%H-%M-%S') || '.csv' AS filename
      |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin

  /** Bucketed co-located join: both sides written bucketed on the join key
    * (8 buckets), so the join needs NO shuffle exchange — the pattern that
    * turns a recurring 100 TB fact⋈fact join from the dominant cost into a
    * local merge. PlanSpec asserts the absence of Exchange above the scans.
    */
  private def q74(s: SparkSession, d: String): DataFrame =
      withScratchTables(s, "graft_orders_b", "graft_customer_b") { names =>
    bucketedJoin(s, d, names)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("revenue"))
  }

  /** Writes orders and customer as external tables `names` (orders
    * first), each bucketed on the join key into 8 buckets, and joins them.
    */
  private def bucketedJoin(s: SparkSession, d: String, names: Seq[String]): DataFrame = {
    val Seq(ordersB, customerB) = names
    val wh = graft.util.TempDirs.create("graft_bucketed_")
    Tables.orders(s, d)
      .write.mode("overwrite").option("path", s"$wh/orders_b")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable(ordersB)
    Tables.customer(s, d)
      .write.mode("overwrite").option("path", s"$wh/customer_b")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable(customerB)
    s.table(ordersB).join(s.table(customerB), col("o_custkey") === col("c_custkey"))
  }

  private val q74Sql =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Partition-pruned layout: events written partitioned by event_type;
    * a filtered read must scan only the matching partition directories
    * (PartitionFilters in the scan — asserted in PlanSpec). The layout
    * decision that bounds every selective 100 TB query.
    */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_part_") + "/events_by_type"
    Tables.events(s, d)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    s.read.parquet(dir)
      .filter(col("event_type").isin("purchase", "signup"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
  }

  private val q75Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM events WHERE event_type IN ('purchase', 'signup')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Internal: the bucketed join DataFrame without the aggregation, for
    * PlanSpec's no-Exchange assertion.
    */
  private[graft] def bucketedJoinPlan(s: SparkSession, d: String): DataFrame =
    withScratchTables(s, "graft_orders_b", "graft_customer_b")(
      bucketedJoin(s, d, _).select("o_orderkey", "c_name"))

  /** ORC round trip: the second columnar format Spark ships natively
    * (vectorized reader, predicate pushdown, zlib/zstd codecs — the
    * exchange format for Hive-ecosystem interop). Write a typed slice,
    * read it back with the explicit schema, aggregate; equality with the
    * parquet-sourced oracle proves the loop is value-preserving, doubles
    * included (ORC stores IEEE754 bits, not decimal strings).
    */
  private def q119(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_orc_") + "/orders_orc"
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .write.mode("overwrite").orc(dir)
    s.read.schema(StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType)))).orc(dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"),
        Det.dsum(col("o_totalprice")).as("total"))
  }

  private val q119Sql =
    """SELECT o_orderpriority, count(*) AS n, count(DISTINCT o_custkey) AS n_cust,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Native DataSource V2 scan (see [[graft.sources.SeqSourceProvider]]):
    * 20k deterministic rows planned as 8 disjoint input partitions with
    * column pruning, aggregated per label. The oracle mirrors the source's
    * generator function over `range()` — proving the custom source's
    * split planning and row contract end to end. (Pruning is asserted
    * against the executed plan in SourcesSpec.)
    */
  private def q126(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("slices", "8").load()
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("val").as("v_min"),
        max("val").as("v_max"), sum("val").as("v_sum"))

  private val q126Sql =
    """WITH g AS (
      |  SELECT CAST(t.i AS BIGINT) AS id,
      |    (t.i * 2654435761) % 1000000007 AS val,
      |    'r' || CAST(t.i % 7 AS VARCHAR) AS label
      |  FROM range(0, 20000) AS t(i))
      |SELECT label, count(*) AS n, min(val) AS v_min, max(val) AS v_max,
      |  CAST(sum(val) AS BIGINT) AS v_sum
      |FROM g GROUP BY 1 ORDER BY label""".stripMargin

  /** DataSource V2 WRITE path round trip (VERDICT r8 task 6 — SeqSource
    * covers the V2 read contract, [[graft.sources.GraftStoreProvider]]
    * the write side): the deterministic V2 seq source is written through
    * graft-store's two-phase commit (task temp files → job-level rename
    * + `_SCHEMA`, made visible by the `_MANIFEST` swap), read back through
    * the same provider's manifest-pinned scan, and aggregated — the oracle
    * recomputes the generator contract over `range()`, so the whole
    * write/commit/read chain must be value-exact. Commit-protocol
    * failure semantics (aborted job publishes nothing) are asserted in
    * SourcesSpec.
    */
  private def q226(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_store_") + "/seqstore"
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("slices", "8").load()
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    s.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("val").as("v_min"),
        max("val").as("v_max"), sum("val").as("v_sum"))
  }

  private val q226Sql =
    """WITH g AS (
      |  SELECT CAST(t.i AS BIGINT) AS id,
      |    (t.i * 2654435761) % 1000000007 AS val,
      |    'r' || CAST(t.i % 7 AS VARCHAR) AS label
      |  FROM range(0, 20000) AS t(i))
      |SELECT label, count(*) AS n, min(val) AS v_min, max(val) AS v_max,
      |  CAST(sum(val) AS BIGINT) AS v_sum
      |FROM g GROUP BY 1 ORDER BY label""".stripMargin

  /** DataSource V2 FILTER PUSHDOWN (VERDICT r9 task 4 — the reference's
    * S11 scan shape, `S/process_dynamo.py:23`: a comparison filter
    * immediately after the load belongs IN the source): the seq source
    * accepts the `id` range and the `val` comparison via
    * `SupportsPushDownFilters`. The `id` bounds narrow split planning
    * itself — [2500, 17500) generates 15k candidate rows, the other 5k
    * never exist — and the `val` predicate is enforced row-wise inside
    * the reader, so the scan's numOutputRows is the filtered count
    * (both pinned in SourcesSpec/PlanSpec; the pushed set is visible in
    * the executed plan via `Scan.description`). The oracle recomputes
    * the generator contract WITH the predicates over `range()`.
    */
  private def q249(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("slices", "8").load()
      .filter(col("id") >= 2500L && col("id") < 17500L &&
        col("val") > 500000000L)
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("id").as("id_min"),
        max("id").as("id_max"), sum("val").as("v_sum"))

  private val q249Sql =
    """WITH g AS (
      |  SELECT CAST(t.i AS BIGINT) AS id,
      |    (t.i * 2654435761) % 1000000007 AS val,
      |    'r' || CAST(t.i % 7 AS VARCHAR) AS label
      |  FROM range(0, 20000) AS t(i))
      |SELECT label, count(*) AS n, min(id) AS id_min, max(id) AS id_max,
      |  CAST(sum(val) AS BIGINT) AS v_sum
      |FROM g
      |WHERE id >= 2500 AND id < 17500 AND val > 500000000
      |GROUP BY 1 ORDER BY label""".stripMargin

  /** Identity-PARTITIONED graft-store table + directory pruning (VERDICT
    * r9 task 5 — the table-format feature every 100 TB serving layout
    * depends on): enriched events are written through the V2 commit
    * protocol into a two-level Hive-style layout
    * `time_of_day=<v>/event_type=<v>/part-*.csv` (partition values live
    * ONLY in directory names; data files carry the remaining columns),
    * then read back with a `time_of_day = 'day'` probe. The scan accepts
    * the partition predicate via `SupportsPushDownFilters` and prunes the
    * manifest's files by their first directory level — the night files
    * are never opened (SourcesSpec proves the file set; PlanSpec pins the
    * pushed filter + pruned ReadSchema). The oracle recomputes the same
    * day-side aggregate from the source table.
    */
  private def q250(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_part_store_") + "/events_store"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"),
        graft.enrich.Features.timeOfDay(col("ts")).as("time_of_day"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir)
      .option("partitionBy", "time_of_day,event_type")
      .mode("overwrite").save()
    s.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
      .filter(col("time_of_day") === "day")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
        min("event_id").as("first_event"))
  }

  private val q250Sql =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  min(event_id) AS first_event
      |FROM events
      |WHERE (CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END) = 'day'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DYNAMIC partition pruning through the graft-store table
    * (`SupportsRuntimeFiltering` — deepening VERDICT r9 task 5's
    * partition layout): the fact side is events written
    * partitioned-by-event_type through the V2 commit protocol; the dim
    * side is the top-2 event types by total volume — knowable ONLY at
    * runtime (the winners differ across scale factors), so static
    * pushdown cannot help. The scan advertises `event_type` via
    * `filterAttributes()`, Spark plants a DynamicPruningSubquery that
    * reuses the dim broadcast, and at execution `filter()` receives the
    * surviving key set so `planInputPartitions` plans only the 2 winning
    * directories of 5 — the 100 TB serving probe: "read the partitions
    * some other query selects" without ever opening the rest
    * (SourcesSpec proves the losers are never opened via poisoned
    * files; PlanSpec pins the `dynamicpruning` runtime filter in the
    * executed plan). The oracle recomputes the same top-2 join from the
    * source table.
    */
  private def q252(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_dpp_store_") + "/events_store"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "event_type")
      .mode("overwrite").save()
    val fact = s.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val w = Window.orderBy(desc("n_type"), col("event_type"))
    val dim = Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("n_type"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select("event_type", "n_type")
    fact.join(broadcast(dim), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min("event_id").as("first_event"), max("event_id").as("last_event"))
  }

  private val q252Sql =
    """WITH dim AS (
      |  SELECT event_type
      |  FROM (SELECT event_type, count(*) AS n_type,
      |          row_number() OVER (ORDER BY count(*) DESC, event_type) AS rk
      |        FROM events GROUP BY 1)
      |  WHERE rk <= 2)
      |SELECT e.event_type, count(*) AS n, count(DISTINCT e.user_id) AS n_users,
      |  min(e.event_id) AS first_event, max(e.event_id) AS last_event
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ZONE-MAP file skipping (VERDICT r10 task 1 — the scan-path gap
    * that makes a selective data-column probe read every file): events
    * are range-clustered on `event_id` into 8 part files
    * (`repartitionByRange` → each file covers a disjoint id range,
    * exactly how a 100 TB serving table is laid out on its probe key);
    * the commit protocol records each file's per-column min/max/null
    * counts in a `_STATS` sidecar. The read probes a narrow id window:
    * the predicate stays RESIDUAL (Spark re-checks rows — zone maps are
    * file-level), but `planInputPartitions` refutes it against each
    * file's exact bounds and the 7 non-overlapping files are never
    * opened (SourcesSpec proves that with a poisoned skipped file;
    * PlanSpec pins the SkipFilters on the scan). The oracle recomputes
    * the probe from the source table.
    */
  private def q253(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_zonemap_") + "/events_store"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartitionByRange(8, col("event_id"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    s.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
      .filter(col("event_id") >= 100L && col("event_id") < 400L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("event_id").as("id_min"),
        max("event_id").as("id_max"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
  }

  private val q253Sql =
    """SELECT event_type, count(*) AS n, min(event_id) AS id_min,
      |  max(event_id) AS id_max,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events
      |WHERE event_id >= 100 AND event_id < 400
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A row-level DML rewrite threshold at or below 1/(rows per file) for
    * any file: every file with a matched row rewrites its kept rows.
    */
  private val RewriteEveryMatchedFile =
    graft.sources.GraftStore.AutoRewriteFractionConf -> Double.MinPositiveValue.toString

  /** NAMED-TABLE SQL through the graft `TableCatalog` (VERDICT r10 task
    * 3 — the reference's S12/S13 story is *named-table* access,
    * `NB cell 16 (ln 1238)` / `S/reddit_lambda.py:46`; the path-option
    * provider alone can't serve `CREATE TABLE ... / INSERT / SELECT`).
    * The engine side is PURE SQL: create the namespace and a
    * partitioned table in the `graft` catalog
    * ([[graft.sources.GraftCatalog]], bound to a fresh warehouse on the
    * query's session clone), INSERT the enriched events through the V2
    * commit protocol, and aggregate with a partition predicate — which arrives
    * at the same graft-store scan with directory pruning intact (the
    * catalog reconstitutes the identical Table, so pushdown/zone
    * maps/DPP all apply to named tables for free). The oracle
    * recomputes the aggregate from the source parquet.
    */
  private def q254(s: SparkSession, d: String): DataFrame = onGraftCatalog(s) { (s, _) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        graft.enrich.Features.timeOfDay(col("ts")).as("time_of_day"))
      .createOrReplaceTempView("q254_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_t
            |  (event_id BIGINT, user_id BIGINT, value DOUBLE, time_of_day STRING)
            |  PARTITIONED BY (time_of_day)""".stripMargin)
    s.sql("""INSERT INTO graft.db.events_t
            |SELECT event_id, user_id, value, time_of_day FROM q254_src""".stripMargin)
    s.sql("""SELECT time_of_day, count(*) AS n,
            |  count(DISTINCT user_id) AS n_users,
            |  min(event_id) AS first_event, max(event_id) AS last_event,
            |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
            |FROM graft.db.events_t
            |WHERE time_of_day = 'day'
            |GROUP BY time_of_day""".stripMargin)
  }

  private val q254Sql =
    """SELECT (CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END)
      |    AS time_of_day,
      |  count(*) AS n, count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS first_event, max(event_id) AS last_event,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events
      |WHERE (CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END) = 'day'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** VECTORIZED graft-store read (VERDICT r10 task 5; the store's one
    * read path — measured 1.4x over a row reader on scan-bound
    * aggregates, PERF.md "Columnar A/B"): the committed store read
    * through the `ColumnarBatch` path — the reader fills 4096-row
    * `OnHeapColumnVector`s and Spark consumes the scan through
    * `ColumnarToRow` whole-stage codegen instead of a row-at-a-time
    * iterator. SourcesSpec compares the read against the written rows;
    * PlanSpec pins the executed plan's ColumnarToRow over the
    * graft-store scan. The aggregate exercises every supported column type end to
    * end (long/double/string and a null-bearing column via the
    * day/night flag) so the vector fill paths are all on the oracled
    * path.
    */
  private def q255(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_columnar_") + "/events_store"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"),
        when(col("value") > 100.0, col("event_type")).as("big_type"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    s.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
      .filter(col("event_id") % 3 =!= 0L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(col("big_type")).as("n_big"),
        min("event_id").as("id_min"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
  }

  private val q255Sql =
    """SELECT event_type, count(*) AS n,
      |  count(CASE WHEN value > 100.0 THEN event_type END) AS n_big,
      |  min(event_id) AS id_min,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events
      |WHERE event_id % 3 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** STORE-LEVEL TIME TRAVEL (VERDICT r11 task 1 — the q175 SCD2 shape
    * at the TABLE FORMAT level, matching `NB cell 16 (ln 1238)`'s
    * overwrite-then-reread lifecycle): every graft-store manifest commit
    * is an immutable VERSION (`_MANIFEST.v<N>` history + a `#version`
    * header on the atomically-swapped current manifest), and
    * `VERSION AS OF` SQL resolves a pinned snapshot through
    * [[graft.sources.GraftCatalog]]. The engine side drives a full
    * table lifecycle — CREATE (v1, empty), INSERT evens (v2), INSERT
    * odds (v3), partition DELETE of the evens (v4, files RETIRED not
    * unlinked) — then reads all four snapshots in one query. The oracle
    * recomputes each snapshot's aggregate from the source parquet with
    * the equivalent predicate. Retention GC ([[graft.sources
    * .GraftMaintenance.expireSnapshots]]) is what eventually reclaims
    * v1–v3; SourcesSpec pins the pinned-scan-survives-GC guarantee and
    * the loud expiry contract.
    */
  private def q256(s: SparkSession, d: String): DataFrame = onGraftCatalog(s) { (s, _) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        when(col("event_id") % 2 === 0, "even").otherwise("odd").as("half"))
      .createOrReplaceTempView("q256_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_tt
            |  (event_id BIGINT, user_id BIGINT, value DOUBLE, half STRING)
            |  PARTITIONED BY (half)""".stripMargin) // version 1: empty
    s.sql("""INSERT INTO graft.db.events_tt
            |SELECT event_id, user_id, value, half FROM q256_src
            |WHERE half = 'even'""".stripMargin) // version 2
    s.sql("""INSERT INTO graft.db.events_tt
            |SELECT event_id, user_id, value, half FROM q256_src
            |WHERE half = 'odd'""".stripMargin) // version 3
    s.sql("DELETE FROM graft.db.events_tt WHERE half = 'even'") // version 4
    def snap(v: Int) =
      s"""SELECT CAST($v AS BIGINT) AS snap, count(*) AS n,
         |  min(event_id) AS first_event, max(event_id) AS last_event,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
         |FROM graft.db.events_tt VERSION AS OF $v""".stripMargin
    s.sql((1 to 4).map(snap).mkString("\nUNION ALL\n"))
  }

  private val q256Sql = {
    def snap(v: Int, where: String) =
      s"""SELECT CAST($v AS BIGINT) AS snap, count(*) AS n,
         |  min(event_id) AS first_event, max(event_id) AS last_event,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
         |FROM events WHERE $where""".stripMargin
    Seq(snap(1, "FALSE"), snap(2, "event_id % 2 = 0"),
      snap(3, "TRUE"), snap(4, "event_id % 2 = 1"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY snap")
  }

  /** ROW-LEVEL DELETE BY ID (VERDICT r11 task 2 — q230's erasure
    * cascade at the TABLE FORMAT level: right-to-be-forgotten deletes
    * by USER, not by partition): a data-column `DELETE` on a graft
    * catalog table. Row-level DML decides each file's fate from the
    * commit's own matched counts (the ~1%-hit files here all bind
    * deletion vectors under the 0.5 default rewrite threshold; a dense
    * hit would rewrite its kept rows on executors). The delete condition
    * is pushed into the scan (partition pruning + zone-map refutation
    * bound the touched set), and one manifest commit binds the whole
    * decision with the matched rows RETIRED from visibility (SourcesSpec
    * proves non-intersecting files are neither opened nor rewritten, and
    * that rewrite thresholds ≈0, 0.5 and 1.0 return byte-identical
    * results on this lifecycle).
    * The oracle recomputes the surviving aggregate from the source
    * parquet with the negated predicate.
    */
  private def q257(s: SparkSession, d: String): DataFrame = onGraftCatalog(s) { (s, _) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .createOrReplaceTempView("q257_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_rtbf
            |  (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
            |  PARTITIONED BY (event_type)""".stripMargin)
    s.sql("""INSERT INTO graft.db.events_rtbf
            |SELECT event_id, user_id, value, event_type FROM q257_src""".stripMargin)
    // the erasure: every event of users whose id % 97 == 0, across all
    // partitions — a pure data-column predicate the metadata path refuses
    s.sql("DELETE FROM graft.db.events_rtbf WHERE user_id % 97 = 0")
    s.sql("""SELECT event_type, count(*) AS n,
            |  count(DISTINCT user_id) AS n_users,
            |  min(event_id) AS first_event, max(event_id) AS last_event,
            |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
            |FROM graft.db.events_rtbf
            |GROUP BY event_type""".stripMargin)
  }

  private val q257Sql =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS first_event, max(event_id) AS last_event,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events
      |WHERE NOT (user_id % 97 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SUM/AVG AGGREGATE PUSHDOWN (VERDICT r11 task 4 — the one
    * stats-answerable aggregate family the store still declined): the
    * `_STATS` sidecar now records each file's EXACT per-column sum
    * (integral sums via addExact — an int64 overflow drops the sum and
    * pushdown declines rather than wrap; double sums under the
    * documented write-order contract), so a grouped SUM/AVG/COUNT over
    * a partitioned store is answered from zone maps alone — zero data
    * cells parsed (SourcesSpec proves it on fully-poisoned files; here
    * the oracle proves the VALUES against the source parquet). AVG
    * needs no extra machinery: Spark decomposes it to SUM+COUNT for
    * partial pushdown. The 100 TB shape: "rows and totals per day
    * partition" — a constant serving-layer query — stops being a scan.
    */
  private def q258(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_sumpush_") + "/events_store"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "event_type")
      .mode("overwrite").save()
    s.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("sum_users"),
        sum("event_id").as("sum_events"), avg("user_id").as("avg_user"))
  }

  private val q258Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(user_id) AS BIGINT) AS sum_users,
      |  CAST(sum(event_id) AS BIGINT) AS sum_events,
      |  CAST(sum(user_id) AS DOUBLE) / count(*) AS avg_user
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** CHANGES-BETWEEN-VERSIONS (CDC) read (VERDICT r12 task 2 — the
    * q194/q211 CDC shapes at the TABLE FORMAT level: the versioned
    * manifests become a consumable changelog). The engine drives a full
    * lifecycle — CREATE (v1), INSERT evens (v2), INSERT odds (v3), a
    * DELETE by user id that rewrites every matched file (v4), COMPACT
    * (data-neutral: contributes NOTHING to the changelog) — then reads
    * the NET row-level changes since v2 through
    * [[graft.sources.GraftCDC.netChanges]]: the odd INSERTs and the
    * DELETEd rows, with the rewrites' kept rows cancelled (the
    * Spark-first form of Iceberg's net-changes changelog; planning is
    * O(changed files) per version — manifest diffs, no listing). The
    * oracle recomputes both change sets from the source parquet with
    * the equivalent predicates. SourcesSpec pins the raw changelog's
    * attribution (rewrite + DV deletes) and the compact-is-silent
    * contract.
    */
  private def q259(s: SparkSession, d: String): DataFrame =
      onGraftCatalog(s, RewriteEveryMatchedFile) { (s, wh) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        when(col("event_id") % 2 === 0, "even").otherwise("odd").as("half"))
      .createOrReplaceTempView("q259_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_cdc
            |  (event_id BIGINT, user_id BIGINT, value DOUBLE, half STRING)
            |  PARTITIONED BY (half)""".stripMargin) // version 1: empty
    s.sql("""INSERT INTO graft.db.events_cdc
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, value, half
            |FROM q259_src WHERE half = 'even'""".stripMargin) // version 2
    s.sql("""INSERT INTO graft.db.events_cdc
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, value, half
            |FROM q259_src WHERE half = 'odd'""".stripMargin) // version 3
    // v4: every matched file rewrites (this query's threshold; the 0.5
    // default would bind DVs at this churn — the query's point is the
    // rewrites' kept rows and their cancellation)
    s.sql("DELETE FROM graft.db.events_cdc WHERE user_id % 7 = 3")
    val path = wh + "/db/events_cdc"
    graft.sources.GraftMaintenance.compact(path) // v5 (emits no changes)
    val cur = graft.sources.GraftMaintenance.currentVersion(path).get
    graft.sources.GraftCDC.netChanges(s, path, 2L, Some(cur))
      .groupBy(col("_change_type"), col("half"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min("event_id").as("first_event"), max("event_id").as("last_event"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
  }

  private val q259Sql =
    """SELECT * FROM (
      |  SELECT 'insert' AS _change_type,
      |    (CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END) AS half,
      |    count(*) AS n, count(DISTINCT user_id) AS n_users,
      |    min(event_id) AS first_event, max(event_id) AS last_event,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |  FROM events WHERE event_id % 2 = 1
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'delete',
      |    (CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END),
      |    count(*), count(DISTINCT user_id), min(event_id), max(event_id),
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
      |  FROM events WHERE user_id % 7 = 3
      |  GROUP BY 2
      |) ORDER BY _change_type, half""".stripMargin

  /** INCREMENTAL VIEW MAINTENANCE over the store changelog (VERDICT r13
    * task 2, folding in task 3's SQL CDC surface): a materialized
    * per-partition aggregate view absorbs a mixed DML batch — append
    * (v3), a DELETE that rewrites every matched file (v4), an UPDATE
    * through deletion vectors (v5) — by consuming ONLY the net changelog since the
    * version it was built at, read through the PURE-SQL metadata table
    * (`FROM graft.db.events_ivm.changes WHERE _commit_version > v`,
    * zero reader options; the `_commit_version` bound pushes into
    * version-range planning). [[graft.sources.GraftIVM]] applies the
    * signed deltas and atomically republishes the view (itself a
    * versioned store table). The refresh's data input is O(changed
    * rows) — SourcesSpec pins input size = changelog size, not table
    * size. This kills the reference's recompute-from-scratch serving
    * refresh (`S/reddit_lambda.py:71-108`) at the table-format level.
    * All maintained measures are integral, so the incremental totals
    * are EXACTLY the oracle's recomputation (no float-order drift).
    */
  private def q260(s: SparkSession, d: String): DataFrame =
      onGraftCatalog(s, RewriteEveryMatchedFile) { (s, wh) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        when(col("event_id") % 2 === 0, "even").otherwise("odd").as("half"))
      .createOrReplaceTempView("q260_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_ivm
            |  (event_id BIGINT, user_id BIGINT, value DOUBLE, half STRING)
            |  PARTITIONED BY (half)""".stripMargin) // version 1: empty
    s.sql("""INSERT INTO graft.db.events_ivm
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, value, half
            |FROM q260_src WHERE event_id % 3 <> 0""".stripMargin) // v2: base
    // materialize the view — the ONE full base scan of the view's life
    s.sql("""CREATE TABLE graft.db.events_ivm_view
            |  (half STRING, n BIGINT, sum_users BIGINT, sum_events BIGINT)""".stripMargin)
    s.sql("""INSERT INTO graft.db.events_ivm_view
            |SELECT half, count(*), sum(user_id), sum(event_id)
            |FROM graft.db.events_ivm GROUP BY half""".stripMargin)
    val basePath = wh + "/db/events_ivm"
    val v0 = graft.sources.GraftMaintenance.currentVersion(basePath).get
    // the mixed DML batch the view must absorb incrementally
    s.sql("""INSERT INTO graft.db.events_ivm
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, value, half
            |FROM q260_src WHERE event_id % 3 = 0""".stripMargin) // v3: append
    // v4: a delete that rewrites every matched file (this query's
    // threshold; the default would bind DVs at this churn)
    s.sql("DELETE FROM graft.db.events_ivm WHERE user_id % 11 = 5")
    // v5: the update at the default threshold — ~1/13 of each file
    // matches, so it binds deletion vectors and reinserts
    s.conf.unset(graft.sources.GraftStore.AutoRewriteFractionConf)
    s.sql("""UPDATE graft.db.events_ivm SET user_id = user_id + 1000000
            |WHERE user_id % 13 = 2""".stripMargin)
    // refresh from the changelog alone, addressed in pure SQL
    val changelog = s.sql(
      s"SELECT * FROM graft.db.events_ivm.changes WHERE _commit_version > $v0")
    graft.sources.GraftIVM.refresh(changelog,
      graft.sources.GraftIVM.View("graft.db.events_ivm_view", Seq("half"), "n",
        sums = Seq("sum_users" -> "user_id", "sum_events" -> "event_id")), None)
    s.sql("""SELECT half, n, sum_users, sum_events
            |FROM graft.db.events_ivm_view""".stripMargin)
  }

  private val q260Sql =
    """SELECT (CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END) AS half,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN user_id % 13 = 2 THEN user_id + 1000000
      |               ELSE user_id END) AS BIGINT) AS sum_users,
      |  CAST(sum(event_id) AS BIGINT) AS sum_events
      |FROM events
      |WHERE NOT (user_id % 11 = 5)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** STREAMING incremental view maintenance (VERDICT r15 task 3): the
    * q260 refresh with MANAGED offsets — the checkpointed streaming
    * changelog drives [[graft.sources.GraftIVM.applyBatchExactlyOnce]]
    * through foreachBatch, so the CHECKPOINT owns the version ranges
    * and the view's applied watermark (`_IVM_APPLIED`) owns replay
    * protection: together they remove the batch API's sharp edge
    * (caller-owned ranges — apply a slice twice and the view corrupts).
    * The engine drives THREE separate stream runs with a full
    * stop/restart between each (the checkpoint survives) over a mixed
    * DML history: append, a DELETE that rewrites every matched file (its
    * changelog arrives pair-diffed, r15 task 4), an UPDATE via deletion
    * vectors (its changelog arrives as row-index seek reads, r15 task
    * 2). The final
    * view must equal the oracle's recomputation; StreamingSpec pins
    * the replay and crash-window exactly-once cases directly.
    */
  private def q261(s: SparkSession, d: String): DataFrame =
      onGraftCatalog(s, RewriteEveryMatchedFile) { (s, wh) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        when(col("event_id") % 2 === 0, "even").otherwise("odd").as("half"))
      .createOrReplaceTempView("q261_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_sivm
            |  (event_id BIGINT, user_id BIGINT, value DOUBLE, half STRING)
            |  PARTITIONED BY (half)""".stripMargin) // version 1: empty
    s.sql("""INSERT INTO graft.db.events_sivm
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, value, half
            |FROM q261_src WHERE event_id % 3 <> 0""".stripMargin) // v2: base
    s.sql("""CREATE TABLE graft.db.events_sivm_view
            |  (half STRING, n BIGINT, sum_users BIGINT, sum_events BIGINT)""".stripMargin)
    s.sql("""INSERT INTO graft.db.events_sivm_view
            |SELECT half, count(*), sum(user_id), sum(event_id)
            |FROM graft.db.events_sivm GROUP BY half""".stripMargin)
    val basePath = s"$wh/db/events_sivm"
    val viewPath = s"$wh/db/events_sivm_view"
    // the one-time binding: "this view reflects the base AS OF v2"
    graft.sources.GraftIVM.bind(viewPath,
      graft.sources.GraftMaintenance.currentVersion(basePath).get)
    val ckpt = graft.util.TempDirs.create("graft_q261_ckpt_")
    val view = graft.sources.GraftIVM.View("graft.db.events_sivm_view",
      Seq("half"), "n", sums = Seq("sum_users" -> "user_id", "sum_events" -> "event_id"))
    def refreshOnce(): Unit =
      graft.sources.GraftIVM.streamRefresh(s, basePath, view, viewPath, ckpt)
        .awaitTermination()
    // micro-batch 1: append — stream run 1, then STOPPED
    s.sql("""INSERT INTO graft.db.events_sivm
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, value, half
            |FROM q261_src WHERE event_id % 3 = 0""".stripMargin)
    refreshOnce()
    // micro-batch 2: every matched file rewrites — RESTART from the
    // checkpoint
    s.sql("DELETE FROM graft.db.events_sivm WHERE user_id % 11 = 5")
    refreshOnce()
    // micro-batch 3: the update at the default threshold binds deletion
    // vectors (~1/13 of each file matches) — RESTART again
    s.conf.unset(graft.sources.GraftStore.AutoRewriteFractionConf)
    s.sql("""UPDATE graft.db.events_sivm SET user_id = user_id + 1000000
            |WHERE user_id % 13 = 2""".stripMargin)
    refreshOnce()
    s.sql("""SELECT half, n, sum_users, sum_events
            |FROM graft.db.events_sivm_view""".stripMargin)
  }

  private val q261Sql =
    """SELECT (CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END) AS half,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN user_id % 13 = 2 THEN user_id + 1000000
      |               ELSE user_id END) AS BIGINT) AS sum_users,
      |  CAST(sum(event_id) AS BIGINT) AS sum_events
      |FROM events
      |WHERE NOT (user_id % 11 = 5)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TOUCHED-GROUP IVM for NON-INVERTIBLE aggregates (VERDICT r16 task
    * 2): a view carrying MIN/MAX cannot be maintained from signed deltas
    * — a DELETE that removes a group's current maximum needs the base
    * data to find the runner-up. [[graft.sources.GraftIVM.refresh]],
    * given the base table, re-aggregates ONLY the groups
    * present in the changelog (keys from the delta; one PRUNED base
    * scan over exactly those groups — SourcesSpec pins base input =
    * touched groups' rows, never table size) while untouched groups'
    * view rows carry through verbatim. The lifecycle here makes the
    * non-invertibility REAL: the DELETE removes the top event_id band,
    * killing both groups' current maxima, and the refreshed view must
    * surface each group's runner-up — which no signed-delta algebra
    * could produce. Append + DELETE + a deletion-vector UPDATE all feed
    * one refresh; the DuckDB oracle recomputes the final state from
    * scratch.
    */
  private def q262(s: SparkSession, d: String): DataFrame =
      onGraftCatalog(s) { (s, wh) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        when(col("event_id") % 2 === 0, "even").otherwise("odd").as("half"))
      .createOrReplaceTempView("q262_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s.sql("""CREATE TABLE graft.db.events_xivm
            |  (event_id BIGINT, user_id BIGINT, half STRING)
            |  PARTITIONED BY (half)""".stripMargin) // version 1: empty
    s.sql("""INSERT INTO graft.db.events_xivm
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, half
            |FROM q262_src WHERE event_id % 3 <> 0""".stripMargin) // v2: base
    s.sql("""CREATE TABLE graft.db.events_xivm_view
            |  (half STRING, n BIGINT, sum_users BIGINT,
            |   min_event BIGINT, max_event BIGINT)""".stripMargin)
    s.sql("""INSERT INTO graft.db.events_xivm_view
            |SELECT half, count(*), sum(user_id), min(event_id), max(event_id)
            |FROM graft.db.events_xivm GROUP BY half""".stripMargin)
    val basePath = wh + "/db/events_xivm"
    val v0 = graft.sources.GraftMaintenance.currentVersion(basePath).get
    // the max-killing cut, fixed from the PRE-APPEND snapshot (the
    // oracle reproduces it as a scalar subquery over the same rows)
    val cut = s.sql("SELECT max(event_id) - 50 FROM graft.db.events_xivm")
      .head().getLong(0)
    s.sql("""INSERT INTO graft.db.events_xivm
            |SELECT /*+ REPARTITION(2) */ event_id, user_id, half
            |FROM q262_src WHERE event_id % 3 = 0""".stripMargin) // v3: append
    // v4: DELETE the top band at the default rewrite threshold — both groups
    // lose their current max; the refresh must find the runner-ups
    s.sql(s"DELETE FROM graft.db.events_xivm WHERE event_id > $cut")
    s.sql("""UPDATE graft.db.events_xivm SET user_id = user_id + 1000000
            |WHERE user_id % 13 = 2""".stripMargin) // v5: DV + reinsert (~1/13 per file)
    val changelog = s.sql(
      s"SELECT * FROM graft.db.events_xivm.changes WHERE _commit_version > $v0")
    graft.sources.GraftIVM.refresh(changelog,
      graft.sources.GraftIVM.View("graft.db.events_xivm_view", Seq("half"), "n",
        sums = Seq("sum_users" -> "user_id"),
        mins = Seq("min_event" -> "event_id"),
        maxs = Seq("max_event" -> "event_id")),
      Some(s.table("graft.db.events_xivm")))
    s.sql("""SELECT half, n, sum_users, min_event, max_event
            |FROM graft.db.events_xivm_view""".stripMargin)
  }

  private val q262Sql =
    """SELECT (CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END) AS half,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN user_id % 13 = 2 THEN user_id + 1000000
      |               ELSE user_id END) AS BIGINT) AS sum_users,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |WHERE event_id <= (SELECT max(event_id) - 50 FROM events
      |                   WHERE event_id % 3 <> 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** XML round trip (Spark 4 ships the spark-xml source natively —
    * completing the text-format inventory: CSV q70, JSONL q95, XML here).
    * Values travel as typed XML elements and come back through an
    * explicit schema; the aggregate must equal the parquet-sourced
    * oracle. Long/string columns only — XML serializes doubles in
    * engine-specific text forms.
    */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_xml_") + "/events_xml"
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("user_id"))
      .write.mode("overwrite").format("xml")
      .option("rootTag", "events").option("rowTag", "event").save(dir)
    s.read.format("xml").option("rowTag", "event")
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("user_id", LongType)))).load(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min("event_id").as("first_event"))
  }

  private val q134Sql =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |  min(event_id) AS first_event
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** VARIANT shredding (Spark 4's semi-structured type): the JSON payload
    * parses once into a binary VARIANT and fields extract with
    * `variant_get` path expressions — the modern replacement for
    * repeated `get_json_object` string re-parsing (one parse per row,
    * typed access, open schema). The oracle reads the same paths with
    * DuckDB's JSON extraction.
    */
  private def q135(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))

  private val q135Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q152

  /** `binaryFile` source ingest — the multimodal ingest front door (image/
    * audio shards land as raw files; this source turns a directory into a
    * (path, length, content) DataFrame, completing the q65-q67 binary
    * pipeline's missing first hop). The harness materializes 64
    * deterministic payloads (`part:<key>:<name>` bytes, one file per part
    * key < 64), reads them back through `format("binaryFile")` with a
    * `pathGlobFilter`, and re-derives key/length/fingerprint from the
    * FILE BYTES. The oracle recomputes the same three values from the
    * `part` TABLE — the round trip is verified against table-derived
    * truth, no file access in the oracle.
    *
    * Scale: binaryFile lists and splits by FILE (one row per file, content
    * loaded lazily per task) — a 100 TB image corpus reads as
    * embarrassingly parallel file tasks with column pruning on the
    * metadata columns; pair with q67's mapPartitions kernels downstream.
    */
  private def q152(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_bin_")
    val rows = Tables.part(s, d)
      .filter(col("p_partkey") < 64)
      .select(col("p_partkey"), col("p_name"))
      .collect() // 64 tiny fixture files — harness-side write, like the streaming feeds
    rows.foreach { r =>
      val k = r.getLong(0)
      val bytes = s"part:$k:${r.getString(1)}".getBytes("UTF-8")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"part_$k%04d.bin"), bytes)
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir)
      .select(
        regexp_extract(col("path"), "part_(\\d+)\\.bin$", 1)
          .cast("long").as("p_partkey"),
        col("length").as("n_bytes"),
        Det.polyHash(col("content").cast("string")).as("fp"))
  }

  private val q152Sql =
    s"""SELECT p_partkey,
       |  CAST(strlen('part:' || CAST(p_partkey AS VARCHAR) || ':' || p_name) AS BIGINT)
       |    AS n_bytes,
       |  ${Det.polyHashSql("'part:' || CAST(p_partkey AS VARCHAR) || ':' || p_name")} AS fp
       |FROM part WHERE p_partkey < 64 ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q167

  /** Parquet schema evolution (mergeSchema) round trip — the lake-source
    * concern q70/q95/q119 don't cover: two writer generations land files
    * with DIFFERENT column sets in one dataset directory (v1: doc_id +
    * lang; v2: doc_id + source + n_chars — the ingest pipeline grew two
    * columns), and a `mergeSchema` read must union the schemas, null-fill
    * the gaps, and stay aggregable. The aggregate groups by generation
    * marker (which column is null) so the oracle checks exactly how many
    * rows of each generation survived and that nulls land where schema
    * evolution says they must.
    *
    * Scale: schema merge is a FOOTER-only operation — Spark reconciles
    * StructTypes from file metadata, not data; reads stay columnar and
    * pruned. The real-world caveat is documented here: merged reads
    * disable some vectorized fast paths and per-file footer fetches cost
    * one round trip each, which is why production lakes checkpoint the
    * merged schema into the table catalog (Delta/Iceberg) instead of
    * re-inferring per query.
    */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.TempDirs.create("graft_merge_") + "/docs_evolved"
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    s.read.option("mergeSchema", "true").parquet(s"$dir/gen=1", s"$dir/gen=2")
      .select(
        when(col("lang").isNotNull, "v1").otherwise("v2").as("generation"),
        col("lang"), col("source"), col("n_chars"))
      .groupBy("generation")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("lang").isNull, 1L)), lit(0L)).as("null_lang"),
        coalesce(sum(when(col("source").isNull, 1L)), lit(0L)).as("null_source"),
        coalesce(Det.dsum(col("n_chars").cast("double")), lit(0.0)).as("sum_chars"))
  }

  private val q167Sql =
    """WITH evolved AS (
      |  SELECT doc_id, lang, NULL AS source, NULL AS n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id, NULL, source, n_chars FROM documents)
      |SELECT CASE WHEN lang IS NOT NULL THEN 'v1' ELSE 'v2' END AS generation,
      |  count(*) AS n,
      |  CAST(coalesce(sum(CASE WHEN lang IS NULL THEN 1 END), 0) AS BIGINT)
      |    AS null_lang,
      |  CAST(coalesce(sum(CASE WHEN source IS NULL THEN 1 END), 0) AS BIGINT)
      |    AS null_source,
      |  CAST(coalesce(sum(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(18,4))), 0)
      |    AS DOUBLE) AS sum_chars
      |FROM evolved
      |GROUP BY 1 ORDER BY generation""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q167_schema_merge", q167, Some(q167Sql),
      "parquet mergeSchema round trip across two writer generations"),
    QueryDef("q152_binaryfile", q152, Some(q152Sql),
      "binaryFile source ingest round trip (multimodal front door, table-derived oracle)"),
    QueryDef("q74_bucketed_join", q74, Some(q74Sql), "shuffle-free bucketed join"),
    QueryDef("q119_orc_roundtrip", q119, Some(q119Sql), "ORC source write/read round trip"),
    QueryDef("q126_dsv2_source", q126, Some(q126Sql), "custom DataSource V2 scan (splits + pruning)"),
    QueryDef("q226_dsv2_write_roundtrip", q226, Some(q226Sql),
      "DataSource V2 BatchWrite round trip: two-phase commit (task temp -> rename, then the _MANIFEST swap) then manifest-pinned V2 scan"),
    QueryDef("q249_dsv2_filter_pushdown", q249, Some(q249Sql),
      "DataSource V2 filter pushdown: id bounds narrow split planning, val predicate enforced in-reader (S11 scan shape)"),
    QueryDef("q250_store_partitioned", q250, Some(q250Sql),
      "graft-store identity partitioning: Hive-style two-level layout via the V2 commit protocol, directory-pruned partition-filter read"),
    QueryDef("q252_store_dpp", q252, Some(q252Sql),
      "graft-store dynamic partition pruning: runtime dim probe (top-2 event types) prunes fact directories via SupportsRuntimeFiltering"),
    QueryDef("q253_store_zonemap", q253, Some(q253Sql),
      "graft-store zone maps: _STATS min/max sidecar skips range-clustered files a data-column probe cannot match"),
    QueryDef("q254_store_catalog", q254, Some(q254Sql),
      "graft TableCatalog: CREATE NAMESPACE/TABLE + INSERT + partition-pruned SELECT as pure named-table SQL"),
    QueryDef("q255_store_columnar", q255, Some(q255Sql),
      "graft-store vectorized read (the store's one reader): OnHeapColumnVector batches through ColumnarToRow"),
    QueryDef("q256_store_time_travel", q256, Some(q256Sql),
      "graft-store versioned manifests: CREATE/INSERT/INSERT/DELETE lifecycle read back as four VERSION AS OF snapshots"),
    QueryDef("q257_store_cow_delete", q257, Some(q257Sql),
      "graft-store row-level DELETE by id: per-file rewrite-or-DV decision at the default threshold (thresholds ≈0/0.5/1.0 spec-pinned byte-identical)"),
    QueryDef("q258_store_sum_pushdown", q258, Some(q258Sql),
      "graft-store SUM/AVG aggregate pushdown: grouped totals answered from _STATS per-file exact sums"),
    QueryDef("q259_store_cdc", q259, Some(q259Sql),
      "graft-store changes-between-versions: INSERT/rewriting-DELETE/compact lifecycle read back as a net row-level changelog"),
    QueryDef("q260_store_ivm", q260, Some(q260Sql),
      "incremental view maintenance: aggregate view absorbs append/rewriting-DELETE/DV-UPDATE by consuming only the SQL-addressed changelog"),
    QueryDef("q261_store_stream_ivm", q261, Some(q261Sql),
      "STREAMING incremental view maintenance: checkpointed changelog + applied watermark refresh the view exactly-once across stop/restart"),
    QueryDef("q262_store_ivm_minmax", q262, Some(q262Sql),
      "touched-group IVM for MIN/MAX: a max-killing DELETE refreshes to the runner-up by re-aggregating only changelog groups from a pruned base scan"),
    QueryDef("q134_xml_roundtrip", q134, Some(q134Sql), "XML source write/read round trip (Spark 4 native)"),
    QueryDef("q135_variant_shred", q135, Some(q135Sql), "VARIANT parse + typed path extraction"),
    QueryDef("q75_partition_pruning", q75, Some(q75Sql), "partitioned layout + pruning"),
    QueryDef("q70_csv_roundtrip", q70, Some(q70Sql), "S3-S6 CSV write/read round trip"),
    QueryDef("q71_sql_catalog", q71, Some(q71Sql), "S12/S13 saveAsTable + spark.sql scan"),
    QueryDef("q72_corpus_agg", q72, Some(q72Sql), "A4 order-pinned corpus concat"),
    QueryDef("q73_reshape", q73, Some(q73Sql), "P7/P8/P9/P11/D4/D7 reshape block"),
    QueryDef("q95_jsonl_roundtrip", q95, Some(q95Sql), "JSONL source write/read round trip"))
}
