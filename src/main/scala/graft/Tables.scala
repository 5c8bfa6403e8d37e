package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's deterministic testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. Reads go
  * through `spark.read.parquet` so Catalyst's parquet source handles column
  * pruning and predicate pushdown (verified via `.explain` — see
  * `PlanSpec`). At cluster scale these would be multi-file partitioned
  * datasets; nothing here assumes a single file.
  */
object Tables {
  /** Schema memo per table path (r16 optimization): `spark.read.parquet`
    * with no user schema re-runs footer-based inference on EVERY call —
    * a per-query driver-latency tax paid by all ~259 queries (interleaved
    * A/B: q10 median 0.39 → 0.29 s, 10/10 pairs — ~50 ms per table()
    * call). The schema of a testdata table is immutable for the process
    * lifetime, so infer once and hand the result to the reader
    * thereafter. This caches METADATA only — every query still scans the
    * parquet data itself, and a fresh JVM (every bench/oracle invocation)
    * re-infers from the file. At
    * cluster scale the same move is "declare the table schema": inference
    * over a multi-file dataset is a driver-side listing + footer pass.
    *
    * INVARIANT (ADVICE r16): the memo is keyed on path alone and never
    * invalidated, so a table file's SCHEMA must be immutable for the JVM
    * lifetime. That holds for every consumer of this loader — the driver
    * testdata is read-only, ScaleGen dirs are written before any session
    * reads them, and bench/oracle runs are each a fresh JVM. Rewriting a
    * table at the same path with a DIFFERENT schema inside one long-lived
    * JVM (e.g. a non-forked sbt session after regenerating testdata)
    * would silently read with the stale schema — restart the session (or
    * key the memo on file mtime) if a workflow ever needs that.
    */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val sch = schemaMemo.getOrElseUpdate(path, spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS). Spark 4.1 reads it
    * natively as TIMESTAMP_NTZ (micros truncation happens in the reader;
    * sub-µs precision is below every grain our queries use, and orderings
    * always tiebreak on `event_id`, never on `ts`). The NTZ wall-clock
    * fields are the UTC rendering of the epoch nanos, so recover the
    * instant with pure field arithmetic: micros since the NTZ epoch
    * (timestampdiff on two NTZ values — no time zone consulted) fed to
    * timestamp_micros (epoch-based — also tz-free). A plain
    * cast("timestamp") would interpret the fields in the session time
    * zone and silently shift every instant in a non-UTC session (ADVICE
    * r7; to_utc_timestamp on NTZ input turned out session-dependent too —
    * probed).
    */
  def events(s: SparkSession, d: String): DataFrame =
    table(s, d, "events").withColumn("ts", timestamp_micros(expr(
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
