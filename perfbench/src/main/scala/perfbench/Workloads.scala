package perfbench

import graft.QueryDef

/** A workload: the registry queries it runs and how many concurrent
  * clients run them, on one shared session or on one session each.
  * `nominalPassS` fixes how much work a run does: each client runs
  * `max(1, seconds / nominalPassS)` whole passes, so every run of a
  * workload at one `--seconds` does the same work, however fast it goes.
  */
final case class Workload(name: String, clients: Int, sharedSession: Boolean,
    nominalPassS: Double, queries: Seq[QueryDef]) {
  def passes(seconds: Double): Int = math.max(1, (seconds / nominalPassS).toInt)
}

/** The benchmark's workloads. Why each was chosen is in
  * `perfbench/NOTES.md`.
  */
object Workloads {
  private def named(names: Seq[String]): Seq[QueryDef] = {
    val byName = graft.Registry.all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"no registry query named $n")))
  }

  /** The read-only analytical families (analyze, serve, enrich, ml):
    * the dashboard reads.
    */
  def serveFamily: Seq[QueryDef] =
    graft.analyze.Eda.defs ++ graft.serve.ServeQueries.defs ++ graft.enrich.EnrichQueries.defs ++
      graft.ml.MlPrepQueries.defs ++ graft.ml.MlTrainQueries.defs

  /** The speed layer: every streaming query, then the graft-store write
    * path and the store reads that read back what it wrote.
    */
  def ingestFamily: Seq[QueryDef] = graft.streaming.StreamingQueries.defs ++ named(Seq(
    "q226_dsv2_write_roundtrip", "q250_store_partitioned", "q253_store_zonemap",
    "q256_store_time_travel", "q257_store_cow_delete", "q258_store_sum_pushdown",
    "q259_store_cdc", "q260_store_ivm", "q262_store_ivm_minmax"))

  /** The timed subsets, drawn by latency rank from a traced run of each
    * whole family by `perfbench/family.py` (see NOTES.md). Ingest always
    * keeps the zone-map, time-travel and SUM-pushdown store reads.
    */
  def serve: Seq[QueryDef] = named(Seq(
    "q11_filter_project", "q96_histogram", "q79_map_explode", "q151_ols_trend",
    "q09_semi_join", "q29_range_ntile", "q26_pivot_counts", "q246_benford_audit",
    "q233_bootstrap_ci", "q27_approx_distinct"))

  def ingest: Seq[QueryDef] = named(Seq(
    "q253_store_zonemap", "q256_store_time_travel", "q258_store_sum_pushdown",
    "q250_store_partitioned", "q64_stream_dedup", "q227_rate_limited_upsert"))

  def byName(name: String, cpus: Int): Workload = name match {
    case "serve"  => Workload(name, math.min(4, cpus), sharedSession = true, 8, serve)
    // Ingest queries set session conf while they run (no-data batches,
    // shuffle width), so each client gets its own session.
    case "ingest" => Workload(name, math.min(4, cpus), sharedSession = false, 20, ingest)
    // Whole families, one pass per client: the profile the subsets are
    // drawn from. Not timed workloads of BENCHMARK.json.
    case "serve-family"  => Workload(name, math.min(4, cpus), sharedSession = true, 1e9, serveFamily)
    case "ingest-family" => Workload(name, math.min(4, cpus), sharedSession = false, 1e9, ingestFamily)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
