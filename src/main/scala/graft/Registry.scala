package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query plus its DuckDB oracle (None → driver does a
  * rows-only check; used for probabilistic / streaming-stateful /
  * binary-payload operators whose outputs aren't ANSI-SQL-expressible).
  *
  * `fn` is the one body of the query: results, benchmarks and plan
  * audits all run it. A body that caches intermediates does so inside
  * [[graft.util.Materialize.scoped]] and returns a materialized result,
  * so nothing stays in the session cache after it returns. Plan audits
  * see every action the body ran through
  * [[org.apache.spark.sql.graft.ExecutedPlans.capture]].
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String)

/** Aggregates every module's queries into the driver contract maps. */
object Registry {
  def all: Seq[QueryDef] =
    analyze.Eda.defs ++
      ingest.SourceQueries.defs ++
      clean.TextQueries.defs ++
      enrich.EnrichQueries.defs ++
      serve.ServeQueries.defs ++
      dedup.DedupQueries.defs ++
      similarity.SimilarityQueries.defs ++
      multimodal.MultimodalQueries.defs ++
      streaming.StreamingQueries.defs ++
      relational.OperatorQueries.defs ++
      pipeline.PipelineQueries.defs ++
      ml.MlPrepQueries.defs ++
      ml.MlTrainQueries.defs ++
      curation.CurationQueries.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
