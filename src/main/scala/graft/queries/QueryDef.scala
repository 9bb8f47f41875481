package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation plus (where SQL-expressible)
  * a DuckDB oracle over the same parquet tables. The driver hash-compares
  * the two (columns sorted by name), so:
  *   - column names must match exactly on both sides,
  *   - results must be deterministic (exact arithmetic, explicit total
  *     ordering, tie-breaks on unique keys).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Central registry: every operator from SURVEY.md §2 that is implemented
  * shows up here, and SparkEntry derives its maps from this. */
object Registry {
  def all: Seq[QueryDef] =
    Relational.defs ++ EventsQueries.defs ++ DocumentQueries.defs ++
      FactsQueries.defs ++ DedupQueries.defs ++ SimilarityQueries.defs ++
      TextQueries.defs ++ PipelineQueriesImpl.defs ++ ParticipantQueries.defs ++
      PrepQueries.defs ++ GraphQueries.defs ++ AnalyticsQueries.defs

  def byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
