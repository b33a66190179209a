package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: the Spark pipeline and (when SQL-expressible)
  * its DuckDB-oracle twin. The driver hash-compares both at sf0.01
  * (CORRECTNESS_r{N}.json) — column names and value types must match exactly,
  * and every query must be deterministic (total ordering with unique
  * tiebreaks; no raw double summation — cast to DECIMAL first).
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Registry {
  /** All declared queries, keyed by the SURVEY §2 operator they cover. */
  def all: Map[String, Q] =
    QueriesCore.queries ++ QueriesRel.queries ++ QueriesVector.queries ++
      QueriesEvents.queries ++ QueriesDml.queries ++ QueriesExtra.queries ++
      QueriesJoins.queries ++ QueriesSig.queries
}
