package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its Spark builder and its DuckDB oracle twin.
  *
  * The builder takes the session and a fixture directory. The oracle is
  * SQL over the same fixture tables whose result the driver hashes
  * against the builder's; column names and aliases must match the Spark
  * output exactly (the driver sorts columns by name before hashing).
  * The oracle is by-name, so looking up a builder never generates SQL.
  */
final class QueryDef(val name: String,
    val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  def oracle: String = oracleSql
}

object QueryDef {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): QueryDef = new QueryDef(name, build, oracle)

  /** Every query, one family per object. */
  lazy val all: Seq[QueryDef] = Seq(PipelineQueries.defs, SqlQueries.defs,
    EventsQueries.defs, ProfileQueries.defs, TextQueries.defs,
    DedupQueries.defs, GraphQueries.defs, MlQueries.defs,
    SimilarityQueries.defs, MultimodalQueries.defs,
    CurationQueries.defs).flatten

  /** Name-keyed view; a name registered twice throws. */
  def register(defs: Seq[QueryDef]): Map[String, QueryDef] =
    defs.foldLeft(Map.empty[String, QueryDef]) { (m, d) =>
      require(!m.contains(d.name), s"query '${d.name}' is registered twice")
      m.updated(d.name, d)
    }
}
