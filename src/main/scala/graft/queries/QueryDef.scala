package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named operator of the engine's query surface.
  *
  * @param fn        Spark implementation: (session, fixture dir) => result
  * @param oracleSql equivalent DuckDB SQL over the same parquet tables
  *                  (None for ops not expressible in portable SQL — those
  *                  get a rows-only check plus ScalaTest specs). By-name,
  *                  so building the registry never evaluates an oracle:
  *                  g12's reads the reference DDL, and where that file is
  *                  absent only g12 fails, when asked.
  *
  * Contract (see SparkEntry): result column names match the oracle's
  * aliases exactly; every query ends in a deterministic total ORDER BY;
  * derived floats go through exact decimal arithmetic and a single final
  * cast so both engines produce bit-identical values.
  */
final class QueryDef(
    val fn: (SparkSession, String) => DataFrame,
    oracleSql: => Option[String]) {
  /** The oracle SQL, evaluated on each read; throws when its input is
    * missing. */
  def oracle: Option[String] = oracleSql
}

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: => Option[String]): QueryDef =
    new QueryDef(fn, oracle)

  def apply(fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    new QueryDef(fn, Some(oracle))
}
