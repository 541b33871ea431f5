package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named operator of the engine's query surface.
  *
  * @param fn     Spark implementation: (session, fixture dir) => result
  * @param oracle equivalent DuckDB SQL over the same parquet tables
  *               (None for ops not expressible in portable SQL — those get
  *               the driver's weaker rows-only check plus ScalaTest specs).
  * @param memo   true when a repeat invocation skips the query's build
  *               because it reads state that outlives the call (family
  *               g's Derby deployments, a cross-run artifact) — i.e. the
  *               query's WARM bench number measures a readout, not the
  *               pipeline (see SparkEntry.memoServed). Bench emits
  *               the flag into bench_detail.json and tools/benchcmp.py
  *               grades the flagged queries' COLD (= honest build) for
  *               regressions, so a memoized build path can never hide
  *               behind a 0.05 s warm (round-15 verdict #2).
  *
  * Contract (see SparkEntry): result column names match the oracle's
  * aliases exactly; every query ends in a deterministic total ORDER BY;
  * derived floats go through exact decimal arithmetic and a single final
  * cast so both engines produce bit-identical values.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    memo: Boolean = false)

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    QueryDef(fn, Some(oracle))

  def apply(fn: (SparkSession, String) => DataFrame, oracle: String,
      memo: Boolean): QueryDef =
    QueryDef(fn, Some(oracle), memo)
}
