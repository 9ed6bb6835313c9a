package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: the Spark plan builder plus (when the
  * semantics are deterministically SQL-expressible) the equivalent ANSI
  * SQL the driver's DuckDB oracle runs on the same parquet tables.
  *
  * Oracle determinism rules (SURVEY §7.3): total ORDER BY with unique
  * tie-break; `ts::TIMESTAMP` (µs truncation) on the DuckDB side to match
  * Spark's microsecond timestamps; doubles rounded to 6 dp on both sides;
  * integer sums cast to BIGINT on the DuckDB side (its SUM(int) is
  * HUGEINT); no wall-clock columns.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))
}
