package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark plan over the testdata tables plus
  * (when SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Determinism contract (the driver hash-compares values):
  *  - every double output is either raw data, a single deterministic
  *    float op on raw data, or exact decimal arithmetic cast back to
  *    double — never an order-dependent double aggregate;
  *  - timestamps are emitted as epoch longs or formatted strings, never
  *    raw TIMESTAMP columns (parquet tz-annotation differences);
  *  - every query ends in a total ORDER BY mirrored in the oracle.
  *
  * Every oracle string is pinned by `OracleSqlPinSpec` (md5 of its
  * whitespace-normalised SQL, one line per row in
  * `src/test/resources/graft/oracle_sql.md5`), so moving SQL between
  * modules or into [[OracleSql]] fragments provably changes no check.
  * A deliberate oracle change re-pins by replacing that row's line
  * with the new hash the failing spec prints, and names the row and
  * the reason in CHANGES.md.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
