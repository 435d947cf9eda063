package graft.ingest

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Split-window backfill — the reference's incremental re-run scoping
  * (scripts/emit_split_backfill_cmds.py:21-40: re-process ±14 days
  * around every split's execution date), expressed as dynamic partition
  * overwrite instead of emitted shell commands: only the (ticker, year,
  * month) partitions whose window overlaps a split window are
  * recomputed and atomically replaced.
  */
object Backfill {

  /** The (ticker, year, month) partitions affected by splits ± window. */
  def affectedPartitions(splits: DataFrame, windowDays: Int = 14): DataFrame =
    splits
      .select(col("ticker"),
        explode(sequence(
          date_add(to_date(col("execution_date")), -windowDays),
          date_add(to_date(col("execution_date")), windowDays))).as("d"))
      .select(col("ticker"), year(col("d")).as("year"), month(col("d")).as("month"))
      .distinct()

  /** Overwrite only the affected partitions of `lakeRoot` with the
    * matching slice of `recomputed` (which must carry ticker/year/month
    * partition columns). Uses dynamic partition overwrite, set on this
    * write only — untouched partitions stay as-is, re-runs are
    * idempotent, and the session conf is never touched.
    */
  def overwriteAffected(
      recomputed: DataFrame,
      splits: DataFrame,
      lakeRoot: String,
      windowDays: Int = 14): Long = {
    val affected = broadcast(affectedPartitions(splits, windowDays))
    val slice = recomputed.join(affected, Seq("ticker", "year", "month"), "left_semi")
    val n = slice.count()
    slice
      .repartition(col("ticker"), col("year"), col("month"))
      .sortWithinPartitions(col("datetime"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("ticker", "year", "month")
      .parquet(lakeRoot)
    n
  }
}
