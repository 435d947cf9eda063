package graft.ingest

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.Export

class BackfillSpec extends SparkTestBase {
  import spark.implicits._

  test("split backfill overwrites only the affected partitions") {
    val tmp = Files.createTempDirectory("graft_backfill").toString
    val lake = s"$tmp/lake"
    def bars(close: Double) = Seq(
      ("AAA", Timestamp.valueOf("2024-01-05 21:00:00"), close),
      ("AAA", Timestamp.valueOf("2024-03-05 21:00:00"), close),
      ("BBB", Timestamp.valueOf("2024-01-05 21:00:00"), close))
      .toDF("ticker", "datetime", "close")
      .withColumn("year", year($"datetime"))
      .withColumn("month", month($"datetime"))
    bars(1.0).write.mode(SaveMode.Overwrite)
      .partitionBy("ticker", "year", "month").parquet(lake)

    // split on AAA 2024-01-10 -> only (AAA, 2024, 1) within +-14 days
    val splits = Seq(("AAA", Date.valueOf("2024-01-10"))).toDF("ticker", "execution_date")
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(mode)
    val n = Backfill.overwriteAffected(bars(2.0), splits, lake)
    assert(n == 1)
    // dynamic overwrite is a per-write option: the shared session conf
    // (read by concurrent fits) is the same before and after the call
    assert(spark.conf.getOption(mode) == modeBefore)

    val out = spark.read.parquet(lake)
      .select($"ticker", month($"datetime").as("m"), $"close")
      .as[(String, Int, Double)].collect().toSet
    assert(out == Set(("AAA", 1, 2.0), ("AAA", 3, 1.0), ("BBB", 1, 1.0)))
  }

  test("export dispatches by suffix and rejects unknown") {
    val tmp = Files.createTempDirectory("graft_export").toString
    val df = Seq((1, "a")).toDF("i", "s")
    Export.write(df, s"$tmp/out.csv")
    assert(spark.read.option("header", "true").csv(s"$tmp/out.csv").count() == 1)
    Export.write(df, s"$tmp/out.parquet")
    assert(spark.read.parquet(s"$tmp/out.parquet").count() == 1)
    intercept[IllegalArgumentException] {
      Export.write(df, s"$tmp/out.feather")
    }
  }
}
