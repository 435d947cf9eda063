package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support — the co-located-join lever at lake scale.
  *
  * A fact table bucketed (and sorted) by its join key joins another
  * table bucketed the same way with NO exchange and NO sort: Spark
  * matches `HashPartitioning(key, n)` on both sides at plan time. For
  * the adjustment engine that means bars ⋈ factor grids on `id`, or
  * unadjusted ⋈ adjusted series on (ticker) in the QA layer, shuffle
  * the 100 TB side zero times after the one-time bucketed write.
  *
  * Bucketing rides the session catalog (`saveAsTable`) — parquet files
  * plus bucket metadata; `option("path", ...)` keeps the data external
  * at a lake location.
  */
object Bucketed {

  /** One-time bucketed materialization of a lake table. */
  def write(
      df: DataFrame, table: String, path: String,
      buckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    val base = df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .option("compression", "zstd")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) base.sortBy(sortCols.head, sortCols.tail: _*)
      else base
    sorted.format("parquet").saveAsTable(table)
  }

  /** Read back a bucketed table (bucket metadata comes from the
    * catalog — reading the bare path would lose it).
    */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}

/** Small-file compaction for the hive lake — the operational answer to
  * drip-fed drops leaving hundreds of tiny files per partition (each
  * one a scan task + a namenode entry at 100 TB). Rewrites only the
  * named partitions, one output file per partition (the reference's
  * one-file-per-bucket policy, ingest.py:289-314), via dynamic
  * partition overwrite so untouched partitions are never rewritten.
  */
object Compact {

  /** Compact the given `ticker=X/year=Y/month=Z` partition paths of
    * `lakeRoot` down to one file each. Returns rows rewritten.
    */
  def partitions(spark: SparkSession, lakeRoot: String,
      partitionPaths: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val slice = spark.read.option("basePath", lakeRoot)
      .parquet(partitionPaths: _*)
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

  /** Partitions holding more than `maxFiles` parquet files — the
    * compaction work list.
    *
    * Fragmentation is FILE-SYSTEM METADATA, so this is a driver-side
    * directory walk (Hadoop `FileSystem.listStatus` down the three
    * hive levels), never a row scan: the previous implementation read
    * every lake row through `input_file_name()` to learn per-partition
    * file counts — at 100 TB that prices a maintenance decision at a
    * full table scan (ql4's bench measured exactly that shape: 17 s of
    * pure row volume on the unsliced fixture). Cost is now one RPC per
    * directory — the same listing the scan planner does — independent
    * of row volume. On an object store with a manifest (the S6 table),
    * the same counts come from the manifest's file column for free.
    */
  def fragmented(spark: SparkSession, lakeRoot: String,
      maxFiles: Int = 4): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(lakeRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def partitionDirs(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => partitionDirs(st.getPath, depth - 1))
    partitionDirs(root, 3)
      .filter { dir =>
        fs.listStatus(dir).count(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet")) > maxFiles
      }
      .map { dir =>
        // rebuild against the caller's lakeRoot string (the FS walk
        // returns qualified URIs; partitions() passes these back with
        // basePath = lakeRoot, which must stay a literal prefix)
        val segs = Seq(dir.getParent.getParent.getName,
          dir.getParent.getName, dir.getName)
        s"$lakeRoot/${segs.mkString("/")}"
      }
      .sorted
  }
}
