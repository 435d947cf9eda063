package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.adjust.Adjuster
import graft.ingest.BarsIngest
import graft.lake.LakeReader
import graft.query.Series

/** One benchmark process: sets the session up, runs one workload's
  * passes (a cold one, then warm ones until `seconds` of warm time is
  * spent, at least two), writes the correctness outputs untimed, and
  * writes a raw record (op intervals plus, when traced, every job, stage
  * and micro-batch) as JSON. `perfbench/run.py` launches it and turns the record into
  * metrics.
  *
  * Usage: BenchMain key=value ... with keys workload, data, work, out,
  * seed, cores, seconds, trace, setups, rows (comma list, row workloads)
  * and days (minute_pipeline).
  */
object BenchMain {

  /** One timed operation: `build` constructs the plan (a row's eager
    * fits run here) and returns what executes it.
    */
  final case class Op(name: String, build: () => Built)

  /** `run` is timed; `check` writes or counts the op's output for the
    * correctness check, untimed, after the last pass.
    */
  final case class Built(run: () => Unit, check: () => Unit = () => ())

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The warm-up `graft.Bench` runs before its timed loop: typed
    * encoders, a parquet read and one micro-batch through the state
    * store.
    */
  private def warmup(spark: SparkSession, parquet: String, tmp: Path): Unit = {
    import spark.implicits._
    spark.range(1000).map(i => (i, Array(i.toFloat))).filter(_._1 >= 0).count()
    spark.read.parquet(parquet).count()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val ck = Files.createTempDirectory(tmp, "warm")
    val ms = MemoryStream[Int]
    ms.addData(1, 2)
    ms.toDS().groupBy("value").count()
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Files.walk(ck).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private def dirStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  def main(argv: Array[String]): Unit = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val data = kv("data")
    val work = Paths.get(kv("work"))
    val seed = kv("seed").toLong
    val cores = kv("cores").toInt
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val nSetups = kv("setups").toInt
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val probe = if (workload == "minute_pipeline") s"$data/refdata/splits.parquet"
      else s"$data/nation.parquet"
    // setup 1 runs from process start; the others stop the session and
    // build it again in the same JVM
    val setups = ArrayBuffer.empty[Double]
    var spark = session(cores)
    warmup(spark, probe, tmp)
    setups += (System.currentTimeMillis() - t0) / 1e3
    while (setups.size < nSetups) {
      spark.stop()
      val s0 = System.nanoTime()
      spark = session(cores)
      warmup(spark, probe, tmp)
      setups += (System.nanoTime() - s0) / 1e9
    }

    val tracer = new Tracer(full = trace)
    spark.sparkContext.addSparkListener(tracer)
    if (trace) spark.streams.addListener(tracer.streams)

    val (ops, summary) = workload match {
      case "minute_pipeline" => pipeline(spark, data, work, kv("days").toInt)
      case _ => rows(spark, data, work, kv("rows").split(",").toSeq)
    }

    val passes = ArrayBuffer.empty[Map[String, Any]]
    var warmSpent = 0.0
    var pass = 0
    var lastBuilt = Seq.empty[Built]
    while (pass < 3 || warmSpent < seconds) {
      val order = if (workload == "minute_pipeline") ops
        else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val opRecs = ArrayBuffer.empty[Map[String, Any]]
      val passStartMs = System.currentTimeMillis()
      // a pass's time is the sum of its ops' timed windows: the cache
      // and heap hygiene between ops is not part of it
      var wall = 0.0
      val built = ArrayBuffer.empty[Built]
      order.foreach { op =>
        spark.catalog.clearCache()
        System.gc()
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val ct0 = CodeGenerator.compileTime
        val src0 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot
        val startMs = System.currentTimeMillis()
        val a = System.nanoTime()
        var b = a
        val err = try {
          val exec = op.build()
          b = System.nanoTime()
          exec.run()
          built += exec
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        val c = System.nanoTime()
        val endMs = System.currentTimeMillis()
        wall += (c - a) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        val src1 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot
        err.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
        opRecs += Map("name" -> op.name, "start" -> startMs, "end" -> endMs,
          "build_s" -> (b - a) / 1e9, "exec_s" -> (c - b) / 1e9,
          "ok" -> err.isEmpty, "error" -> err.getOrElse(""),
          "compiles" -> compiles,
          "compile_s" -> (CodeGenerator.compileTime - ct0) / 1e9,
          // the histogram keeps a sample, so the source size is the
          // compile count times the sample mean (approximate)
          "source_kb" -> compiles * math.max(src1.getMean, src0.getMean) / 1024.0)
      }
      passes += Map("index" -> pass, "start" -> passStartMs,
        "end" -> System.currentTimeMillis(), "wall_s" -> wall, "ops" -> opRecs.toSeq)
      if (pass > 0) warmSpent += wall
      lastBuilt = built.toSeq
      System.err.println(f"[perfbench] pass $pass: $wall%.3f s")
      pass += 1
    }

    // the least heap in use over a few collections: one collection can
    // run while a stopped query's threads still hold their buffers
    spark.catalog.clearCache()
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val checks = try { lastBuilt.foreach(_.check()); summary() } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] writing check outputs failed: $e")
        Map[String, Any]("error" -> e.toString)
    }
    val lakeStats = if (workload == "minute_pipeline") {
      val (files, bytes) = dirStats(work.resolve("lake"))
      Map("files_written" -> files, "output_mb" -> bytes / 1048576.0)
    } else Map.empty[String, Any]

    val info = Map("spark" -> spark.version,
      "jvm" -> System.getProperty("java.runtime.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    spark.stop() // drains the listener bus before the tracer is read

    val record = Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "setups_s" -> setups.toSeq, "passes" -> passes.toSeq,
      "retained_heap_mb" -> heapMb, "checks" -> checks, "lake" -> lakeStats,
      "info" -> info, "trace_data" -> tracer.snapshot)
    Files.write(Paths.get(kv("out")),
      Serialization.write(record)(DefaultFormats).getBytes("UTF-8"))
  }

  /** `SparkEntry.queries` rows: each op is the row's function (build)
    * and a `noop` write of its result (run). The check writes the
    * result as parquet for the oracle comparison.
    */
  private def rows(spark: SparkSession, data: String, work: Path,
      names: Seq[String]): (Seq[Op], () => Map[String, Any]) = {
    val q = SparkEntry.queries
    val dir = work.resolve("check")
    val ops = names.map { n =>
      val fn = q.getOrElse(n, throw new IllegalArgumentException(s"unknown row $n"))
      Op(n, () => {
        val df = fn(spark, data)
        Built(() => noop(df),
          () => df.write.mode(SaveMode.Overwrite).parquet(dir.resolve(n).toString))
      })
    }
    val summary = () => Map[String, Any]("dir" -> dir.toString,
      "oracles" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n,
        throw new IllegalArgumentException(s"row $n has no oracle"))).toMap)
    (ops, summary)
  }

  /** The reference's own job over a generated minute drop, in pipeline
    * order: ingest + manifest, three lake-read shapes, the adjusted-lake
    * build and write, its audit summary, and the QA joins.
    */
  private def pipeline(spark: SparkSession, data: String, work: Path,
      days: Int): (Seq[Op], () => Map[String, Any]) = {
    val lake = work.resolve("lake").toString
    val adjustedDir = work.resolve("adjusted").toString
    val ref = s"$data/refdata"
    def refdata(n: String) = spark.read.parquet(s"$ref/$n.parquet")
    def lines(n: String) = Files.readAllLines(Paths.get(s"$data/$n.txt")).asScala.toSeq
    val tickers = lines("tickers")
    val dayList = lines("days")
    def ts(day: String, endOfDay: Boolean = false) =
      Some(Timestamp.valueOf(s"$day ${if (endOfDay) "23:59:59" else "00:00:00"}"))
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "read_ticker" -> (() => LakeReader.read(spark, lake, tickers = Seq(tickers.head))),
      "read_week" -> (() => LakeReader.read(spark, lake, tickers = tickers.take(50),
        start = ts(dayList.head), end = ts(dayList(math.min(4, days - 1))),
        endIsDateOnly = true)),
      "read_day" -> (() => LakeReader.read(spark, lake, start = ts(dayList.last),
        end = ts(dayList.last), endIsDateOnly = true)))
    val adjusted = () => spark.read.parquet(adjustedDir)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    def out(n: String) = work.resolve(n).toString
    val ops = Seq(
      Op("ingest", () => Built(
        () => BarsIngest.ingest(spark, s"$data/drop/*.csv.gz", lake, timeframe = "minute"),
        () => counts("lake_rows") = LakeReader.read(spark, lake).count())),
      Op("manifest", () => Built(
        () => BarsIngest.writeManifest(spark, lake, out("manifest"))))) ++
      reads.map { case (n, r) =>
        Op(n, () => { val df = r(); Built(() => noop(df), () => counts(n) = df.count()) })
      } ++
      Seq(
        Op("adjust", () => {
          val df = Adjuster.buildAdjusted(LakeReader.read(spark, lake),
            refdata("security_master"), refdata("splits"), refdata("dividends"),
            Adjuster.MaterializeClose)
          // the AdjustPipeline write: one file per ticker/year/month
          Built(() => df.withColumn("year", year(col("datetime")))
            .withColumn("month", month(col("datetime")))
            .repartition(col("ticker"), col("year"), col("month"))
            .sortWithinPartitions(col("datetime"))
            .write.mode(SaveMode.Overwrite).option("compression", "zstd")
            .partitionBy("ticker", "year", "month").parquet(adjustedDir))
        }),
        Op("audit", () => {
          val df = Adjuster.auditSummary(adjusted(), refdata("splits"), refdata("dividends"))
          Built(() => noop(df), () => df.select("ticker", "split_events_aligned",
            "dividend_event_days").write.mode(SaveMode.Overwrite).parquet(out("audit")))
        }),
        Op("qa", () => {
          val series = Series.loadSeries(LakeReader.read(spark, lake),
            adjusted().withColumnRenamed("close_split", "close_sa"), "minute")
          val jumps = Series.splitPiecewiseJumps(series)
          Built(() => {
            noop(jumps)
            noop(Series.returnCorrelation(series))
          }, () => jumps.write.mode(SaveMode.Overwrite).parquet(out("jumps")))
        }))
    val summary = () => Map[String, Any]("lake_rows" -> counts("lake_rows"),
      "read_rows" -> reads.map { case (n, _) => n -> counts(n) }.toMap,
      "adjusted" -> adjustedDir, "manifest" -> out("manifest"),
      "audit" -> out("audit"), "jumps" -> out("jumps"))
    (ops, summary)
  }
}
