package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape of every graft main and spec: local mode
  * on `cpus` cores with as many shuffle partitions, AQE with skew-join
  * splitting (the Spark 4 defaults, stated), UTC session time zone and
  * no UI. The place an engine-wide setting belongs.
  */
object GraftSession {

  /** The core count of a run: `SPARK_GRAFT_CPUS`, 4 when unset, parsed
    * once. Anything but a positive integer fails loudly rather than
    * being spliced into a master URL or a record.
    */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw.fold(4) { v =>
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
