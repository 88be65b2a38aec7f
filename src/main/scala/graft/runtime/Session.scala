package graft.runtime

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The session policy every non-frozen main runs under, in one place:
  * AQE on, UTC session time zone, `mapKeyDedupPolicy=LAST_WIN` (the
  * queries' map building relies on it), UI off, and — only when nothing
  * else supplied a master — `local[cpus]` with as many shuffle partitions.
  *
  * A master passed by spark-submit (`--master`, `spark.master` in
  * spark-defaults, or the `MASTER` environment variable, which spark-submit
  * turns into `spark.master`) reaches the driver as the `spark.master`
  * system property, and builder options override it. So the local default
  * is set only when `new SparkConf()` has no `spark.master`; otherwise
  * `spark-submit --master <cluster>` would silently run locally.
  */
object Session {

  private val policy = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS`, or 8 when it is unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(8)(_.toInt)

  /** The local master and its shuffle-partition count, or nothing when
    * `conf` already names a master.
    */
  def localDefaults(conf: SparkConf, cpus: Int): Seq[(String, String)] =
    if (conf.contains("spark.master")) Nil
    else Seq("spark.master" -> s"local[$cpus]", "spark.sql.shuffle.partitions" -> cpus.toString)

  /** A builder carrying the policy; callers add their own confs and call
    * `getOrCreate()`.
    */
  def builder(appName: String, cpus: Int): SparkSession.Builder =
    (policy ++ localDefaults(new SparkConf(), cpus)).foldLeft(
      SparkSession.builder().appName(appName)) { case (b, (k, v)) => b.config(k, v) }
}
