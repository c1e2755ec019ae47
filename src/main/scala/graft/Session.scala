package graft

import org.apache.spark.sql.SparkSession

/** The one way this project builds a Spark session: local mode, one
  * shuffle partition per worker thread, UTC session time, no UI, the
  * native expressions registered and WARN logging. Every main and the
  * test suites go through [[local]]. */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.ArrayDotProduct.register(spark)
    graft.plans.CharHash.register(spark)
    graft.plans.SortedIntersectCount.register(spark)
    graft.plans.RLikeCached.register(spark)
    spark
  }
}
