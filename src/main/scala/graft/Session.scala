package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way graft's programs and tests build a `SparkSession`. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  private lazy val defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session named `app` with `cores` shuffle partitions, UTC session
    * time, no UI and WARN logging. The master is `local[cores]` unless
    * `spark.master` is already configured (spark-submit's `--master`,
    * `-Dspark.master`), which always wins.
    */
  def local(app: String, cores: Int = defaultCores): SparkSession = {
    val builder = SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master"))
      builder.master(s"local[$cores]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
