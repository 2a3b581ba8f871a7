package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session policy every entry point shares: graft's native
 * expressions, `local[N]` (or the `SPARK_MASTER` deployment override), N
 * shuffle partitions, a UTC session clock (`Tables.events` casts naive
 * timestamps), readable nanosecond parquet timestamps, no UI, WARN logs.
 */
object Sessions {
  /** N: `SPARK_GRAFT_CPUS` when set, else the processors this JVM sees. */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer (got '$v')"))
    }

  def get(appName: String, n: Int = cpus()): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
