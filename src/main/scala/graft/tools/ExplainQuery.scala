package graft.tools

/** Plan-audit aid: print the formatted physical plan of one SparkEntry query
  * and its noop-sink wall time. Usage:
  *   runMain graft.tools.ExplainQuery <query_name> [sfDir] [--no-run] [--repeat=N]
  * --repeat times N warm executions in this one JVM and reports each + the
  * minimum — the only number comparable across runs on this contended box.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.drop(1).filterNot(_.startsWith("--"))
      .headOption.getOrElse("/root/testdata/sf0.01")
    val run = !args.contains("--no-run")
    val spark = graft.Sessions.get("graft-explain-query")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (run) {
      // drop the explain construction's eager checkpoint blocks first, so
      // the timed run isn't measured under double-copy memory pressure
      // Bench never has (Bench frees caches between queries)
      graft.Bench.freeCaches(spark)
      // Bench-style timing: construction + execution (an eagerly
      // materializing query pays its checkpoint inside the timed region)
      val repeat = args.collectFirst {
        case a if a.startsWith("--repeat=") => a.stripPrefix("--repeat=").toInt
      }.getOrElse(1)
      val times = (1 to repeat).map { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.Bench.freeCaches(spark)
        println(f"[explain] $name pass $i wall $sec%.2f s")
        sec
      }
      println(f"[explain] $name min ${times.min}%.2f s over $repeat passes")
    }
    spark.stop()
  }
}
