package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes to run (local
    // iteration aid; the driver always passes exactly two)
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.headOption.map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    val spark = Sessions.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // print the full cause chain — a codegen failure surfaces as a
        // "Boxed Exception" wrapper whose message hides the real error
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(5).map(_.toString).mkString(" <- ")
        System.err.println(s"[verify] $name failed: $chain")
      }
      // drop reuse points and localCheckpoint blocks between queries — every
      // query shares this JVM and the caching ones would otherwise
      // accumulate block manager memory for the whole session
      Bench.freeCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
