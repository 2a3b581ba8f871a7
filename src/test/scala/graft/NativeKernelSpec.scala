package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col

import graft.operators.{CorpusOps, Dedup, Sketches}

/** Every call site of a native kernel plans only that kernel: on a session
 * whose registry lacks the kernel's name, the site fails at analysis with an
 * error naming the function, instead of running a slower second formulation. */
class NativeKernelSpec extends SparkSpec {

  /** A two-document `documents` table: the one table the four queries read. */
  private lazy val sf: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-native-kernels")
    Seq((3L, "a b c d e f"), (6L, "a b c d e g")).toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  /** A fresh session (GraftExtensions installed as on every session) with
   * `name` dropped from its own function registry; the shared test session
   * keeps it. */
  private def without(name: String): SparkSession = {
    val s = spark.newSession()
    assert(s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name)),
      s"$name should be registered before the drop")
    s
  }

  private def shingled(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, Seq("a b", "b c")), (2L, Seq("a b", "b d"))).toDF("id", "shingles")
  }

  private val sites: Seq[(String, String, SparkSession => DataFrame)] = Seq(
    ("minhash_signature", "Dedup.bandedKeys", s => Dedup.bandedKeys(shingled(s), 4, 2)),
    ("simhash62", "Dedup.simhashPairs", s => Dedup.simhashPairs(shingled(s), 3)),
    ("bottomk_distinct", "Sketches.kmvDistinct", s => {
      import s.implicits._
      Sketches.kmvDistinct(Seq(("g", "x"), ("g", "y")).toDF("g", "item"),
        col("g"), col("item"), k = 16)
    }),
    ("mink_by", "CorpusOps.sampleStratifiedBounded", s => {
      import s.implicits._
      CorpusOps.sampleStratifiedBounded(Seq((1L, "a"), (2L, "a")).toDF("id", "src"),
        col("id"), col("src"), quota = 1, salt = "s")
    }),
    ("char_stats", "CorpusOps.charDiversity", s => {
      import s.implicits._
      CorpusOps.charDiversity(Seq((1L, "aab")).toDF("id", "t"), col("id"), col("t"))
    }),
    ("min_hash60", "q29_fingerprint", s => SparkEntry.queries("q29_fingerprint")(s, sf)),
    ("cdc_bounds", "q81_cdc_chunks", s => SparkEntry.queries("q81_cdc_chunks")(s, sf)),
    ("minhash_signature", "q112_minhash_calibration",
      s => SparkEntry.queries("q112_minhash_calibration")(s, sf)),
    ("winnow_select", "q121_winnowing", s => SparkEntry.queries("q121_winnowing")(s, sf)))

  for ((fn, site, build) <- sites)
    test(s"$site fails at analysis naming $fn on a session without it") {
      val e = intercept[AnalysisException](build(without(fn)))
      assert(e.getMessage.contains(s"`$fn`"), e.getMessage)
    }
}
