package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.operators.Ivf

/**
 * Phase profile of q162 (the round-16 sweep's most expensive query,
 * 104 s at sf10): the query is three artifacts-and-a-probe — day-0 build
 * (encode even half + staged cell-partitioned write + swap + MSCK),
 * day-1 append (encode odd half + disjointness semi-join + append), and
 * the partition-pruned ADC probe. The SWEEP can only see their sum;
 * this tool times each phase separately so the next optimization round
 * attacks the real term instead of the query. One JSON line.
 *
 * Usage: runMain graft.tools.PqPhaseProfile <sfDir> [runs]
 */
object PqPhaseProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2

    val spark = graft.Sessions.get("graft-pq-phase-profile")

    def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))
    val coarse = Ivf.centroidTable(emb, col("id") % 64 === 0)
    val cb = emb.where(col("id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val splits = Seq((1, 32), (33, 32))

    var buildSec, appendSec, probeSec = Double.MaxValue
    var nlist = -1L
    for (_ <- 1 to runs) {
      val t0 = System.nanoTime()
      Ivf.writePqIndexTable(
        Ivf.pqIndexFromTable(emb.where(col("id") % 2 === 0), coarse, cb, splits),
        "pq_profile_idx")
      buildSec = math.min(buildSec, (System.nanoTime() - t0) / 1e9)

      val t1 = System.nanoTime()
      Ivf.appendPqIndexTableFromTable(emb.where(col("id") % 2 === 1),
        "pq_profile_idx", coarse, cb, splits)
      appendSec = math.min(appendSec, (System.nanoTime() - t1) / 1e9)

      val t2 = System.nanoTime()
      Ivf.adcSearchFromTableCT(spark, "pq_profile_idx",
          emb.where(col("id") % 50 === 0), coarse, cb, splits,
          nprobe = 2, k = 4)
        .orderBy(col("query_id"), col("rank")).collect()
      probeSec = math.min(probeSec, (System.nanoTime() - t2) / 1e9)

      nlist = coarse.count()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    println(s"""{"tool":"pq_phase","sf":"$sfDir","nlist":$nlist,""" +
      s""""build_sec":$buildSec,"append_sec":$appendSec,""" +
      s""""probe_sec":$probeSec,"runs":$runs}""")
    spark.stop()
  }
}
