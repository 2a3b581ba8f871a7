package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/**
 * Phase profile of q113_quality_perceptron (VERDICT r17 #3 — dec3 ~31× at
 * sf100, never decomposed): times the feature-table build and every
 * training round for BOTH layouts —
 *
 *   legacy: dc checkpointed unpartitioned, scored grouped by (doc_id, y)
 *           → every round re-exchanges the corpus-sized feature table
 *           (16 exchanges across 8 rounds at sf100)
 *   fixed:  dc co-partitioned by doc_id at checkpoint, scored grouped by
 *           doc_id alone → per-round aggregates and joins are
 *           exchange-free (the r18 q113 lever)
 *
 * and prints the per-round plan's Exchange count as the structural pin.
 * Confusion matrices are asserted identical between layouts.
 */
object PerceptronProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)

    val spark = graft.Sessions.get("graft-perceptron-profile")

    def run(tag: String, fixed: Boolean): Seq[(Long, Boolean, Long)] = {
      val t0 = System.nanoTime()
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), T.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 2)
        .select(col("doc_id"),
          when(size(col("w")) >= 50, 1L).otherwise(-1L).as("y"), col("w"))
      val dcRaw = base
        .select(col("doc_id"), col("y"), explode(expr(
          "transform(sequence(0, size(w) - 2), " +
            "i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))")).as("g"))
        .select(col("doc_id"), col("y"),
          (T.hash60(concat(lit("qp:"), col("g"))) % 1024).as("b"))
        .groupBy(col("doc_id"), col("y"), col("b")).agg(count(lit(1)).as("c"))
        .unionByName(base.select(col("doc_id"), col("y"),
          lit(-1L).as("b"), lit(1L).as("c")))
      val dc =
        if (tag == "cached") {
          val d = dcRaw.repartition(col("doc_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          d.count()
          d
        } else if (fixed) dcRaw.repartition(col("doc_id")).localCheckpoint()
        else dcRaw.localCheckpoint()
      println(f"[$tag] dc build+checkpoint: ${(System.nanoTime() - t0) / 1e9}%.1f s")

      var w: Map[Long, Long] = Map.empty
      def weightsDf = {
        val rows = if (w.isEmpty) Seq((0L, 0L)) else w.toSeq
        val sess = spark; import sess.implicits._
        rows.toDF("b", "wt")
      }
      def scored =
        if (fixed)
          dc.join(broadcast(weightsDf), Seq("b"), "left")
            .groupBy(col("doc_id"))
            .agg(max(col("y")).as("y"),
              sum(col("c") * coalesce(col("wt"), lit(0L))).as("s"))
        else
          dc.join(broadcast(weightsDf), Seq("b"), "left")
            .groupBy(col("doc_id"), col("y"))
            .agg(sum(col("c") * coalesce(col("wt"), lit(0L))).as("s"))
      // structural pin: exchanges in one round's delta plan
      val deltaPlan = dc.join(
        scored.where(col("y") * col("s") <= 0).select(col("doc_id")), "doc_id")
        .groupBy(col("b")).agg(sum(col("y") * col("c")).as("dw"))
        .queryExecution.executedPlan.toString
      println(s"[$tag] delta-plan exchanges: " +
        deltaPlan.linesIterator.count(_.contains("Exchange hashpartitioning")))
      deltaPlan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .foreach(l => println(s"[$tag]   ${l.trim.take(120)}"))
      for (r <- 1 to 8) {
        val tr = System.nanoTime()
        val delta = dc.join(
          scored.where(col("y") * col("s") <= 0)
            .select(col("doc_id")), "doc_id")
          .groupBy(col("b")).agg(sum(col("y") * col("c")).as("dw"))
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        w = (w.keySet ++ delta.keySet).map(b =>
          b -> (w.getOrElse(b, 0L) + delta.getOrElse(b, 0L))).toMap
        println(f"[$tag] round $r: ${(System.nanoTime() - tr) / 1e9}%.1f s " +
          s"(updates ${delta.size})")
      }
      val tf = System.nanoTime()
      val matrix = scored
        .select(col("y"), (col("s") > 0).as("pred"))
        .groupBy(col("y"), col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("y"), col("pred"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
      println(f"[$tag] final matrix: ${(System.nanoTime() - tf) / 1e9}%.1f s " +
        f"total ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      matrix
    }

    val legacy = run("legacy", fixed = false)
    val fixedM = run("fixed", fixed = true)
    val cached = run("cached", fixed = true)
    require(legacy == fixedM && legacy == cached,
      s"confusion matrices diverged: legacy=$legacy fixed=$fixedM cached=$cached")
    println(s"matrices identical: $legacy")
    spark.stop()
  }
}
