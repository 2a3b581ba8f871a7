package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.operators.Dedup

/**
 * Phase profile of the r18 prefix-pigeonhole Jaccard path on the
 * q141/q31/q112 corpus: isolates ranked-prefix build, token-pair posting
 * build, candidate-join enumeration, dedup, and the two verify variants
 * (inline per-row vs dedup-then-verify), and dumps plan evidence
 * (ReusedExchange / WholeStageCodegen coverage) for the verify pipeline.
 */
object PigeonProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val theta = if (args.length > 1) args(1).toDouble else 0.5

    val spark = graft.Sessions.get("graft-pigeon-profile")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
      .localCheckpoint()

    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"phase $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s -> $r")
      r
    }

    val tp = theta - 0.00005
    val nonEmpty = docs.where(size(col("shingles")) > 0)
    val cold = nonEmpty.select(col("id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("sh"))
    val dfreq = cold.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byId = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val ranked = cold.join(dfreq, "sh")
      .select(col("id"), col("sz"), col("sh"), col("df"))
      .withColumn("rk", row_number().over(byId.orderBy(col("df"), col("sh"))))
      .withColumn("np", count(lit(1)).over(byId))
    val prefix = ranked.where(col("rk") <=
      col("np") - ceil(col("sz").cast("double") * tp) + lit(1L))
      .select(col("id"), xxhash64(col("sh")).as("kh"))
      .localCheckpoint()
    timed("prefix rows (checkpointed)")(prefix.count())
    val joined = prefix.select(col("id").as("a"), col("kh"))
      .join(prefix.select(col("id").as("b"), col("kh")), "kh")
      .where(col("a") < col("b")).select(col("a"), col("b"))
    timed("join output rows")(joined.count())
    timed("deduped candidates")(joined.dropDuplicates("a", "b").count())
    // decomposed operator body with per-step timing
    locally {
      val nE = docs.where(size(col("shingles")) > 0)
      val posts = nE.select(col("id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("sh"))
      val hotSet = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .where(col("df") > 10000).select(col("sh"))
      val coldB = posts.join(hotSet, Seq("sh"), "left_anti")
      val hotB = posts.join(hotSet, Seq("sh"), "left_semi")
        .select(col("id"), col("sh"))
      val hotC = timed("hot checkpoint")(hotB.localCheckpoint())
      val dfreq2 = coldB.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val rankedB = coldB.join(dfreq2, "sh")
        .select(col("id"), col("sz"), col("sh"), col("df"))
        .withColumn("rk", row_number().over(byId.orderBy(col("df"), col("sh"))))
        .withColumn("np", count(lit(1)).over(byId))
      val rankedC = timed("ranked checkpoint")(rankedB.localCheckpoint())
      val varrC = timed("varr checkpoint")(
        nE.select(col("id"), sort_array(col("shingles")).as("shs"))
          .localCheckpoint())
      val pfx = rankedC.where(col("rk") <=
        col("np") - ceil(col("sz").cast("double") * tp) + lit(1L))
        .select(col("id"), xxhash64(col("sh")).as("kh"))
      val mp = pfx.select(col("id").as("a"), col("kh"))
        .join(pfx.select(col("id").as("b"), col("kh")), "kh")
        .where(col("a") < col("b")).select(col("a"), col("b"))
      timed("main join rows (from ckpt)")(mp.count())
      val verified = mp
        .join(broadcast(varrC.select(col("id").as("a"), col("shs").as("sh_a"))), "a")
        .join(broadcast(varrC.select(col("id").as("b"), col("shs").as("sh_b"))), "b")
        .withColumn("c", expr("cast(intersect_count_sorted(sh_a, sh_b) as bigint)"))
        .select(col("a"), col("b"),
          round(col("c").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("c")).cast("double"),
            4).as("jac"))
        .where(col("jac") >= theta)
      val attached = mp
        .join(broadcast(varrC.select(col("id").as("a"), col("shs").as("sh_a"))), "a")
        .join(broadcast(varrC.select(col("id").as("b"), col("shs").as("sh_b"))), "b")
      timed("attach joins only (sum sizes)")(
        attached.select((size(col("sh_a")) + size(col("sh_b"))).as("s"))
          .agg(sum(col("s"))).head().getLong(0))
      timed("kernel once per row (sum c)")(
        attached.select(expr("intersect_count_sorted(sh_a, sh_b)").as("c"))
          .agg(sum(col("c"))).head().getLong(0))
      timed("verified rows (no distinct)")(verified.count())
      timed("verified distinct")(verified.distinct().count())
    }
    timed("pigeonholeJaccard inline (current)")(
      Dedup.pigeonholeJaccard(docs, theta).count())
    timed("countingJaccard")(Dedup.countingJaccard(docs, theta).count())

    // plan evidence: is the verify pipeline one codegen stage, and do the
    // self-join sides / broadcast sides reuse one exchange?
    val plan = Dedup.pigeonholeJaccard(docs, theta)
      .queryExecution.executedPlan.toString
    val reused = plan.linesIterator.count(_.contains("ReusedExchange"))
    val bexch = plan.linesIterator.count(_.contains("BroadcastExchange"))
    val sorts = plan.linesIterator.count(l => l.contains("- Sort "))
    println(s"plan: ReusedExchange=$reused BroadcastExchange=$bexch Sorts=$sorts")
    println(plan.linesIterator.filter(l => l.contains("Join") ||
      l.contains("Exchange") || l.contains("intersect_count_sorted"))
      .take(60).mkString("\n"))
    spark.stop()
  }
}
