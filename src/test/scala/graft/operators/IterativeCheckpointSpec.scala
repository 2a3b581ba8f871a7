package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The opt-in reliable-checkpoint mode for iterative operators
 * ([[Checkpoints]]): with `graft.iterative.reliableCheckpoint=true` and a
 * checkpoint dir set, every fixpoint round writes to the dir instead of
 * pinning local blocks — identical results, and the round state survives the
 * blanket unpersist sweep that permanently breaks localCheckpoint-backed
 * frames (the stand-in for executor loss that local mode can exhibit).
 * Both modes are compared here on a scrambled 64-vertex chain; the
 * O(log n) round bound of star contraction is asserted in ScaleOpsSpec.
 */
class IterativeCheckpointSpec extends SparkSpec {

  private def withReliable[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-reliable-ck").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set(Checkpoints.ConfKey, "true")
    try body finally spark.conf.set(Checkpoints.ConfKey, "false")
  }

  test("reliable mode produces identical components and pagerank, and survives an unpersist sweep") {
    import spark.implicits._
    // the flag without a checkpoint dir must fail LOUDLY, not fall back —
    // checked FIRST (setCheckpointDir below is context-global and permanent)
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Checkpoints.ConfKey, "true")
      try intercept[IllegalArgumentException] { Checkpoints.reliableEnabled(spark) }
      finally spark.conf.set(Checkpoints.ConfKey, "false")
    }
    // scrambled 64-node chain: the adversarial shape both loops care about
    val ids = new scala.util.Random(11).shuffle((200L to 263L).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val edges = chain.select(col("a").as("src"), col("b").as("dst"))

    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val localComp = toMap(Dedup.componentsStar(chain))
    val localProp = toMap(Dedup.components(chain, maxIters = 100))
    val localPr = toMap(Graph.pageRankInt(edges, iterations = 5))
    val (reliableComp, reliablePr) = withReliable {
      val comp = Dedup.componentsStar(chain)
      val pr = Graph.pageRankInt(edges, iterations = 5)
      // round state is on disk, not in pinned blocks: a blanket unpersist
      // sweep (which would permanently break a localCheckpoint-backed frame)
      // must leave both results recomputable
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      assert(toMap(Dedup.components(chain, maxIters = 100)) == localProp)
      (toMap(comp), toMap(pr))
    }
    assert(reliableComp == localComp)
    assert(reliableComp.values.toSet == Set(200L), "one component, min label")
    assert(reliablePr == localPr)
  }

  test("fixpoints survive forced block eviction BETWEEN rounds in reliable mode; local mode aborts") {
    import spark.implicits._
    // executor-loss chaos, demonstrated rather than argued: after EVERY
    // round's materialization, every persistent RDD is evicted (blocking, so
    // the blocks are really gone before the next round reads them). In
    // reliable mode each round is on disk and the fixpoint must still
    // converge to the exact answer; in local mode the just-materialized
    // round's ONLY copy is destroyed and the loop must abort loudly (the
    // documented localCheckpoint trade), never return a wrong labeling.
    val ids = new scala.util.Random(7).shuffle((500L to 563L).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val edges = chain.select(col("a").as("src"), col("b").as("dst"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expectedComp = toMap(Dedup.componentsStar(chain))
    val expectedPr = toMap(Graph.pageRankInt(edges, iterations = 5))
    // installing the hook forces EAGER per-round materialization (the
    // production default is lazy — there the chaos window this test models
    // sits inside the first action instead)
    Checkpoints.afterMaterialize.set(Some(_ =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))))
    try {
      val (gotComp, gotPr) = withReliable {
        (toMap(Dedup.componentsStar(chain)),
          toMap(Graph.pageRankInt(edges, iterations = 5)))
      }
      assert(gotComp == expectedComp,
        "reliable fixpoint under per-round eviction must equal the undisturbed run")
      assert(gotComp.values.toSet == Set(500L), "one component, min label")
      assert(gotPr == expectedPr)
      // local mode under the same chaos: loud abort, not silent wrongness
      intercept[Exception] { toMap(Dedup.componentsStar(chain)) }
    } finally Checkpoints.afterMaterialize.remove()
  }
}
