package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic ×K scale-up of a driver-generated testdata directory
 * (TESTDATA.md star schema) — the sf1.0/sf10 evidence generator: the driver
 * ships sf0.001/0.01/0.1 only, and the 100×-scale argument needs measured
 * order-of-magnitude datapoints (VERDICT r10 #1, r11 #2). Writes
 * `<out>/<table>.parquet` for every table, K replicas each, seed-free and
 * fully deterministic (replica index is the only entropy).
 *
 * Replication discipline — each replica must be a NEW corpus, not a copy:
 * naive duplication would make every document an exact dup of its K−1
 * siblings and every embedding a cosine-1.0 match, turning the dedup/ANN
 * benchmarks into a degenerate quadratic workload that measures the planted
 * duplication, not the operator. Instead:
 *
 *  - keys (`doc_id`, `vec_id`, `event_id`, `user_id`, TPC-H PK/FKs) shift by
 *    `r · stride(table)` with stride = max(key)+1 of the SOURCE table, so
 *    replicas are id-disjoint and every intra-replica FK join still lands
 *    (fact FKs shift by their DIMENSION's stride);
 *  - `documents.text` passes through a per-replica KEYED letter-substitution
 *    cipher (`translate` over both alphabets; replica 0 is the identity,
 *    replica r ≥ 1 draws a Fisher–Yates permutation from a splitmix64
 *    stream seeded by r — 26! keyspace, so K is not capped at the 26
 *    rotations the pre-r12 version used). Token count, token lengths,
 *    whitespace, punctuation, df SHAPE, and near-dup structure are
 *    preserved within a replica (any letter bijection maps shingles 1:1)
 *    while replica vocabularies are pairwise disjoint in distribution;
 *    pairwise permutation distinctness is ASSERTED driver-side, not
 *    assumed;
 *  - `embeddings.embedding` passes through a per-replica SIGNED ROTATION —
 *    rotate element positions by `r mod dim`, then flip the sign of
 *    element i where bit i of `splitmix64(r div dim)` is set (replica 0 is
 *    the identity: rotation 0, sign word 0). A signed permutation matrix
 *    is orthogonal, so cosine structure WITHIN a replica is exactly the
 *    original, while cross-replica transforms are distinct by construction
 *    for any K ≤ dim·2^dim (splitmix64 is a 64-bit bijection; for
 *    dim < 64 the truncated sign words are distinctness-checked
 *    driver-side) — the pre-r12 pure rotation repeated at r ≥ dim and
 *    would have planted exact cosine-1.0 cross-replica twins (ADVICE r11);
 *  - `nation`/`region` copy unscaled (TPC-H dims are constant at every sf).
 *
 * Net: every per-document/per-pair statistic scales ×K linearly and the
 * candidate-pair population scales ×K (disjoint replicas cannot pair), which
 * is exactly the property a scaling-exponent measurement needs.
 *
 * Usage: `sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 localdata/sf1.0 10"`
 *        `sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 localdata/sf10 100"`
 */
object ScaleUp {
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** splitmix64 — the standard 64-bit finalizer/bijection (public domain,
   * Steele et al., JDK SplittableRandom). Deterministic, seed-free. */
  private[tools] def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** translate() target alphabets for replica r: identity at r=0, a keyed
   * Fisher–Yates permutation (splitmix64 stream seeded by r) otherwise. */
  private[tools] def perm(r: Int): (String, String) = {
    if (r == 0) return (Lower, Upper)
    val a = Lower.toCharArray
    var s = splitmix64(r.toLong)
    var i = a.length - 1
    while (i > 0) {
      s = splitmix64(s)
      val j = (((s % (i + 1)) + (i + 1)) % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    val lo = new String(a)
    (lo, lo.toUpperCase)
  }

  /** Per-replica signed rotation of an Array[Float] embedding column:
   * positions rotate by `r mod dim`, element i's sign flips where bit i of
   * `splitmix64(r div dim)` is set (sign word 0 — all +1 — at r div dim = 0,
   * so r=0 is the identity). Orthogonal ⇒ intra-replica cosines exact. */
  private[tools] def signedRotate(emb: Column, r: Int, dim: Int): Column = {
    val rr = r % dim
    val rotated =
      if (rr == 0) emb
      else concat(slice(emb, rr + 1, dim - rr), slice(emb, 1, rr))
    val word = if (r / dim == 0) 0L else splitmix64((r / dim).toLong)
    if (word == 0L) rotated
    else {
      val signs = array((0 until dim).map(i =>
        lit(if (((word >>> (i % 64)) & 1L) == 1L) -1.0f else 1.0f)): _*)
      zip_with(rotated, signs, (x, s) => x * s)
    }
  }

  /** The (rotation, sign-word) pair that identifies replica r's embedding
   * transform — used to ASSERT pairwise distinctness up front. */
  private[tools] def embTransformKey(r: Int, dim: Int): (Int, Long) = {
    val mask = if (dim >= 64) -1L else (1L << dim) - 1L
    val word = if (r / dim == 0) 0L else splitmix64((r / dim).toLong)
    (r % dim, word & mask)
  }

  private def maxKey(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long"))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "localdata/sf1.0"
    val k = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated table subset — a THIRD-decade corpus
    // (k=1000) is only affordable for the tables the candidate-generation
    // family reads (documents, embeddings); replicating 600M lineitem rows
    // nobody queries would spend the disk budget on ballast
    val knownTables = Set("nation", "region", "documents", "embeddings",
      "events", "orders", "lineitem", "customer", "part", "supplier")
    val tables: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else knownTables
    // fail FAST on a typo ('document', 'embedding') — a silently-skipped
    // table yields an incomplete corpus that only errors at query time
    // (ADVICE r13)
    val unknown = tables -- knownTables
    require(unknown.isEmpty,
      s"unknown table(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"known: ${knownTables.toSeq.sorted.mkString(", ")}")
    require(tables.nonEmpty, "table subset must be non-empty")
    require(k >= 1, s"replication factor must be >= 1 (got $k)")
    // A cipher or embedding-transform collision between two replicas would
    // plant exact cross-replica twins — precisely the degenerate duplication
    // this tool exists to avoid — so distinctness is asserted, never assumed.
    require((0 until k).map(perm(_)._1).distinct.size == k,
      s"keyed cipher collision within $k replicas - change the stream seed")

    val spark = graft.Sessions.get("graft-scale-up")
    spark.conf.set("spark.sql.shuffle.partitions", 32L)

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"scaleup: wrote $t x$k")
    }

    // dims copy unscaled
    for (t <- Seq("nation", "region") if tables(t)) write(t, src(t))

    // key strides come from the SOURCE tables, computed once — lazily, so a
    // table-subset run never scans tables it won't write
    lazy val docStride = maxKey(src("documents"), "doc_id")
    lazy val vecStride = maxKey(src("embeddings"), "vec_id")
    lazy val evStride = maxKey(src("events"), "event_id")
    lazy val userStride = maxKey(src("events"), "user_id")
    lazy val ordStride = maxKey(src("orders"), "o_orderkey")
    lazy val custStride = maxKey(src("customer"), "c_custkey")
    lazy val partStride = maxKey(src("part"), "p_partkey")
    lazy val suppStride = maxKey(src("supplier"), "s_suppkey")

    /** K replicas of `table`, each transformed by `f(replica, df)`. */
    def replicate(table: String)(f: (Int, DataFrame) => DataFrame): Unit =
      if (tables(table))
        write(table, (0 until k).map(r => f(r, src(table))).reduce(_ unionByName _))

    replicate("documents") { (r, d) =>
      val (lo, up) = perm(r)
      d.select(
        (col("doc_id") + lit(r * docStride)).as("doc_id"),
        translate(col("text"), Lower + Upper, lo + up).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

    // constant across replicas — computed once, not one scan per replica;
    // embedding-transform distinctness needs the dim, so it is asserted
    // here (the cipher check above runs before the session exists)
    if (tables("embeddings")) {
      val embDim = src("embeddings").select(size(col("embedding"))).head().getInt(0)
      require((0 until k).map(embTransformKey(_, embDim)).distinct.size == k,
        s"signed-rotation collision within $k replicas at dim $embDim (max " +
          s"distinct transforms: $embDim * 2^${math.min(embDim, 63)}) - " +
          "reduce k or widen the embedding")
      replicate("embeddings") { (r, d) =>
        d.select((col("vec_id") + lit(r * vecStride)).as("vec_id"),
          signedRotate(col("embedding"), r, embDim).as("embedding"), col("label"))
      }
    }

    replicate("events") { (r, d) =>
      d.select((col("event_id") + lit(r * evStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(r * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    replicate("orders") { (r, d) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * ordStride))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custStride))
    }

    replicate("lineitem") { (r, d) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordStride))
        .withColumn("l_partkey", col("l_partkey") + lit(r * partStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppStride))
    }

    replicate("customer") { (r, d) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * custStride))
    }

    replicate("part") { (r, d) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * partStride))
    }

    replicate("supplier") { (r, d) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppStride))
    }

    spark.stop()
  }
}
