package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{HofTwins, TextFunctions => T, VectorFunctions => V}
import graft.queries.{PipelineQueries, Tables}

/** Operator-level checks for the training-data pipeline (dedup / similarity /
 * text analysis) on the sf0.001 tables; the value-exact gate is the DuckDB
 * oracle run by the driver (PipelineQueries.oracles). */
class PipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("int8 quantization: zero vectors quantize to zero, others bound the error") {
    import spark.implicits._
    // the q64 expressions, applied to a corner corpus the real table lacks
    val v = V.asDouble(col("embedding"))
    val maxabs = array_max(transform(v, x => abs(x)))
    val scale = maxabs / lit(127.0)
    val qv = transform(v, x =>
      when(scale === 0, lit(0L)).otherwise(floor(x / scale + lit(0.5))))
    val df = Seq(
      (1L, Array(0f, 0f, 0f)),          // all-zero: scale 0, no div-by-zero
      (2L, Array(1f, -1f, 0.5f)),
      (3L, Array(0.001f, -0.002f, 0f))) // tiny magnitudes still span ±127
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), scale.as("scale"), qv.as("q"),
        array_max(zip_with(v, qv, (a, b) => abs(a - b.cast("double") * scale)))
          .as("max_err"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Long](2), r.getDouble(3))).toMap
    assert(df(1L)._1 == 0.0 && df(1L)._2 == Seq(0L, 0L, 0L) && df(1L)._3 == 0.0)
    // extremes land exactly on ±127, every error is within half a step
    assert(df(2L)._2 == Seq(127L, -127L, 64L))
    Seq(2L, 3L).foreach { id =>
      assert(df(id)._2.map(math.abs).max == 127L)
      assert(df(id)._3 <= df(id)._1 / 2 + 1e-12)
    }
  }

  test("shingles: n-grams, distinct, short-doc fallback") {
    import spark.implicits._
    val df = Seq("a b c d", "x").toDF("text")
      .select(T.shingles(col("text"), 3).as("s"))
    val rows = df.collect().map(_.getSeq[String](0).toSet)
    assert(rows(0) == Set("a b c", "b c d"))
    assert(rows(1) == Set("x"))
  }

  test("seededHash matches the DuckDB formula on a known value") {
    import spark.implicits._
    // cast(concat('0x', substr(md5('0:x'),1,15)) as bigint) computed in DuckDB
    val h = Seq("x").toDF("s").select(T.seededHash(0, col("s"))).first().getLong(0)
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("0:x".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(h == java.lang.Long.parseLong(md5hex.take(15), 16))
  }

  test("native minhash_signature expression equals the HOF formulation") {
    assert(spark.catalog.functionExists("minhash_signature"),
      "GraftExtensions should register the native expression")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
    val native = docs.select(col("id"), expr("minhash_signature(shingles, 32)").as("sig"))
    val (b1, b2) = HofTwins.minhashBases(col("shingles"))
    val hof = docs.select(col("id"), b1.as("b1"), b2.as("b2"))
      .select(col("id"), HofTwins.minhashSignatureFromBases(col("b1"), col("b2"), 32).as("sig"))
    val n = native.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val h = hof.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(n.toSeq == h.toSeq)
  }

  test("native cosine_sim expression is bit-identical to the HOF formulation") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))
    val a = e.select(col("id").as("a"), col("vec").as("va"))
    val b = e.select(col("id").as("b"), col("vec").as("vb"))
    val pairs = a.join(b, col("a") < col("b") && col("b") - col("a") < 7)
    val native = pairs.select(V.cosineNative(col("va"), col("vb"))).collect().map(_.getDouble(0))
    val hof = pairs.select(V.cosine(col("va"), col("vb"))).collect().map(_.getDouble(0))
    assert(native.length == hof.length && native.nonEmpty)
    native.zip(hof).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y))
    }
  }

  test("optimizer rule rewrites the HOF cosine pattern to the native kernel") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))
    val a = e.select(col("id").as("a"), col("vec").as("va"))
    val b = e.select(col("id").as("b"), col("vec").as("vb"))
    val pairs = a.join(b, col("a") < col("b") && col("b") - col("a") < 5)
      .select(col("a"), col("b"), V.cosine(col("va"), col("vb")).as("cos"))
    val optimized = pairs.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim"), optimized)
    // and the rewrite preserves values exactly (native == HOF is asserted
    // bitwise in the dedicated test; here: rewritten plan == native plan)
    val rewritten = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val native = a.join(b, col("a") < col("b") && col("b") - col("a") < 5)
      .select(col("a"), col("b"), V.cosineNative(col("va"), col("vb")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rewritten.toSeq == native.toSeq)
  }

  test("exact dedup groups injected duplicates") {
    val out = PipelineQueries.queries("q30_dedup_exact")(spark, sf)
    val groups = out.collect()
    val base = Tables.documents(spark, sf).count()
    assert(groups.length == base) // one kept row per distinct text
    val dupGroups = groups.count(_.getLong(1) == 2L)
    assert(dupGroups == Tables.documents(spark, sf)
      .where(col("doc_id") % 7 === 0).count())
  }

  test("minhash-LSH finds exactly the brute-force near-dup pairs (recall check)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
    val lsh = Dedup.verifyJaccard(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.allPairsJaccard(docs, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus should contain planted near-dup pairs")
    assert(lsh == brute)
  }

  test("simhash: near-dup pairs have small hamming, signatures are 62-bit") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
    val sigs = docs
      .select(col("id"), transform(col("shingles"), s => T.hash60(s)).as("hs"))
      .select(col("id"), call_function("simhash62", col("hs")).as("sig"))
    assert(sigs.where(col("sig") < 0 || col("sig") >= Long.MaxValue).count() == 0)
    val pairs = Dedup.simhashPairs(docs, 12).collect()
    assert(pairs.nonEmpty, "planted near-dups should collide within 12 bits")
    assert(pairs.forall(_.getInt(2) <= 12))
  }

  test("knn brute force: ranks are dense per query and cosine is decreasing") {
    val out = PipelineQueries.queries("q35_knn_cosine")(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rows) =>
      val ranks = rows.map(_.getInt(1)).toSeq
      assert(ranks.sorted == (1 to rows.length).toSeq)
      val coss = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (x, y) => x >= y })
    }
  }

  test("truncationRecall: lost top-1 is NULL-ranked, demoted top-1 keeps its rank") {
    import spark.implicits._
    // q10=(1,0,10,0): X's similarity lives in dims 3-4 (full cos .990), Y's
    // in the prefix (full cos .0995) — truncation to dim 2 INVERTS the order
    // Z's first-2 prefix is all-zero (truncated cosine 0/0) and W is a
    // failed-embed all-zero row (FULL cosine 0/0 too). The operator's
    // contract scores both -1 in the affected pass (loses to every real
    // neighbor); an unguarded NaN would rank FIRST in the heap's
    // descending Double order and corrupt every assertion below by
    // displacing the real top-k in either representation.
    val corpus = Seq(
      (1L, Seq(0.0, 1.0, 10.0, 0.0)),  // X
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),   // Y
      (3L, Seq(0.0, 0.0, -1.0, 0.0)),  // Z — zero-norm prefix
      (4L, Seq(0.0, 0.0, 0.0, 0.0))    // W — zero-norm everywhere
    ).toDF("id", "vec")
    val queries = Seq(
      (10L, Seq(1.0, 0.0, 10.0, 0.0)),
      (11L, Seq(1.0, 0.0, 0.0, 0.0))
    ).toDF("id", "vec")
    // k=1: q10's true top-1 X vanishes from the truncated top-1 (rank NULL,
    // overlap 0); q11's top-1 Y survives at rank 1
    val k1 = Similarity.truncationRecall(corpus, queries, dim = 2, k = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.getAs[Any]("trunc_rank")), r.getLong(3)))).toMap
    assert(k1(10L) == ((1L, None, 0L)), s"got ${k1(10L)}")
    assert(k1(11L) == ((2L, Some(1), 1L)), s"got ${k1(11L)}")
    // k=2: both top-2 sets are {X, Y} (Z's -1 keeps it out; on the full
    // side X beats Z on the id tie-break at cos 0 for q11) and X is merely
    // DEMOTED to truncated rank 2, not lost
    val k2 = Similarity.truncationRecall(corpus, queries, dim = 2, k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.getAs[Any]("trunc_rank")), r.getLong(3)))).toMap
    assert(k2(10L) == ((1L, Some(2), 2L)), s"got ${k2(10L)}")
    assert(k2(11L) == ((2L, Some(1), 2L)), s"got ${k2(11L)}")
  }

  test("ann-lsh results are correct-cosine rows and hit the exact top-1 mostly") {
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), V.asDouble(col("embedding")).as("vec"))
    val queries = corpus.where(col("id") % 100 === 0)
    val ann = Similarity.annLsh(corpus, queries, dim = 64, nBits = 8, k = 5).collect()
    val exact = Similarity.knnBruteForce(corpus, queries, 5).collect()
    // every ANN row's cosine must equal the exact cosine for that pair
    val exactCos = exact.map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      exactCos.get(key).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
    // candidates are a subset of the corpus; each query returns <= k rows
    assert(ann.groupBy(_.getLong(0)).forall(_._2.length <= 5))
  }

  test("fingerprint is stable: identical texts share fp, distinct texts differ") {
    import spark.implicits._
    val df = Seq(
      ("a", "alpha beta gamma delta epsilon"),
      ("b", "alpha beta gamma delta epsilon"),
      ("c", "one two three four five six")).toDF("id", "text")
      .select(col("id"), call_function("min_hash60", T.shingles(col("text"), 3)).as("fp"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("b"))
    assert(m("a") != m("c"))
  }

  test("split assignment is leakage-safe: byte-identical texts always co-locate") {
    import spark.implicits._
    // the q101 split key hashes the CONTENT digest — planted exact
    // duplicates (different doc ids, same bytes) must land in one split,
    // and the bucket ratios must track the 90/5/5 design
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dupes = base.limit(40).select(col("doc_id") + 100000, col("text"))
    val split = when(
      T.hash60(concat(lit("split:"), md5(col("text")))) % 100 < 90, "train")
      .when(T.hash60(concat(lit("split:"), md5(col("text")))) % 100 < 95, "val")
      .otherwise("test")
    val perDigest = base.union(dupes)
      .select(md5(col("text")).as("digest"), split.as("split"))
      .groupBy(col("digest"))
      .agg(countDistinct(col("split")).as("n_splits"), count(lit(1)).as("n"))
      .collect()
    assert(perDigest.exists(_.getLong(2) > 1), "planted duplicates must exist")
    assert(perDigest.forall(_.getLong(1) == 1L),
      "a content digest must map to exactly one split — anything else leaks")
    val frac = base.select(split.as("s")).groupBy(col("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = frac.values.sum.toDouble
    assert(frac("train") / n > 0.8, s"train fraction ${frac("train") / n}")
    assert(frac.getOrElse("val", 0L) + frac.getOrElse("test", 0L) > 0)
  }

  test("DSIR ranks a target-saturated document above the raw pool") {
    // semantics the hash gate can't express: plant a raw doc composed
    // ENTIRELY of bigrams frequent in the target slice and one of bigrams
    // absent from it — the target clone must outscore the anti-doc
    import spark.implicits._
    val target = (1 to 40).map(i => (i.toLong, "en", "alpha beta gamma delta " * 5))
    val clone = Seq((100L, "de", "alpha beta gamma delta " * 5))
    val anti = Seq((101L, "de", "zulu yankee xray whiskey " * 5))
    val noise = (200 to 239).map(i => (i.toLong, "de", s"w${i}a w${i}b w${i}c w${i}d " * 5))
    val docs = (target ++ clone ++ anti ++ noise).toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"), rtrim(col("text")).as("text"))
    // the q105 shape over the planted corpus
    val fb = docs.select(col("doc_id"), col("lang"),
      explode(expr("transform(sequence(0, size(split(text, ' ')) - 2), " +
        "i -> concat(element_at(split(text, ' '), i + 1), ' ', " +
        "element_at(split(text, ' '), i + 2)))")).as("g"))
      .select(col("doc_id"), col("lang"),
        (T.hash60(concat(lit("dsir:"), col("g"))) % 4096).as("b"))
    val ratios = fb.groupBy(col("b"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("c_raw"))
      .where(col("c_raw") > 0)
      .selectExpr("b", "(1000000 * (c_tgt + 1)) div (c_raw + 1) as r_fp")
    val w = fb.where(col("lang") =!= "en")
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(ratios), "b")
      .groupBy(col("doc_id")).agg(sum(col("c") * col("r_fp")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(100L) > w(101L), s"target clone ${w(100L)} must beat anti-doc ${w(101L)}")
    assert(w.filter(_._1 != 100L).values.forall(_ < w(100L)),
      "the target clone must rank first in the whole raw pool")
  }

  test("hard negatives never return the query's own label and ranks are dense") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id").as("id"),
      V.asDouble(col("embedding")).as("vec"), col("label"))
    val labels = e.select(col("id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.hardNegatives(e, e.where(col("id") % 50 === 0), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (q, _, n) =>
      assert(labels(q) != labels(n), s"negative $n shares label with query $q")
    }
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.size).toSeq,
        s"ranks for query $q must be dense from 1")
    }
  }

  test("Lloyd iterations never increase the fixed-point within-cluster SSE") {
    // the defining property of Lloyd's algorithm: each assignment+update
    // round is a coordinate descent on SSE, so the objective is monotone
    // non-increasing — replayed on the real embeddings with the q107
    // arithmetic (floor(x·1e6) fixed point, div means)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) " +
          "* 1000000.0d) as bigint))").as("vfp"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    var cents: Seq[Array[Long]] = vecs.filter(_._1 < 8).sortBy(_._1).map(_._2).toSeq
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(j => BigInt(a(j) - b(j)) * BigInt(a(j) - b(j))).sum
    def sse(cs: Seq[Array[Long]]): BigInt =
      vecs.map { case (_, v) => cs.map(c => d2(v, c)).min }.sum
    val objectives = Seq.newBuilder[BigInt]
    objectives += sse(cents)
    for (_ <- 1 to 3) {
      val assigned = vecs.map { case (_, v) =>
        (cents.indices.minBy(i => (d2(v, cents(i)), i)), v)
      }
      cents = assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
        val n = rows.size
        Array.tabulate(rows.head._2.length)(j => rows.map(_._2(j)).sum / n)
      }
      objectives += sse(cents)
    }
    val obj = objectives.result()
    obj.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"SSE increased across a Lloyd round: $obj")
    }
    assert(obj.last < obj.head, "three rounds must strictly improve on the seed centroids")
  }

  test("jlProject matches the driver-side dot product exactly and preserves norms on average") {
    import spark.implicits._
    val dim = 64
    val signs = V.jlSigns(dim, 16)
    assert(signs.size == 16 && signs.forall(_.size == dim))
    assert(signs.flatten.forall(w => w == 1.0 || w == -1.0))
    // deterministic test vectors (no RNG): v(i) = sin(id + i)
    val vecs = (0 until 20).map(id =>
      (id.toLong, Array.tabulate(dim)(i => math.sin(id + i))))
    val out = vecs.toDF("id", "vec")
      .select(col("id"), V.jlProject(col("vec"), signs).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // exact equality: the Spark fold is the same left-to-right double sum
    vecs.foreach { case (id, v) =>
      val expected = signs.map(row =>
        v.indices.foldLeft(0.0)((acc, i) => acc + v(i) * row(i)))
      assert(out(id) == expected, s"projection mismatch for vec $id")
    }
    // JL sanity: mean norm ratio ||p||^2/(16*||x||^2) near 1 over the set
    val ratios = vecs.map { case (id, v) =>
      val np2 = out(id).map(x => x * x).sum
      val nx2 = v.map(x => x * x).sum
      np2 / (16.0 * nx2)
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL mean distortion off: $mean")
  }

  test("tfidfCosinePairs equals the brute-force integer formula with df-pruning") {
    import spark.implicits._
    val docs = Seq(
      1L -> Seq("x", "x", "y", "z"),
      2L -> Seq("x", "y", "y", "w"),
      3L -> Seq("z", "z", "q", "w"),
      4L -> Seq("q", "w", "w", "x", "v"))
    val toks = docs.flatMap { case (id, ts) => ts.map(t => (id, t)) }
      .toDF("id", "term")
    val got = Similarity.tfidfCosinePairs(toks, maxDfDenom = 2, minCosPpm = 0L)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // brute force, replicating the operator contract exactly
    val n = docs.size
    val tf = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, o) => ((id, t), o.size.toLong) } }.toMap
    val df = tf.keys.groupBy(_._2).map { case (t, ks) => t -> ks.size.toLong }
    val kept = df.filter { case (_, d) => d * 2 <= n }.keySet
    val wt = tf.collect { case ((id, t), f) if kept(t) && 1000 * f / df(t) > 0 =>
      (id, t) -> 1000 * f / df(t) }
    val norms = wt.groupBy(_._1._1).map { case (id, m) =>
      id -> math.sqrt(m.values.map(w => w * w).sum.toDouble).toLong }
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      shared = kept.filter(t => wt.contains((a, t)) && wt.contains((b, t)))
      if shared.nonEmpty
    } yield {
      val dot = shared.toSeq.map(t => wt((a, t)) * wt((b, t))).sum
      ((a, b), (shared.size.toLong, 1000000L * dot / (norms(a) * norms(b))))
    }).toMap
    assert(got == expected, s"got $got\nexpected $expected")
    // anti-vacuousness: the prune must actually drop at least one hot term
    assert(kept != df.keySet, "test corpus must exercise the df prune")
    assert(expected.nonEmpty)
  }

  test("knnClassify takes the majority label and breaks vote ties to the smallest label") {
    import spark.implicits._
    // 2-D geometry (padded): cluster A around (1,0) labeled 0, cluster B
    // around (0,1) labeled 1; a query near A must classify 0
    def v(x: Double, y: Double) = Array(x, y)
    val corpus = Seq(
      (1L, v(1.0, 0.0), 0), (2L, v(0.9, 0.1), 0), (3L, v(1.0, 0.1), 0),
      (4L, v(0.0, 1.0), 1), (5L, v(0.1, 0.9), 1), (6L, v(0.1, 1.0), 1))
      .toDF("id", "vec", "label")
    val queries = Seq((100L, v(0.95, 0.05))).toDF("id", "vec")
    val got = Similarity.knnClassify(corpus, queries, k = 5).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 100L && r.getInt(1) == 0)
    assert(r.getLong(2) == 3L && r.getLong(3) == 5L) // 3 of 5 votes for label 0
    // tie-break: k=2 nearest are one of each label -> smaller label wins.
    // query sits exactly on the bisector of (1,0) and (0,1); ranks 1-2 are
    // the two unit-axis members by (cos, id) order
    val tie = Similarity.knnClassify(
      Seq((1L, v(1.0, 0.0), 7), (2L, v(0.0, 1.0), 3)).toDF("id", "vec", "label"),
      Seq((100L, v(1.0, 1.0))).toDF("id", "vec"), k = 2).collect().head
    assert(tie.getInt(1) == 3 && tie.getLong(2) == 1L && tie.getLong(3) == 2L)
  }

  test("semanticContamination flags the max-cos eval match, ties to the smallest eval id") {
    import spark.implicits._
    def v(x: Double, y: Double) = Array(x, y)
    val corpus = Seq(
      (10L, v(1.0, 0.0)),  // cos 1.0 to evals 1 AND 2 (identical) → tie → eval 1
      (11L, v(0.0, 1.0)),  // cos 1.0 to eval 3 only
      (12L, v(-1.0, 0.0))) // negative cos to every eval → NOT flagged
      .toDF("id", "vec")
    val evals = Seq((1L, v(1.0, 0.0)), (2L, v(1.0, 0.0)), (3L, v(0.0, 1.0)))
      .toDF("id", "vec")
    val got = Similarity.semanticContamination(corpus, evals, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    // n_matches counts every eval at/above the threshold, not just the best
    assert(got == Map(
      10L -> ((1L, 1.0, 2L)),
      11L -> ((3L, 1.0, 1L))), s"got $got")
  }

  test("mmrDiversify equals an independent greedy reference and penalizes near-dups") {
    import spark.implicits._
    // fixed 3-D pool with an exact duplicate pair (ids 1, 2) — MMR must not
    // pick both early even though they share the top relevance
    val query = Array(1.0, 0.2, 0.0)
    val pool = Seq(
      1L -> Array(0.9, 0.1, 0.0), 2L -> Array(0.9, 0.1, 0.0),
      3L -> Array(0.5, 0.5, 0.1), 4L -> Array(0.0, 0.9, 0.3),
      5L -> Array(0.3, 0.0, 0.9), 6L -> Array(0.7, 0.3, 0.2))
    val got = Similarity.mmrDiversify(pool.toDF("id", "vec"), query, k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // independent reference implementation (fresh code, same IEEE folds)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
      dot / (math.sqrt(a.map(x => x * x).foldLeft(0.0)(_ + _)) *
        math.sqrt(b.map(x => x * x).foldLeft(0.0)(_ + _)))
    }
    val rel = pool.map { case (id, v) => id -> cos(query.toSeq, v.toSeq) }.toMap
    var sel = Vector.empty[(Int, Long, Double, Double)]
    var rem = pool.map(_._1)
    for (rank <- 1 to 4) {
      val scored = rem.map { c =>
        val red = if (sel.isEmpty) 0.0
          else sel.map { case (_, s, _, _) =>
            cos(pool.toMap.apply(c).toSeq, pool.toMap.apply(s).toSeq) }.max
        c -> (0.5 * rel(c) - 0.5 * red)
      }
      val (cid, sc) = scored.minBy { case (c, v) => (-v, c) }
      sel :+= ((rank, cid, rel(cid), sc))
      rem = rem.filterNot(_ == cid)
    }
    def r4(x: Double): Double = // Spark round() semantics: HALF_UP
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = sel.map { case (rk, id, r, m) => (rk, id, r4(r), r4(m)) }
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexpected $expected")
    // the duplicate of rank-1's pick must not appear at rank 2: its
    // redundancy is exactly 1.0, the maximal penalty
    val first = got(0)._2
    val dupOf = Map(1L -> 2L, 2L -> 1L)
    assert(got(1)._2 != dupOf.getOrElse(first, -1L),
      "rank 2 picked the exact duplicate of rank 1")
  }
}
