package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{HofTwins, TextFunctions => T}
import graft.queries.Tables

/** Corpus-prep operators: quota exactness, shuffle determinism/permutation,
 * decontamination correctness on a controlled corpus, packing invariants. */
class CorpusOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stratified sample draws the exact quota per stratum, deterministically") {
    val docs = Tables.documents(spark, sf)
    val sample = CorpusOps.sampleStratified(docs, col("doc_id"), col("source"),
      quota = 10, salt = "spec")
    val perStratum = sample.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val strataSizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strataSizes.foreach { case (src, n) =>
      assert(perStratum(src) == math.min(10L, n), s"stratum $src")
    }
    // same salt → identical draw; different salt → (overwhelmingly) different
    val again = CorpusOps.sampleStratified(docs, col("doc_id"), col("source"),
      quota = 10, salt = "spec").select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val other = CorpusOps.sampleStratified(docs, col("doc_id"), col("source"),
      quota = 10, salt = "other").select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(again == sample.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
    assert(again != other)
  }

  test("bounded-heap sampler equals the window formulation (map-side truncation)") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaHeap = CorpusOps.sampleStratifiedBounded(docs,
      col("doc_id"), col("source"), quota = 7, salt = "sx")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // the window twin over the same exact hash60 draw key
    val key = T.hash60(concat(lit("sx:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(key, col("doc_id"))
    val viaWindow = docs
      .withColumn("sample_rank", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("sample_rank") <= 7)
      .select(col("source"), col("sample_rank"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaHeap == viaWindow)
    assert(viaHeap.groupBy(_._1).forall(_._2.size == 7), "exact quota per stratum")
  }

  test("deterministic shuffle is a stable permutation, different per salt") {
    val docs = Tables.documents(spark, sf)
    val e0 = CorpusOps.deterministicShuffle(docs, col("doc_id"), "epoch-0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val e0again = CorpusOps.deterministicShuffle(docs, col("doc_id"), "epoch-0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val e1 = CorpusOps.deterministicShuffle(docs, col("doc_id"), "epoch-1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(e0 == e0again, "same salt must give the identical order")
    assert(e0.sorted == e1.sorted, "a permutation of the same corpus")
    assert(e0 != e1, "different salts must permute differently")
    assert(e0 != e0.sorted, "shuffled order must not be id order")
  }

  test("decontamination drops exactly the n-gram-colliding and benchmark docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // benchmark
      (2L, "a totally unrelated document about spark plans"),
      (3L, "we saw the quick brown fox jumps over a fence"), // shares 5-gram with 1
      (4L, "another clean document with no overlap at all"))
      .toDF("id", "text")
      .select(col("id"), T.shingles(col("text"), 5).as("shingles"))
    val clean = CorpusOps.decontaminate(docs, docs.where(col("id") === 1))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 4L))
  }

  test("contaminated spans merge overlaps, keep gaps apart, and clamp at edges") {
    import spark.implicits._
    // doc 10: tokens 0..19; bench grams hit at i=0 and i=4 (overlapping after
    // ±1 widening -> ONE span clamped at 0), and at i=15 (tail-clamped span,
    // separated by a clean gap -> its own island)
    def words(r: Range) = r.map(j => s"t$j")
    val benchDoc = (words(0 to 8) ++ words(40 to 44) ++ words(15 to 19)).mkString(" ")
    val corpusDoc = (words(0 to 19)).mkString(" ")
    val cleanDoc = words(100 to 130).mkString(" ")
    val toks = Seq((0L, benchDoc), (10L, corpusDoc), (11L, cleanDoc))
      .toDF("id", "text")
      .select(col("id"), T.tokens(col("text")).as("w"))
    val bgrams = toks.where(col("id") === 0L)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 5), " +
          "i -> array_join(slice(w, i + 1, 5), ' '))")).as("gram"))
    val spans = CorpusOps.contaminatedSpans(
        toks.where(col("id") > 0L), bgrams, n = 5, margin = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(s => (s._1, s._2))
    // doc 10 corpus grams matching bench: starts 0..4 (from bench t0..t8) and
    // 15 (t15..t19). Widened ±1: [0,10) (clamped left) and [14,20) (no right
    // clamp needed at len 20); the 0..4 hits coalesce into one island.
    assert(spans.toSeq == Seq((10L, 0, 10, 10), (10L, 14, 20, 6)))
  }

  test("duplicate spans recover exactly the shared and self-repeated regions") {
    import spark.implicits._
    // docs A and B share a 12-token run at different offsets; doc C is clean;
    // doc D repeats its own first 10 tokens after a separator. n=10 windows:
    // the shared run is covered by three overlapping windows that must
    // coalesce to ONE maximal span per doc; D's two copies are disjoint
    // islands; no 9-token-or-shorter overlap may surface anything.
    val common = (0 until 12).map(j => s"c$j")
    val docA = ((0 until 5).map(j => s"a$j") ++ common ++ (5 until 10).map(j => s"a$j")).mkString(" ")
    val docB = ((0 until 3).map(j => s"b$j") ++ common ++ (3 until 10).map(j => s"b$j")).mkString(" ")
    val docC = (0 until 25).map(j => s"z$j").mkString(" ")
    val docD = ((0 until 10).map(j => s"r$j") ++ Seq("xsep") ++ (0 until 10).map(j => s"r$j")).mkString(" ")
    val toks = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD))
      .toDF("id", "text")
      .select(col("id"), T.tokens(col("text")).as("w"))
    val spans = Dedup.duplicateSpans(toks, n = 10, minOcc = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(s => (s._1, s._2)).toSeq
    assert(spans == Seq(
      (1L, 5, 17, 12), // A: the shared run at its offset, one maximal span
      (2L, 3, 15, 12), // B: same region at a different offset
      (4L, 0, 10, 10), (4L, 11, 21, 10))) // D: self-repeat, two islands
  }

  test("shard packing respects the token budget and covers every doc once") {
    val docs = Tables.documents(spark, sf)
    val packed = CorpusOps.packShards(docs, col("doc_id"),
      size(T.tokens(col("text"))).cast("long"), tokensPerShard = 512, nWorkers = 8)
      .select(col("doc_id"), col("worker"), col("shard"), col("n_tokens"),
        col("tokens_before"))
      .collect()
    assert(packed.length == 500)
    assert(packed.map(_.getLong(0)).distinct.length == 500)
    packed.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) % 8)
      // the shard a doc STARTS in is its running count div budget
      assert(r.getLong(2) == r.getLong(4) / 512)
    }
    // within a worker, shard ids are non-decreasing in id order and dense
    packed.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val shards = rows.sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
      assert(shards == shards.sorted)
      assert(shards.distinct == (0L to shards.max))
    }
  }

  test("leakage-safe split: near-dup pairs never straddle the split") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
    val pairs = Dedup.verifyJaccard(Dedup.minhashCandidates(docs, 36, 12), docs, 0.8)
    val split = CorpusOps.leakageSafeSplit(Tables.documents(spark, sf),
      col("doc_id"), pairs, "spec", trainPct = 80, valPct = 10)
    val rows = split.collect()
    // total function: every doc assigned exactly once, all three sides drawn
    assert(rows.length == 500 && rows.map(_.getLong(0)).distinct.length == 500)
    assert(rows.map(_.getString(2)).distinct.toSet == Set("train", "val", "test"))
    // THE invariant: both endpoints of every verified near-dup pair (and by
    // induction every member of a connected component) get the same side
    val side = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    val edges = pairs.select(col("a"), col("b")).collect()
    assert(edges.nonEmpty, "corpus should contain near-dup pairs")
    edges.foreach { e =>
      assert(side(e.getLong(0)) == side(e.getLong(1)),
        s"pair (${e.getLong(0)}, ${e.getLong(1)}) straddles the split")
    }
    // determinism: same salt → identical assignment
    val again = CorpusOps.leakageSafeSplit(Tables.documents(spark, sf),
      col("doc_id"), pairs, "spec", trainPct = 80, valPct = 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == side)
  }

  test("kAnonymityAudit flags exactly the classes failing k or l, with correct counts") {
    import spark.implicits._
    // (qi, sensitive): class "a" has 5 members / 3 users (passes both),
    // "b" has 2 members (fails k), "c" has 6 members but 1 user (fails l),
    // "d" has 1 member (fails both)
    val rows = Seq.tabulate(5)(i => ("a", (i % 3).toLong)) ++
      Seq(("b", 1L), ("b", 2L)) ++
      Seq.fill(6)(("c", 9L)) ++
      Seq(("d", 4L))
    val got = CorpusOps.kAnonymityAudit(rows.toDF("qi", "user"),
        Seq(col("qi")), col("user"), k = 5, l = 3)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toMap
    assert(got == Map(
      "b" -> ((2L, 2L, true, true)),
      "c" -> ((6L, 1L, false, true)),
      "d" -> ((1L, 1L, true, true))), s"got $got")
    // the passing class must NOT appear
    assert(!got.contains("a"))
  }

  test("kAnonymitySuppress suppresses NULL-keyed failing classes (null-safe join)") {
    import spark.implicits._
    // class "a": 5 members / 3 users — passes k=5, l=3 and must release;
    // class NULL: 2 members / 1 user — fails BOTH and must be suppressed
    // (groupBy keys NULL as its own class; a plain-equality anti-join would
    // leak every one of its rows)
    val rows: Seq[(Option[String], Long)] =
      Seq.tabulate(5)(i => (Some("a"), (i % 3).toLong)) ++
        Seq((None, 7L), (None, 7L))
    val df = rows.toDF("qi", "user")
    val released = CorpusOps.kAnonymitySuppress(df, Seq("qi"), col("user"),
        k = 5, l = 3)
      .collect().map(r => Option(r.getString(0)))
    assert(released.length == 5 && released.forall(_.contains("a")),
      s"NULL-keyed failing class leaked: ${released.mkString(",")}")
    // and a PASSING NULL class releases (the null-safe match is symmetric)
    val rows2: Seq[(Option[String], Long)] =
      Seq.tabulate(5)(i => (None, (i % 3).toLong)) ++ Seq((Some("b"), 1L))
    val released2 = CorpusOps.kAnonymitySuppress(rows2.toDF("qi", "user"),
        Seq("qi"), col("user"), k = 5, l = 3)
      .collect().map(r => Option(r.getString(0)))
    assert(released2.length == 5 && released2.forall(_.isEmpty),
      s"passing NULL class must release: ${released2.mkString(",")}")
  }

  test("loudSampled rides the sample rate as an observed metric on the query") {
    import spark.implicits._
    @volatile var seen: Option[(Long, Long)] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.corpus.sample"))
            seen = Some((row.getLong(0), row.getLong(1)))
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sampled = CorpusOps.loudSampled(
        (0L until 30L).toDF("id").where(col("id") % 3 === 0), denom = 3)
      assert(sampled.count() == 10) // values unchanged — audit only
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.contains((10L, 3L)),
        s"sample audit metric must fire with (kept=10, denom=3), got $seen")
    } finally spark.listenerManager.unregister(listener)
  }

  test("vocabCoverage: ranked cumulative mass, deterministic ties, k beyond vocab") {
    import spark.implicits._
    // counts: a=4, b=3, c=3 (tie breaks b before c), d=1, e=1 — total 12
    val toks = (Seq.fill(4)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq("d", "e")).toDF("term")
    val got = CorpusOps.vocabCoverage(toks, Seq(1, 3, 5, 10))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == Map(
      1 -> ((4L, 12L, 333333L, 5L)),   // a
      3 -> ((10L, 12L, 833333L, 5L)),  // a+b+c
      5 -> ((12L, 12L, 1000000L, 5L))), s"got $got")
    // k = 10 exceeds the 5-term vocabulary: no row, never a partial one
    assert(!got.contains(10))
  }

  test("charDiversity: exact fixed-point char stats, runs, empty/NULL text") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("aaab")),  // cnt a=3,b=1: s2=10; run aaa=3
      (2L, Some("ab ab")), // cnt a=2,b=2,' '=1: s2=9; 1 space
      (3L, Some("zzzz")),  // single-char doc: collision = 1.0 exactly
      (4L, Some("")),      // empty: len 0, ratio fields NULL (div 0)
      (5L, None)           // NULL text ≡ empty
    ).toDF("doc_id", "text")
    val got = CorpusOps.charDiversity(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("id") -> ((
        r.getAs[Long]("n_chars"), r.getAs[Int]("n_distinct_chars"),
        Option(r.getAs[Any]("collision_ppm")),
        Option(r.getAs[Any]("eff_alpha_fp")),
        r.getAs[Long]("max_run"),
        Option(r.getAs[Any]("ws_ppm"))))).toMap
    assert(got(1L) == ((4L, 2, Some(625000L), Some(1600L), 3L, Some(0L))), s"got ${got(1L)}")
    assert(got(2L) == ((5L, 3, Some(360000L), Some(2777L), 1L, Some(200000L))), s"got ${got(2L)}")
    // maximal concentration: collision exactly 1e6 ppm, effective alphabet 1.000
    assert(got(3L) == ((4L, 1, Some(1000000L), Some(1000L), 4L, Some(0L))), s"got ${got(3L)}")
    assert(got(4L) == ((0L, 0, None, None, 0L, None)), s"got ${got(4L)}")
    assert(got(5L) == got(4L), "NULL text must behave as empty")
  }

  test("charDiversity: native char_stats kernel ≡ HOF twin, incl. non-ASCII") {
    import spark.implicits._
    assert(spark.catalog.functionExists("char_stats"),
      "test session must register GraftExtensions")
    // edge corpus: ASCII, runs, unicode beyond the 128-slot fast path,
    // a supplementary-plane code point (𝄞 — counted ONCE, not as UTF-16
    // halves), empty, and the real sf0.001 documents
    val edge = Seq(
      (1L, "aaab"), (2L, "ab ab"), (3L, ""),
      (4L, "héllo wörld héé"), (5L, "𝄞𝄞a𝄞"), (6L, "  --  --  ")
    ).toDF("id", "t")
    val real = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id").as("id"), col("text").as("t"))
    for (base <- Seq(edge, real)) {
      val n = CorpusOps.nativeCharStats(base)
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      val h = HofTwins.charStats(base)
        .select("id", "len", "nd", "s2", "max_run", "nsp")
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      assert(n == h, s"native vs HOF diverged:\n${n.zip(h).filter(p => p._1 != p._2)}")
    }
    // the supplementary-plane row, hand-checked: 4 code points, 2 distinct,
    // counts {𝄞:3, a:1} → s2 = 10, max run 2 (a splits the 𝄞s)
    val g = CorpusOps.nativeCharStats(edge.where(col("id") === 5)).collect()(0)
    assert((g.getLong(1), g.getInt(2), g.getLong(3), g.getLong(4), g.getLong(5)) ==
      ((4L, 2, 10L, 2L, 0L)), s"got $g")
  }

  test("charDiversity fuzz: both paths match an independent brute force on random strings") {
    import spark.implicits._
    // seeded corpus biased toward the failure modes: long runs, spaces,
    // non-ASCII beyond the kernel's 128-slot fast path, supplementary-plane
    // pairs, and empty strings
    val rnd = new scala.util.Random(1147)
    val alphabet: Array[String] =
      Array("a", "b", "z", " ", " ", "\t", "\n", "-", "é", "ß", "世", "𝄞")
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(120)
      val sb = new StringBuilder
      var k = 0
      while (k < n) {
        val ch = alphabet(rnd.nextInt(alphabet.length))
        val rep = if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(9) else 1
        (0 until rep).foreach(_ => sb.append(ch)); k += rep
      }
      (i.toLong, sb.toString)
    }
    // brute force over code points, structured nothing like either pipeline
    def brute(s: String): (Long, Int, Long, Long, Long) = {
      val cps = s.codePoints().toArray
      val counts = cps.groupBy(identity).map { case (_, v) => v.length.toLong }
      var maxRun = 0L; var cur = 0L; var prev = Int.MinValue
      cps.foreach { cp =>
        cur = if (cp == prev) cur + 1 else 1L
        if (cur > maxRun) maxRun = cur
        prev = cp
      }
      (cps.length.toLong, counts.size, counts.map(c => c * c).sum, maxRun,
        cps.count(c => c == ' ' || c == '\t' || c == '\n' || c == '\r').toLong)
    }
    val expect = docs.map { case (id, t) => id -> brute(t) }.toMap
    val base = docs.toDF("id", "t")
    for (path <- Seq(CorpusOps.nativeCharStats(base),
      HofTwins.charStats(base).select("id", "len", "nd", "s2", "max_run", "nsp"))) {
      val got = path.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      docs.foreach { case (id, t) =>
        assert(got(id) == expect(id),
          s"id=$id text=${t.take(40)}… got ${got(id)} expected ${expect(id)}")
      }
    }
  }

  test("quantileNormalize: within-group CDF ppm with ties sharing one percentile") {
    import spark.implicits._
    // group g1: values 10, 20, 20, 40 → cdf(10)=25%, cdf(20)=75%, cdf(40)=100%
    // group g2: single row → cdf = 100%; groups never mix
    val df = Seq(("g1", 10L, 1L), ("g1", 20L, 2L), ("g1", 20L, 3L),
      ("g1", 40L, 4L), ("g2", 99L, 5L)).toDF("src", "score", "id")
    val got = CorpusOps.quantileNormalize(df, "src", "score")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cdf_ppm")).toMap
    assert(got == Map(1L -> 250000L, 2L -> 750000L, 3L -> 750000L,
      4L -> 1000000L, 5L -> 1000000L), s"got $got")
    // NULL contract: null-valued rows are excluded from output AND from
    // every denominator/cumulative count (engines disagree on null window
    // order, so they must never reach the census)
    val withNulls = Seq(("g1", Some(10L), 1L), ("g1", None, 2L),
      ("g1", Some(20L), 3L)).toDF("src", "score", "id")
    val gotN = CorpusOps.quantileNormalize(withNulls, "src", "score")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cdf_ppm")).toMap
    assert(gotN == Map(1L -> 500000L, 3L -> 1000000L), s"got $gotN")
  }

  test("winsorize: exact rank cutoffs, degenerate groups, and untouched interiors") {
    import spark.implicits._
    // group g: values 1..100 once each — p05 is the smallest value with
    // cum >= ceil(5·100/100)=5 → 5; p95 → 95. Exactly 4 low + 5 high clip.
    val g = (1L to 100L).map(v => ("g", v, v)).toDF("src", "vfp", "id")
    val got = CorpusOps.winsorize(g, "src", "vfp")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("clipped_fp"),
        r.getAs[Boolean]("was_clipped")))
    assert(got.length == 100)
    assert(got.count(_._3) == 9, "values 1-4 and 96-100 clip")
    assert(got.filter(_._1 <= 4).forall(_._2 == 5L))
    assert(got.filter(_._1 >= 96).forall(_._2 == 95L))
    assert(got.filter(r => r._1 >= 5 && r._1 <= 95)
      .forall(r => r._2 == r._1 && !r._3), "the interior must pass untouched")
    // single-row group: both cutoffs equal the value — nothing clips
    val one = Seq(("s", 42L)).toDF("src", "vfp")
    val gotOne = CorpusOps.winsorize(one, "src", "vfp").collect()
    assert(gotOne.length == 1 && gotOne.head.getAs[Long]("clipped_fp") == 42L
      && !gotOne.head.getAs[Boolean]("was_clipped"))
    // all-identical group: degenerate CDF, zero clips
    val same = (1 to 10).map(_ => ("t", 7L)).toDF("src", "vfp")
    assert(CorpusOps.winsorize(same, "src", "vfp")
      .where(col("was_clipped")).isEmpty)
    // invalid bounds fail loudly
    intercept[IllegalArgumentException] {
      CorpusOps.winsorize(one, "src", "vfp", loPct = 60, hiPct = 40)
    }
  }
}
