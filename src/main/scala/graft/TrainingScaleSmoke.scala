package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Bpe, CorpusOps, Dedup, Ivf, Similarity}

/**
 * Scale smoke for the training-data operators added in round 4: BPE merge
 * learning, corpus-wide tokenizer application, next-fit sequence packing,
 * and incremental (new-vs-corpus) near-dup detection. Synthesizes an
 * N-document corpus of 3-letter dictionary words (deterministic md5-derived
 * indices into a 500-word vocabulary; ~1% planted near-duplicate pairs whose
 * NEW member lands in the daily-crawl slice), then reports wall time per
 * stage and docs/sec. The claims under test:
 *  - BPE learning cost is bounded by ONE word-count aggregation — the
 *    corpus collapses to a ≤1000-row vocabulary before any iteration;
 *  - tokenizer application is a narrow zero-shuffle scalar chain, so it
 *    scales with scan speed;
 *  - packing is one hash shuffle + a per-partition streaming fold;
 *  - incremental LSH candidates track the new slice's similarity mass
 *    (new×corpus bands only — corpus×corpus pairs never materialize).
 *
 * Usage: `runMain graft.TrainingScaleSmoke [nDocs]` (default 100000).
 */
object TrainingScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toInt).getOrElse(100000)
    val cpus = Sessions.cpus()
    val spark = Sessions.get("graft-training-scale-smoke", cpus)
    // spill-aware partitioning: at 1M docs the wide aggregates carry ~50M
    // feature rows — with only `cpus` partitions that is ~1.5M-row hash
    // states on 32 CONCURRENT tasks, which intermittently exhausts the 8g
    // heap under contention. Scale partition count with the corpus so
    // per-task state stays bounded (tasks then run in waves); at the
    // default 100k the value stays `cpus`, identical to Bench/Verify.
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(cpus, nDocs / 10000).toLong)

    // doc d with d % 100 == 1 copies doc d-1's words, changing only the last
    // word — one planted near-duplicate pair per 100 docs, and the changed
    // member always falls in the id % 10 == 1 "new crawl" slice below. Words
    // are 3-letter base-26 encodings of an md5-derived index into a 500-term
    // vocabulary: alphabetic (so BPE has pairs to learn), deterministic,
    // Zipf-free (the LSH worst case — every shingle distinct-ish).
    val baseSql =
      "concat_ws(' ', transform(" +
        "  transform(sequence(0, 49)," +
        "    i -> pmod(cast(conv(substring(md5(concat(seed, ':', i)), 1, 15), 16, 10) as bigint), 500))," +
        "  x -> concat(char(97 + x % 26)," +
        "              char(97 + cast(x / 26 as bigint) % 26)," +
        "              char(97 + cast(x / 676 as bigint) % 26))))"
    val docs = spark.range(nDocs)
      .select(col("id"),
        when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id")).as("seed"),
        (col("id") % 100 === 1).as("isDup"))
      .select(col("id"), expr(baseSql).as("base"), col("isDup"))
      .select(col("id"),
        when(col("isDup"),
          concat(expr("substring(base, 1, length(base) - 3)"), lit("qqq")))
          .otherwise(col("base")).as("text"))
      .localCheckpoint() // corpus built once; the stages below each scan it

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[training-smoke] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // Checkpoint-block hygiene: ten stages in one JVM each materialize
    // multi-hundred-MB localCheckpoint RDDs; unified memory protects
    // storage blocks up to storageFraction, so by the late stages execution
    // memory starves (measured: perceptron round OOM at 1M docs with 8g).
    // Track the RDD ids each checkpoint registers and free them the moment
    // no later stage reads the frame. (A checkpointed RDD's blocks are its
    // ONLY copy — freeing must wait until the last consumer is done.)
    // by-name df: operators that checkpoint INTERNALLY (incrementalCandidates'
    // band table) register those blocks inside the tracked window too
    def checkpointTracked(df: => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Seq[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      val added = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSeq
      (out, added)
    }
    def free(ids: Seq[Int]): Unit = ids.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

    // 1. BPE learning: the corpus collapses to a bounded vocabulary in one
    //    aggregation; 8 pair-count/argmax/merge rounds run on ≤1000 rows.
    val merges = timed("bpe learn (8 rounds)") {
      Bpe.learnMerges(docs, 8, 1000)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    }

    // 2. Tokenizer application: driver-held merge model replayed corpus-wide
    //    as a narrow scalar replace chain — zero shuffles over the documents.
    val (tok, tokIds) = timed("bpe tokenize") {
      val t = checkpointTracked(
        Bpe.tokenize(docs.select(col("id").as("doc_id"), col("text")), merges))
      t._1.count()
      t
    }

    // 3. Next-fit packing of the tokenized lengths into 4096-token bins:
    //    one hash shuffle on the worker key, per-partition streaming fold.
    val nBins = timed("next-fit packing") {
      CorpusOps.packNextFit(tok, col("doc_id"), col("n_subwords"),
        tokensPerBin = 4096, nWorkers = cpus)
        .select(col("worker"), col("bin")).distinct().count()
    }
    free(tokIds)

    // 4. Incremental near-dup: the id % 10 == 1 slice is today's crawl (10%,
    //    contains every planted dup), the rest is the standing corpus. Bands
    //    join new×corpus only; exact Jaccard verifies the candidates.
    val (shingled, shingledIds) = checkpointTracked(docs.select(col("id"),
      TextFunctions.shingles(col("text"), 2).as("shingles")))
    val newDocs = shingled.where(col("id") % 10 === 1)
    val oldDocs = shingled.where(col("id") % 10 =!= 1)
    var candidates: org.apache.spark.sql.DataFrame = null
    var candidateIds: Seq[Int] = Nil
    val nCand = timed("incremental candidates") {
      val t = checkpointTracked(Dedup.incrementalCandidates(newDocs, oldDocs, 36, 12))
      candidates = t._1; candidateIds = t._2
      candidates.count()
    }
    var verified: org.apache.spark.sql.DataFrame = null
    var verifiedIds: Seq[Int] = Nil
    val nVerified = timed("jaccard verify") {
      val t = checkpointTracked(
        Dedup.verifyJaccard(candidates, shingled, 0.8)
          .select(col("a"), col("b")))
      verified = t._1; verifiedIds = t._2
      verified.count()
    }
    // free this stage's frames AND the corpus band table
    // incrementalCandidates checkpointed internally (captured in candidateIds
    // — it registered during that call); nothing later reads either
    free(shingledIds ++ candidateIds)

    val planted = nDocs / 100
    println(s"[training-smoke] docs=$nDocs merges=${merges.size} bins=$nBins " +
      s"candidates=$nCand verified=$nVerified planted=$planted")
    require(merges.size == 8, s"expected 8 learned merges, got ${merges.size}")
    require(nVerified >= planted * 95 / 100,
      s"verified pairs $nVerified should recover ~all $planted planted dups")

    // 4b. The pair-graph ARTIFACT cycle at the full corpus: persist the
    //     verified pairs + components once, serve the leakage-safe split of
    //     ALL nDocs docs from the (tiny) component table with zero
    //     corpus-side exchange, then fold a synthetic daily delta (every
    //     planted dup doc gains one brand-new near-dup) into the labeling
    //     with mergeComponents — history never re-pairs.
    timed("pair-graph artifact write (pairs + components)") {
      Dedup.writePairGraphIndex(verified, "smoke_pgx_pairs", "smoke_pgx_comp")
    }
    val nTrain = timed(s"artifact-served leakage split ($nDocs docs)") {
      CorpusOps.leakageSafeSplitFromComponents(docs, col("id"),
        spark.table("smoke_pgx_comp"), "smoke", trainPct = 80, valPct = 10)
        .where(col("split") === "train").count()
    }
    require(nTrain > nDocs * 70L / 100 && nTrain < nDocs * 90L / 100,
      s"80% train split should land near 0.8*$nDocs, got $nTrain")
    val delta = spark.range(planted).select(
      (col("id") * 100 + 1).as("a"), (col("id") * 100 + 1 + nDocs).as("b"))
    val nMerged = timed("mergeComponents (synthetic daily delta)") {
      Dedup.mergeComponents(spark.table("smoke_pgx_comp"), delta).count()
    }
    // the merged labeling covers exactly the union of the old labeling's
    // vertices and the delta's endpoints (≈ 3·planted: each planted cluster
    // {d-1, d} gains one brand-new member)
    val nExpected = spark.table("smoke_pgx_comp").select(col("id"))
      .unionByName(delta.select(col("a").as("id")))
      .unionByName(delta.select(col("b").as("id")))
      .distinct().count()
    require(nMerged == nExpected,
      s"merged labeling should cover $nExpected vertices, got $nMerged")
    spark.sql("DROP TABLE IF EXISTS smoke_pgx_pairs")
    spark.sql("DROP TABLE IF EXISTS smoke_pgx_comp")
    free(verifiedIds)

    // 4c. The tf-idf POSTINGS artifact cycle at the full corpus — the
    //     weighted twin of 4b: index the standing corpus ONCE (tokenize +
    //     tf/df + prune paid at write time, term-bucketed layout), then
    //     serve today's crawl as a snapshot-weighted new×old probe under
    //     the default absolute cap. Terms are word BIGRAMS: the synthetic
    //     unigram vocabulary is 500 words, so every unigram lands in ~10%
    //     of docs and `1000·tf div df` floors to 0 — by construction not a
    //     similarity signal, while the ~250k bigram space gives df ≈ 20.
    //     A planted pair shares 48 of its 49 bigrams → must surface ≥ 0.9.
    def bigramToks(pred: org.apache.spark.sql.Column) = docs.where(pred)
      .select(col("id"),
        explode(TextFunctions.shingles(col("text"), 2)).as("term"))
    timed(s"postings index write (${nDocs - nDocs / 10} docs)") {
      Similarity.writeTfidfPostingsIndex(bigramToks(col("id") % 10 =!= 1),
        "smoke_postings")
    }
    val (probe, probeIds) = checkpointTracked(
      Similarity.incrementalTfidfPairsFromIndex(
        bigramToks(col("id") % 10 === 1), "smoke_postings",
        minCosPpm = 900000L, maxDf = 10000L))
    val nProbe = timed("postings probe (new crawl vs index)") { probe.count() }
    val nPlantedHits = probe.where(col("a") === col("b") + 1).count()
    println(s"[training-smoke] postings probe pairs=$nProbe " +
      s"plantedHits=$nPlantedHits planted=$planted")
    require(nPlantedHits >= planted * 95 / 100,
      s"probe should recover ~all $planted planted near-dups, got $nPlantedHits")
    free(probeIds)
    spark.sql("DROP TABLE IF EXISTS smoke_postings")
    spark.sql("DROP TABLE IF EXISTS smoke_postings_norms")
    spark.sql("DROP TABLE IF EXISTS smoke_postings_meta")

    // 5. Semantic dedup (q100's operator), capped at 100k vectors: duplicate
    //    pairs are detected INSIDE an IVF cell only — the corpus never joins
    //    itself globally, so cost is Σ n_cell², not N². Synthetic 32-dim
    //    embeddings (random cosines concentrate at 0 ± 1/√32, so τ=0.95
    //    isolates the planted pairs); id % 100 == 1 copies the previous
    //    vector with a +0.05 nudge on dim 0 (cosine ≈ 1). Recall claim: a
    //    planted pair co-clusters unless the nudge crosses a cell boundary —
    //    SemDeDup's inherent cell-scoping approximation, so ≥ 95% is required,
    //    100% is typical.
    val vecSql =
      "transform(sequence(0, 31), j -> " +
        "cast(conv(substring(md5(concat(vseed, ':', j)), 1, 15), 16, 10) as double)" +
        " / 1152921504606846975.0 - 0.5)"
    def mkVecs(n: Long) = spark.range(n)
      .select(col("id"),
        when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id"))
          .cast("string").as("vseed"),
        (col("id") % 100 === 1).as("isDup"))
      .select(col("id"), expr(vecSql).as("base"), col("isDup"))
      .select(col("id"),
        when(col("isDup"),
          expr("transform(base, (x, j) -> CASE WHEN j = 0 THEN x + 0.05d ELSE x END)"))
          .otherwise(col("base")).as("vec"))
    // (callers checkpointTracked the result so its blocks can be freed)
    val nVec = math.min(nDocs, 100000)
    val (vecs, vecIds) = checkpointTracked(mkVecs(nVec))
    val cents = Ivf.selectCentroids(vecs, col("id") % (nVec / 32).max(1) === 7)
    var semantic: org.apache.spark.sql.DataFrame = null
    var semanticIds: Seq[Int] = Nil
    val nClusters = timed(s"semantic dedup ($nVec vecs, ${cents.length} cells)") {
      val t = checkpointTracked(Similarity.semanticDedup(vecs, cents, tau = 0.95))
      semantic = t._1; semanticIds = t._2
      semantic.count()
    }
    val memberOf = semantic.select(col("cluster_id"),
        explode(split(col("members"), ",")).as("mid"))
      .select(col("cluster_id"), col("mid").cast("long").as("id"))
    val plantedPairs = spark.range(nVec).where(col("id") % 100 === 1)
      .select((col("id") - 1).as("a"), col("id").as("b"))
    val nPlantedVec = nVec / 100
    val coClustered = plantedPairs
      .join(memberOf.select(col("id").as("a"), col("cluster_id").as("ca")), "a")
      .join(memberOf.select(col("id").as("b"), col("cluster_id").as("cb")), "b")
      .where(col("ca") === col("cb")).count()
    println(s"[training-smoke] semantic clusters=$nClusters " +
      s"co-clustered=$coClustered planted=$nPlantedVec")
    require(coClustered >= nPlantedVec * 95 / 100,
      s"semantic dedup co-clustered $coClustered of $nPlantedVec planted pairs")
    free(semanticIds)

    // 6. IVF-PQ (q98's operator) at the FULL document count (up to 1M): the
    //    index build is one narrow map (coarse argmax + per-subspace argmin
    //    over a driver-held codebook) storing (cell, code1, code2) per
    //    vector — never the embedding; ADC search broadcasts ~100 query LUTs
    //    against the probed cells and scores by array lookups. The claims
    //    under test: build cost scales with scan speed, search cost with the
    //    probed fraction, and every query fills its top-5.
    val nPq = math.min(nDocs, 1000000).toLong
    val (pqVecs, pqVecIds) =
      if (nPq == nVec) (vecs, vecIds) else {
        free(vecIds) // the 100k slice is dead once a bigger one replaces it
        checkpointTracked(mkVecs(nPq))
      }
    val pqCoarse = Ivf.selectCentroids(pqVecs, col("id") % (nPq / 64).max(1) === 3)
    val pqCb = pqVecs.where(col("id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val pqSplits = Seq((1, 16), (17, 16))
    val (index, indexIds) = timed(s"ivfpq index build ($nPq vecs, ${pqCoarse.length} cells)") {
      val t = checkpointTracked(Ivf.pqIndex(pqVecs, pqCoarse, pqCb, pqSplits))
      t._1.count()
      t
    }
    val pqQueries = pqVecs.where(col("id") % (nPq / 100).max(1) === 5)
    val nQ = pqQueries.count()
    val nHits = timed(s"ivfpq adc search ($nQ queries, nprobe=3)") {
      Ivf.adcSearch(index, pqQueries, pqCoarse, pqCb, pqSplits,
        nprobe = 3, k = 5).count()
    }
    println(s"[training-smoke] ivfpq queries=$nQ hits=$nHits")
    require(nHits == nQ * 5,
      s"every query should fill its top-5: got $nHits of ${nQ * 5}")
    free(indexIds)

    // 7. DSIR importance weighting — the ACTUAL Dsir operators q105 runs
    //    (not an inline copy, so an operator fix can't silently diverge from
    //    this smoke) at the full document count: the id % 10 == 0 slice is
    //    the "target" domain. The claims under test: the ratio table stays
    //    ≤ 4096 rows (the bounded feature space IS the scale story) and
    //    scoring is one partial-agg shuffle + a broadcast join regardless
    //    of corpus size.
    val fb = graft.operators.Dsir.hashedBigrams(
      docs.select(col("id"), (col("id") % 10 === 0).as("is_target"), col("text")),
      buckets = 4096, salt = "dsir:")
    val (ratios, ratioIds) = timed("dsir profile agg") {
      val t = checkpointTracked(graft.operators.Dsir.ratioTable(fb))
      require(t._1.count() <= 4096, "feature space must stay bounded")
      t
    }
    val nScored = timed("dsir score + top-64") {
      graft.operators.Dsir.score(fb.where(!col("is_target")), ratios)
        .orderBy(col("weight_fp").desc, col("id").asc).limit(64)
        .count()
    }
    require(nScored == 64, s"top-64 selection returned $nScored rows")
    free(ratioIds)

    // 8. Inter-doc paragraph dedup (q106's operator): planted pairs share
    //    48 of their 50 words — chunks 0-5 of 7 — so BOTH members of every
    //    pair must cross the 30% dup-fraction threshold.
    val nFlagged = timed("paragraph dedup") {
      val ch = docs.select(col("id"), split(col("text"), " ").as("w"))
        .select(col("id"), size(col("w")).as("n"), col("w"),
          explode(expr("sequence(0, size(w) - 1, 8)")).as("st"))
        .select(col("id"), least(lit(8), col("n") - col("st")).as("ntok"),
          md5(array_join(slice(col("w"), col("st") + 1, lit(8)), " ")).as("dg"))
      val census = ch.groupBy(col("dg")).agg(count(lit(1)).as("occ"))
      ch.join(census, "dg")
        .groupBy(col("id"))
        .agg(sum(col("ntok")).as("tot"),
          sum(when(col("occ") >= 2, col("ntok")).otherwise(0L)).as("dup"))
        .where(expr("(1000000 * dup) div tot >= 300000"))
        .count()
    }
    val nPlantedDocs = 2L * (nDocs / 100)
    println(s"[training-smoke] paragraph-dedup flagged=$nFlagged planted=$nPlantedDocs")
    require(nFlagged >= nPlantedDocs,
      s"every planted pair member must be flagged: $nFlagged < $nPlantedDocs")

    // 9. Batch perceptron (q113's operator) at the full document count on a
    //    BALANCED label with a DOMINANT class marker: even ids (y = +1) get
    //    ten "mrk" words appended, odd ids ten "ngt" words (neither in the
    //    500-term vocabulary). Margin and balance matter for CONVERGENCE,
    //    not shape: this smoke's BATCH update (sum over all misclassified —
    //    q113's formulation) has no single-example mistake bound, and two
    //    earlier label designs measurably failed to converge — 1% positives
    //    (the round-1 all-misclassify step writes a −0.98·N bias the marker
    //    weight needs ~150 rounds to overcome) and a single marker word
    //    (the per-round common-bucket drift of misclassified near-zero docs
    //    overwhelms the one-word margin). Ten marker occurrences per doc
    //    make the class term 10× the total drift, so training locks in
    //    within 2 rounds. Features are hashed UNIGRAMS in 4096 buckets so
    //    the markers' buckets carry (all but) no colliding mass. The claims
    //    under test: the per-(doc, bucket) feature table builds at scan
    //    speed, each round is one broadcast weight join + one bounded delta
    //    aggregation, and the trajectory converges at 1M docs.
    val mark10 = (m: String) => lit((" " + m) * 10)
    val base = docs.select(col("id"),
      when(col("id") % 2 === 0, 1L).otherwise(-1L).as("y"),
      split(concat(col("text"),
        when(col("id") % 2 === 0, mark10("mrk")).otherwise(mark10("ngt"))), " ").as("w"))
    val (dcP, dcPIds) = timed("perceptron features") {
      val t = checkpointTracked(base
        .select(col("id"), col("y"), explode(col("w")).as("g"))
        .select(col("id"), col("y"),
          (graft.functions.TextFunctions.hash60(
            concat(lit("qp:"), col("g"))) % 4096).as("b"))
        .groupBy(col("id"), col("y"), col("b")).agg(count(lit(1)).as("c"))
        .unionByName(base.select(col("id"), col("y"),
          lit(-1L).as("b"), lit(1L).as("c"))))
      t._1.count(); t
    }
    var wp: Map[Long, Long] = Map.empty
    def weightsDf = {
      val rows = if (wp.isEmpty) Seq((0L, 0L)) else wp.toSeq
      import spark.implicits._
      rows.toDF("b", "wt")
    }
    def scoredP = dcP.join(broadcast(weightsDf), Seq("b"), "left")
      .groupBy(col("id"), col("y"))
      .agg(sum(col("c") * coalesce(col("wt"), lit(0L))).as("s"))
    timed("perceptron 6 rounds") {
      for (_ <- 1 to 6) {
        val delta = dcP.join(
          scoredP.where(col("y") * col("s") <= 0).select(col("id")), "id")
          .groupBy(col("b")).agg(sum(col("y") * col("c")).as("dw"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        wp = (wp.keySet ++ delta.keySet).map(b =>
          b -> (wp.getOrElse(b, 0L) + delta.getOrElse(b, 0L))).toMap
      }
    }
    val confusion = scoredP.select(col("y"), (col("s") > 0).as("pred"))
      .groupBy(col("y"), col("pred")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getBoolean(1)), r.getLong(2))).toMap
    val errs = confusion.getOrElse((1L, false), 0L) + confusion.getOrElse((-1L, true), 0L)
    val total = confusion.values.sum
    println(s"[training-smoke] perceptron errors=$errs of $total")
    // majority-class baseline is 50% here — demand ≤1% so a vacuous
    // non-converging trajectory can never pass (<= keeps the bound
    // satisfiable at tiny nDocs where nDocs/100 floors to 0)
    require(errs <= nDocs / 100,
      s"the separable balanced label must train to <=1% error: $errs of $total")
    free(dcPIds)

    // 10. Fixed-point Lloyd (q107's operator, the unified Ivf path) at the
    //     full vector count: the corpus lifts to floor(x·1e6) integers ONCE
    //     (checkpointed — the q107 materialization), then each round is one
    //     narrow k-term argmin + one (cluster, dim) aggregation whose output
    //     is k·dim rows. The claims under test: round cost scales with scan
    //     speed and the collected model stays bounded at 1M vectors.
    val (fpVecs, _) = checkpointTracked(pqVecs.select(col("id"),
      expr("transform(vec, x -> cast(floor(x * 1000000.0d) as bigint))").as("vfp")))
    free(pqVecIds) // the double-precision vectors are dead once lifted
    var fpCents: Seq[(Long, Seq[Long])] = fpVecs.where(col("id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    timed(s"lloyd 2 rounds ($nPq vecs, k=8, fixed-point)") {
      for (_ <- 1 to 2)
        fpCents = Ivf.fpCentroidsOf(Ivf.fpLloydUpdate(fpVecs, fpCents))
    }
    require(fpCents.nonEmpty && fpCents.size <= 8 &&
      fpCents.forall(_._2.length == 32),
      s"Lloyd model must stay bounded: ${fpCents.size} clusters")

    // 11. Exact duplicate text segments (q115's operator) at the full
    //     corpus: every planted pair shares its first 49 words (only the
    //     last differs), so the stride-1 window census must recover EXACTLY
    //     one [0, 49) span in each member — 2 per planted pair — and the
    //     500-word vocabulary makes chance 10-gram collisions impossible
    //     (500^-10), so there can be no other span. The claims under test:
    //     ~50M window digests census at scan speed, the charge-back join
    //     carries only duplicated digests, and the result is surgical.
    val spanStats = timed(s"duplicate spans ($nDocs docs, n=10)") {
      Dedup.duplicateSpans(
          docs.select(col("id"), split(col("text"), " ").as("w")),
          n = 10, minOcc = 2)
        .agg(count(lit(1)).as("n"),
          sum(when(col("span_tok") === 49, 1L).otherwise(0L)).as("n49"))
        .first()
    }
    // planted dup ids are 1, 101, … < nDocs → exactly (nDocs+98)/100 pairs
    // (NOT nDocs/100 — that undercounts every non-multiple-of-100 corpus)
    val expectedSpans = 2L * ((nDocs + 98) / 100)
    require(spanStats.getLong(0) == expectedSpans &&
      spanStats.getLong(1) == expectedSpans,
      s"expected $expectedSpans exact [0,49) spans, got ${spanStats.getLong(0)} " +
        s"(${spanStats.getLong(1)} of length 49)")

    // 12. Round-9 curation reports at the full corpus. Claims under test:
    //     vocab coverage reduces ~50M token occurrences to a ~501-term
    //     census before its bounded-heap cut (3 report rows out); quantile
    //     normalization's value census stays at sources × distinct-scores
    //     rows and every input row comes back with a percentile (never a
    //     corpus-wide rank window); semantic decontamination scans the
    //     corpus ONCE against the broadcast eval slice with the threshold
    //     filter ahead of the argmax — and at 0.95 the flagged set is
    //     EXACTLY the planted dup partners, each matched to its true twin.
    val nCov = timed(s"vocab coverage ($nDocs docs)") {
      CorpusOps.vocabCoverage(
        docs.select(explode(split(col("text"), " ")).as("term")),
        ks = Seq(10, 100, 500)).count()
    }
    require(nCov == 3, s"expected 3 coverage report rows, got $nCov")
    val nQn = timed(s"quantile normalize ($nDocs docs, 20 sources)") {
      CorpusOps.quantileNormalize(
        docs.select(col("id"), (col("id") % 20).as("src"),
          (graft.functions.TextFunctions.hash60(col("text")) % 1000L).as("score")),
        "src", "score").count()
    }
    require(nQn == nDocs.toLong,
      s"every doc must get a percentile back: $nQn of $nDocs")
    // winsorization shares the census-CDF + broadcast-clamp shape: the only
    // corpus-size shuffle is the (src, value) census groupBy; with ~uniform
    // hash-derived values, [p05, p95] clipping must mark ~10% of rows
    val nClip = timed(s"winsorize ($nDocs rows, 20 sources)") {
      CorpusOps.winsorize(
        docs.select(col("id"), (col("id") % 20).as("src"),
          (graft.functions.TextFunctions.hash60(col("text")) % 10000L).as("vfp")),
        "src", "vfp").where(col("was_clipped")).count()
    }
    require(nClip > (nDocs * 8L) / 100 && nClip < (nDocs * 11L) / 100,
      s"p05/p95 winsorization should clip ~10% of uniform values, clipped $nClip of $nDocs")
    // char-level diversity gates (q147's operator, native kernel) at the
    // full corpus: one compiled pass per doc, zero shuffles — the aggregate
    // references every ratio column so Catalyst cannot prune the kernel
    // away (a bare count() would time an empty scan). Claims under test:
    // scan-speed at 1M docs, and EXACT values — a fixed invariant of the
    // corpus shape plus a bounded ~100-doc sample re-derived in-driver
    // from code points.
    val cd = CorpusOps.charDiversity(docs, col("id"), col("text"))
    val cdAgg = timed(s"char diversity ($nDocs docs, native kernel)") {
      cd.agg(count(lit(1)).as("n"),
        min(col("ws_ppm")).as("lo"), max(col("ws_ppm")).as("hi")).first()
    }
    require(cdAgg.getLong(0) == nDocs.toLong,
      s"every doc must emit one stats row: ${cdAgg.getLong(0)} of $nDocs")
    // every doc is 50 3-letter words + 49 single spaces = 199 chars, so
    // ws_ppm is EXACTLY (1e6 · 49) div 199 for every row, dups included
    val wsExpected = 1000000L * 49 / 199
    require(cdAgg.getLong(1) == wsExpected && cdAgg.getLong(2) == wsExpected,
      s"ws_ppm must be $wsExpected corpus-wide, got [${cdAgg.getLong(1)}, ${cdAgg.getLong(2)}]")
    val cdStep = math.max(nDocs / 100, 1)
    val cdTexts = docs.where(col("id") % cdStep === 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cd.where(col("id") % cdStep === 3).collect().foreach { r =>
      val t = cdTexts(r.getLong(0))
      val counts = t.codePoints().toArray.groupBy(identity)
        .map { case (_, v) => v.length.toLong }
      val len = t.length.toLong
      val s2 = counts.map(c => c * c).sum
      require(r.getLong(1) == len && r.getInt(2) == counts.size &&
        r.getLong(3) == 1000000L * s2 / (len * len) &&
        r.getLong(4) == 1000L * len * len / s2,
        s"sampled doc ${r.getLong(0)} diverges from the in-driver brute force")
    }
    val nVecC = math.min(nDocs, 50000).toLong
    val cVecs = mkVecs(nVecC)
    val contam = timed(s"semantic decontamination ($nVecC vecs, " +
      s"${nVecC / 100} eval)") {
      Similarity.semanticContamination(
          corpus = cVecs.where(col("id") % 100 =!= 0),
          evalSet = cVecs.where(col("id") % 100 === 0),
          threshold = 0.95)
        .agg(count(lit(1)).as("n"),
          sum(when(col("eval_id") === col("id") - 1, 1L).otherwise(0L)).as("nTwin"))
        .first()
    }
    // planted partners: id ≡ 1 (mod 100) copies id−1 (≡ 0, always in the
    // eval slice); random 32-dim cosines never reach 0.95
    val expectedContam = (nVecC + 98) / 100
    require(contam.getLong(0) == expectedContam &&
      contam.getLong(1) == expectedContam,
      s"expected $expectedContam flagged docs each matched to its twin, " +
        s"got ${contam.toSeq}")

    // 12b. Label QA at the full corpus (q149-q152's operators): a 5-rater
    //      campaign over every doc (labels hash-derived as in the oracle
    //      queries). Claims under test: the pair join's fanout stays
    //      annotators²-bounded (all 10 kappa rows emit over exactly nDocs
    //      shared items), Fleiss' summaries are driver-sized (one row,
    //      nothing dropped), and consolidation returns one consensus per
    //      item — at 5M annotation rows, seconds each.
    val smokeAnn = docs.select(
        col("id").as("item"),
        explode(expr("sequence(0, 4)")).as("annotator"))
      .select(col("item"), col("annotator"), expr(
        "cast(conv(substring(md5(concat('sm', annotator, ':', item)), 1, 4), 16, 10) as int) % 3")
        .as("label"))
      .localCheckpoint()
    val pairRows = timed(s"cohen kappa 10 pairs (${nDocs}x5 annotations)") {
      graft.operators.Annotations.annotatorAgreement(smokeAnn, nClasses = 3).collect()
    }
    require(pairRows.length == 10 &&
      pairRows.forall(_.getAs[Long]("n_items") == nDocs.toLong),
      s"expected 10 full-coverage kappa pairs, got ${pairRows.toSeq.take(3)}")
    val fleiss = timed(s"fleiss kappa (${nDocs} items)") {
      graft.operators.Annotations.fleissKappa(smokeAnn, ratersPerItem = 5).collect()
    }
    require(fleiss.length == 1 && fleiss(0).getAs[Long]("n_items") == nDocs.toLong &&
      fleiss(0).getAs[Long]("n_dropped") == 0L,
      s"fleiss must keep every 5-rated item: ${fleiss.toSeq}")
    val nCons = timed(s"label consolidation (${nDocs} items)") {
      graft.operators.Annotations.consolidateLabels(smokeAnn).count()
    }
    require(nCons == nDocs.toLong, s"one consensus per item: $nCons of $nDocs")

    // everything persisted so far (docs corpus, span digests, Lloyd lifts) is
    // dead before the graph stage — a full sweep keeps the block manager
    // empty for the adversarial chain's own round checkpoints
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

    // 13. Clustering on the ADVERSARIAL graph shape at the full document
    //     count: an nDocs-vertex chain is label propagation's worst case
    //     (rounds = diameter = nDocs), so componentsStar's O(log n) star
    //     contraction is the only formulation that terminates here. Vertex
    //     labels are scrambled by a bijection (×1000003 mod n — prime above
    //     any nDocs this smoke runs, so coprime) so the component minimum
    //     sits mid-chain and labels must travel against edge direction too.
    //     The claims under test: convergence in ≤ 25 alternations at 1M
    //     vertices, one component labeled by its minimum, and superseded
    //     round checkpoints freed in-loop (the block manager stays bounded).
    val nV = nDocs.toLong
    val chain = spark.range(nV - 1).select(
      (col("id") * 1000003L % nV).as("a"),
      ((col("id") + 1) * 1000003L % nV).as("b"))
    val (localLabels, rounds) = timed(s"componentsStar ($nV-vertex scrambled chain)") {
      val (labels, r) = Dedup.componentsStarWithRounds(chain, maxIters = 40)
      val stats = labels.agg(count(lit(1)).as("n"),
        countDistinct(col("component")).as("nc"),
        min(col("component")).as("mn")).first()
      require(stats.getLong(0) == nV && stats.getLong(1) == 1L &&
        stats.getLong(2) == 0L,
        s"chain must collapse to one component labeled 0: got ${stats.toSeq}")
      (labels, r)
    }
    println(s"[training-smoke] componentsStar chain rounds=$rounds")
    require(rounds <= 25,
      s"star contraction should converge in O(log n) <= 25 rounds, took $rounds")

    // 14. The opt-in RELIABLE checkpoint mode (the real-cluster
    //     fault-tolerance answer to localCheckpoint's lost-block caveat)
    //     must label the same adversarial chain IDENTICALLY at the full
    //     vertex count — every round writes to the checkpoint dir instead
    //     of pinning local blocks.
    val ckDir = java.nio.file.Files.createTempDirectory("graft-smoke-ck").toFile
    spark.sparkContext.setCheckpointDir(ckDir.getAbsolutePath)
    spark.conf.set("graft.iterative.reliableCheckpoint", "true")
    try timed(s"componentsStar reliable-checkpoint mode ($nV vertices)") {
      val rel = Dedup.componentsStar(chain, maxIters = 40)
      val mismatches = localLabels.withColumnRenamed("component", "c1")
        .join(rel.withColumnRenamed("component", "c2"), "id")
        .where(col("c1") =!= col("c2")).count()
      require(mismatches == 0L,
        s"reliable mode diverged from local mode on $mismatches vertices")
    } finally spark.conf.set("graft.iterative.reliableCheckpoint", "false")

    // 15. Label-QA family at the full campaign: nDocs annotations (nDocs/5
    //     items × 5 annotators, md5-derived per-annotator noise like the
    //     q149-q156 generator). Claims under test: the agreement family
    //     (Fleiss, distance-metric Krippendorff) reduces the campaign to
    //     driver-sized summaries at census cost; Dawid-Skene's EM rounds
    //     stay at two equi-shuffles + broadcast theta/pi grids per round;
    //     consolidation emits exactly one consensus row per item.
    import graft.operators.{Annotations, Preferences}
    val nItems = math.max(nDocs / 5, 1).toLong
    val (annQa, annIds) = checkpointTracked(spark.range(nItems)
      .select(col("id").as("item"), explode(expr("sequence(0, 4)")).as("annotator"))
      .select(col("item"), col("annotator"), expr(
        """CASE WHEN cast(conv(substring(md5(concat('smoke', annotator, ':', item)), 1, 4), 16, 10) as int) % 10 < annotator
                THEN cast(conv(substring(md5(concat('smoke', annotator, ':', item)), 5, 4), 16, 10) as int) % 3
                ELSE cast(item % 3 as int) END""").as("label")))
    timed(s"label QA: consolidate+fleiss+ordinal alpha (${nItems * 5} annotations)") {
      val nCons = Annotations.consolidateLabels(annQa).count()
      require(nCons == nItems, s"expected $nItems consensus rows, got $nCons")
      val fk = Annotations.fleissKappa(annQa, ratersPerItem = 5).first()
      val al = Annotations.krippendorffAlphaMetric(annQa, maxRaters = 5,
        metric = "ordinal").first()
      val kap = fk.getAs[Long]("kappa_pm"); val alp = al.getAs[Long]("alpha_pm")
      // the planted majority-truth campaign must land at clear positive
      // agreement (noise rates 0..4/10 per annotator), inside the legal band
      require(kap > 100 && kap <= 1000 && alp > 100 && alp <= 1000,
        s"degenerate agreement: fleiss=$kap alpha=$alp")
    }
    timed(s"dawid-skene 2 EM rounds ($nItems items)") {
      val ds = Annotations.dawidSkene(annQa, nClasses = 3, rounds = 2)
        .agg(count(lit(1)).as("n"),
          sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed")).first()
      require(ds.getLong(0) == nItems,
        s"EM must emit one row per item: ${ds.getLong(0)} of $nItems")
      println(s"[training-smoke] dawid-skene changed ${ds.getLong(1)} of $nItems")
    }
    free(annIds)

    // 16. Preference fits at nDocs duels: the win-rate census is ONE
    //     map-side-combinable exchange to 10 rows; the Bradley-Terry MM
    //     rounds then run on the checkpointed census with broadcast
    //     strengths, so round cost is independent of duel volume. The
    //     planted strengths (10-m) must come back in ORDER at this volume
    //     (per-pair noise ~0.2% at 100k duels/pair, far under the gaps).
    val (duelsQa, duelIds) = checkpointTracked(spark.range(nDocs.toLong)
      .select(col("id").as("item"),
        expr("cast(conv(substring(md5(concat('dpair', id)), 1, 4), 16, 10) as int) % 10").as("p"))
      .select(col("item"),
        expr("element_at(array(0,0,0,0,1,1,1,2,2,3), p + 1)").as("model_a"),
        expr("element_at(array(1,2,3,4,2,3,4,3,4,4), p + 1)").as("model_b"))
      .select(col("item"), col("model_a"), col("model_b"), expr(
        """CASE WHEN cast(conv(substring(md5(concat('dwin', item)), 1, 4), 16, 10) as int)
                     % (20 - model_a - model_b) < 10 - model_a
                THEN model_a ELSE model_b END""").as("winner")))
    timed(s"pairwise win rates ($nDocs duels)") {
      val wr = Preferences.pairwiseWinRates(duelsQa).collect()
      require(wr.length == 10, s"expected 10 pair rows, got ${wr.length}")
    }
    timed("bradley-terry 2 MM rounds") {
      val bt = Preferences.bradleyTerry(duelsQa, rounds = 2)
        .orderBy(col("strength_fp").desc).collect()
      require(bt.length == 5, s"expected 5 models, got ${bt.length}")
      val order = bt.map(_.getInt(0)).toSeq
      require(order == Seq(0, 1, 2, 3, 4),
        s"planted strength order not recovered: $order")
    }
    free(duelIds)
    spark.stop()
  }
}
