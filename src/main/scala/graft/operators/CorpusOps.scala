package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-preparation operators for a training-data pipeline: deterministic
 * sampling, corpus shuffling, benchmark decontamination, and token-budget
 * shard packing. Everything is hash-deterministic (md5-keyed, no RNG state),
 * so every result is reproducible run-to-run AND expressible in the DuckDB
 * oracles (q42–q45).
 */
object CorpusOps {

  /**
   * Exact-quota stratified sample: the `quota` rows per stratum with the
   * smallest `md5(salt:id)` — a deterministic "random" draw that is stable
   * under corpus growth within each stratum's hash order.
   *
   * Plan: one shuffle partitioned by the stratum, a per-stratum sort, rank
   * filter. Strata in a real corpus (source × language) number in the
   * thousands — ample parallelism; a single mega-stratum is the skew case,
   * where the bounded-heap `topk_by` pattern (map-side truncation to quota)
   * is the drop-in fix. When exactness of the quota is NOT required, the
   * windowless Bernoulli form (`WHERE md5(salt:id) < cutoff`) needs no
   * shuffle at all.
   */
  /** The deterministic draw key `md5("salt:id")` — ONE definition, because
   * its format is also the contract the q42/q43 oracles re-derive in SQL
   * (`md5('salt:' || CAST(id AS VARCHAR))`). */
  private def saltKey(salt: String, idCol: Column): Column =
    md5(concat(lit(s"$salt:"), idCol.cast("string")))

  def sampleStratified(df: DataFrame, idCol: Column, stratum: Column,
                       quota: Int, salt: String): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(saltKey(salt, idCol), idCol)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= quota)
  }

  /**
   * The bounded-heap stratified sampler — [[sampleStratified]]'s mega-stratum
   * escape made concrete: draw order is the 60-bit `hash60(salt:id)` (exact
   * long comparison, id tie-break) and the per-stratum quota comes from the
   * native `mink_by` aggregate ([[graft.plans.MinKByExpr]]), so each task
   * truncates every stratum to `quota` entries map-side and the exchange
   * carries ≈ tasks × strata × quota entries — the window formulation
   * shuffles and sorts EVERY row of the corpus, and a single hot stratum
   * lands whole on one reducer. Output: (stratum, sample_rank, id), rank
   * 1..quota in draw order. A session without GraftExtensions fails at
   * analysis naming `mink_by`.
   */
  def sampleStratifiedBounded(df: DataFrame, idCol: Column, stratum: Column,
                              quota: Int, salt: String): DataFrame = {
    val key = graft.functions.TextFunctions
      .hash60(concat(lit(s"$salt:"), idCol.cast("string")))
    val keyed = df.select(stratum.as("stratum"), key.as("draw"), idCol.as("id"))
    keyed.groupBy(col("stratum"))
      .agg(call_function("mink_by", col("draw"), col("id"), lit(quota)).as("mk"))
      .select(col("stratum"), posexplode(col("mk")))
      .select(col("stratum"), (col("pos") + 1).as("sample_rank"),
        col("col.id").as("id"))
  }

  /**
   * Deterministic corpus shuffle: order by `md5(salt:id)` — the standard
   * pre-training randomization, reproducible from the salt alone. Epoch k =
   * salt "epoch-k": a fresh permutation, no stored state.
   *
   * Plan: a range-partitioned distributed sort (Spark samples range bounds,
   * no single-partition stage); writing the sorted frame yields globally
   * shuffled shards. No global row_number is attached — a total-order rank
   * would serialize into one window partition; the key itself carries the
   * order.
   */
  def deterministicShuffle(df: DataFrame, idCol: Column, salt: String): DataFrame =
    df.withColumn("shuffle_key", saltKey(salt, idCol))
      .orderBy(col("shuffle_key"))

  /**
   * Benchmark decontamination: drop every corpus document sharing at least
   * one word n-gram with the benchmark set — the standard n-gram-collision
   * test-set leakage guard.
   *
   * Plan: benchmark shingles explode to a (small) key set; the corpus
   * postings anti-join against it — a broadcast anti-join when the benchmark
   * is benchmark-sized, never a corpus×corpus comparison. Corpus rows whose
   * id appears in the benchmark set are dropped unconditionally.
   *
   * Inputs carry (`id`, `shingles`); emits the clean subset of `corpus`.
   */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val benchIds = benchmark.select(col("id"))
    val benchGrams = benchmark
      .select(explode(col("shingles")).as("gram")).distinct()
    val contaminated = corpus
      .select(col("id"), explode(col("shingles")).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .select(col("id")).distinct()
    corpus
      .join(broadcast(benchIds), Seq("id"), "left_anti")
      .join(contaminated, Seq("id"), "left_anti")
  }

  /**
   * GRADED contamination report — the policy sibling of [[decontaminate]]'s
   * binary gate: per corpus document (benchmark members excluded), the
   * fraction of its DISTINCT shingles that appear anywhere in the benchmark
   * gram set, in ‰ fixed point. A curation team thresholding "drop above
   * 80% overlap, flag above 20%" needs the distribution, not the verdict;
   * this is the table that sets the threshold. Only contaminated docs
   * (n_hit > 0) emit — at production scale the clean corpus dominates and
   * must not ride a report.
   *
   * Plan: same shape as the gate — benchmark grams broadcast (the Bloom /
   * keyed-join variants are the drop-ins when the benchmark outgrows a
   * broadcast), per-doc gram explode with a map-side-combinable census, one
   * bounded output row per contaminated doc. Emits
   * `(id, n_grams, n_hit, overlap_pm)`.
   */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val benchIds = benchmark.select(col("id"))
    val benchGrams = benchmark
      .select(explode(col("shingles")).as("gram")).distinct()
      .withColumn("hit", lit(1L))
    corpus
      .join(broadcast(benchIds), Seq("id"), "left_anti")
      .select(col("id"), explode(array_distinct(col("shingles"))).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .where(col("n_hit") > 0)
      .select(col("id"), col("n_grams"), col("n_hit"),
        expr("1000 * n_hit div n_grams").as("overlap_pm"))
  }

  /**
   * SPAN-LEVEL decontamination (the surgical variant of [[decontaminate]]'s
   * whole-document drop — the PaLM/Llama approach): locate every word
   * `n`-gram of the corpus that also occurs in the benchmark, widen each hit
   * by `margin` tokens, and coalesce overlapping/adjacent hits into maximal
   * contaminated spans — the intervals a cleaning pass would cut, keeping
   * the rest of the document.
   *
   * Input: corpus (`id`, `w` token array), `benchGrams` (`gram`) — the
   * benchmark's space-joined n-grams (deduped here). Held-out eval sets are
   * small, so AQE broadcasts the match join; the hint is deliberately NOT
   * forced, so an oversized "benchmark" (q114 bench-slices 1/7 of the
   * corpus) degrades to a shuffle join instead of a driver-side broadcast
   * OOM. Output: (id, span_start, span_end, span_tok), `span_end`
   * exclusive, token coordinates.
   *
   * Shapes for 100 TB: gram extraction is one narrow Generate; the match is
   * an equi-join (broadcast when small); interval coalescing is the gaps-and-islands
   * pattern — ONE per-document window (max-end-so-far → island id → one
   * groupBy), integer arithmetic throughout, partitions bounded by hits per
   * document, never corpus-wide. Engine-exact, so the DuckDB oracle rebuilds
   * identical spans (q114).
   */
  def contaminatedSpans(corpus: DataFrame, benchGrams: DataFrame,
                        n: Int, margin: Int): DataFrame = {
    val hits = corpus.where(size(col("w")) >= n)
      .select(col("id"), size(col("w")).as("len"),
        explode(expr(s"sequence(0, size(w) - $n)")).as("i"),
        col("w"))
      .select(col("id"), col("len"), col("i"),
        array_join(slice(col("w"), col("i") + 1, lit(n)), " ").as("gram"))
      .join(benchGrams.select(col("gram")).distinct(), "gram")
      .select(col("id"),
        greatest(col("i") - margin, lit(0)).as("start"),
        least(col("i") + n + margin, col("len")).as("end"))
      .distinct()
    coalesceSpans(hits)
  }

  /**
   * Interval coalescing — the gaps-and-islands pattern shared by the span
   * detectors ([[contaminatedSpans]], [[Dedup.duplicateSpans]]): merge
   * overlapping/adjacent (id, start, end-exclusive) intervals into maximal
   * spans. A row opens a new island iff it starts strictly after every
   * earlier interval's end (adjacent intervals merge — contiguous regions
   * are one span). ONE per-id window + one groupBy, integer arithmetic,
   * partitions bounded by intervals per id. Output: (id, span_start,
   * span_end, span_tok).
   */
  def coalesceSpans(intervals: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("id")).orderBy(col("start"), col("end"))
    val islands = intervals
      .withColumn("prev_max_end",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens", when(col("prev_max_end").isNull ||
        col("start") > col("prev_max_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("opens"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("id"), col("island"))
      .agg(min(col("start")).as("span_start"), max(col("end")).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tok"))
  }

  /**
   * Token-budget shard packing: assign documents to training shards of
   * ≈ `tokensPerShard` tokens. Documents are first split across `nWorkers`
   * deterministic workers (`id % nWorkers`); within a worker, docs pack in id
   * order by cumulative token count — shard = floor(tokens-before / budget).
   * Global shard id = (worker, shard).
   *
   * Plan: one shuffle on the worker key, a per-worker sort + running sum —
   * embarrassingly parallel across workers (set `nWorkers` ≈ cluster cores at
   * scale); no global coordination, no driver state. This is the chunked
   * (FIFO) packing used for streaming tokenization; bin-packing-optimal
   * packing is NP-hard and needs no distribution anyway.
   */
  def packShards(df: DataFrame, idCol: Column, nTokens: Column,
                 tokensPerShard: Int, nWorkers: Int): DataFrame = {
    val w = Window.partitionBy(col("worker")).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("worker", idCol % nWorkers)
      .withColumn("n_tokens", nTokens)
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard", expr(s"tokens_before div $tokensPerShard"))
  }

  /**
   * NEXT-FIT sequence packing: docs stream in id order through each worker
   * and a doc that would overflow the current bin's `tokensPerBin` budget
   * CLOSES it and opens the next — leftover capacity is wasted, exactly the
   * training-sequence packing a pretraining loader does. This differs from
   * `packShards`' divisible running-sum (`cumsum div B`), which lets one
   * document straddle a boundary; next-fit state (bin, fill) is a genuine
   * sequential fold with no closed form, so it runs as the classic
   * SECONDARY-SORT pattern: one hash shuffle on worker, a per-partition
   * (worker, id) sort, then a single streaming O(1)-state pass over the
   * sorted iterator (`mapPartitions` — the "genuine per-partition imperative
   * logic" carve-out). A worker never splits across partitions, several
   * workers per partition are handled by state reset, and nothing is
   * materialized per group — a worker with a billion docs streams through in
   * constant memory.
   */
  def packNextFit(df: DataFrame, idCol: Column, nTokens: Column,
                  tokensPerBin: Int, nWorkers: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select((idCol % nWorkers).cast("long").as("worker"),
        idCol.cast("long").as("id"), nTokens.cast("long").as("n_tokens"))
      .repartition(col("worker"))
      .sortWithinPartitions(col("worker"), col("id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curWorker = Long.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (w, id, t) =>
          if (w != curWorker) { curWorker = w; bin = 0L; fill = t }
          else if (fill + t <= tokensPerBin) fill += t
          else { bin += 1L; fill = t }
          (id, w, bin, t)
        }
      }
      .toDF("doc_id", "worker", "bin", "n_tokens")
  }

  /**
   * A SAMPLED sweep must be loud, not silent — the [[Dedup.loudWhenCapBinds]]
   * discipline for deterministic subsampling concessions (q141's 1/3 pair
   * sweep): the kept-row count and the declared denominator ride the query as
   * a named observed metric (zero extra jobs), and a once-per-session
   * listener ([[Audits]]) WARNs the sample rate on every execution, so a
   * production run of a sampled diagnostic always STATES it is a
   * distribution-shape estimate, never passes as a full census. Wrap the
   * already-filtered frame; `denom` is the declared 1/denom rate.
   */
  def loudSampled(df: DataFrame, denom: Int): DataFrame = {
    require(denom >= 1, "denom must be >= 1")
    Audits.observeLoudly(df, "graft.corpus.sample",
      Seq(count(lit(1)).as("n_sampled"), lit(denom.toLong).as("denom")),
      "graft.operators.CorpusOps",
      shouldWarn = _ => true,
      render = row =>
        s"sampled sweep: deterministic 1/${row.getLong(1)} sample, " +
          s"${row.getLong(0)} rows kept - results are a " +
          "distribution-shape diagnostic, not a full census")
  }

  /**
   * Persist a table BUCKETED (and per-bucket sorted) by `key` — the 100 TB
   * co-location technique: every later equi-join or aggregation on `key`
   * between same-bucketed tables reads co-located buckets and plans NO
   * shuffle at all (Spark's bucketing metadata lives in the session catalog,
   * so this writes through `saveAsTable`). Pay one shuffle at WRITE time,
   * never again across the pipeline reruns that dominate a curation
   * workload — the q43 corpus-shuffle output and the q30 content-hash dedup
   * input are the natural candidates. BucketingSpec proves the no-Exchange
   * plan and result-equality against the unbucketed join.
   */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int): Unit =
    writeBucketed(df, table, Seq(key), numBuckets)

  /** Drop `table` AND its managed location if a stale directory survives
   * from a previous session — with the in-memory catalog a new JVM forgets
   * the table but the warehouse dir remains, and `saveAsTable` then fails
   * with LOCATION_ALREADY_EXISTS even in overwrite mode. Every artifact
   * writer below goes through this so a daily re-index never trips over
   * yesterday's JVM. */
  private[operators] def dropWithLocation(spark: org.apache.spark.sql.SparkSession,
                                          table: String): Unit = {
    // single-part names only: the backticked DROP/RENAME below and the
    // single-part TableIdentifier would silently mistreat "db.tbl" as one
    // odd identifier in the CURRENT database (dropping nothing, deleting an
    // unrelated default-DB path) — refuse loudly instead
    require(!table.contains("."),
      s"artifact tables use single-part names in the session's current " +
        s"database (got '$table'); run USE <db> first")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val path = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Multi-key variant: bucket (and sort) by ALL of `keys` — required when
   * later joins use a compound key, because co-partitioned joins only skip
   * the shuffle when the bucket columns cover EVERY join key
   * (`spark.sql.requireAllClusterKeysForCoPartition`, default true; a
   * subset-bucketed table would shuffle anyway).
   *
   * STAGED SWAP: a daily artifact rebuild races its consumers, and a killed
   * rebuild must not leave a half-written table where yesterday's good one
   * stood. The data lands under a `__staging` name first (the long,
   * killable part — the prior artifact stays intact and readable
   * throughout), then swaps in via two catalog operations; the vulnerable
   * window shrinks from the whole write to the metadata swap, and a crash
   * mid-write leaves only a staging table the next rebuild's
   * [[dropWithLocation]] reclaims. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int): Unit = {
    writeBucketedStaged(df, table, keys, numBuckets)
    swapStaged(df.sparkSession, table)
  }

  /** Stage HALF of the swap: land the bucketed data under `<table>__staging`
   * and return WITHOUT swapping. For MULTI-table artifacts (postings +
   * norms, pairs + components) whose tables must change together: stage
   * every member first — the long, killable writes — then [[swapStaged]]
   * each in quick succession, shrinking the mixed-versions window from the
   * longest member write to a few catalog operations. (A reader landing
   * exactly between two swaps can still see one new + one stale member —
   * the residual race a catalog without multi-table transactions cannot
   * close; schedule rebuilds off-peak or version the table NAME if that
   * window matters.) */
  def writeBucketedStaged(df: DataFrame, table: String, keys: Seq[String],
                          numBuckets: Int): Unit = {
    dropWithLocation(df.sparkSession, s"${table}__staging")
    df.write.format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite").saveAsTable(s"${table}__staging")
  }

  /** Swap a staged table into place: drop the served version (and any stale
   * location) and rename `<table>__staging` over it. */
  def swapStaged(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    dropWithLocation(spark, table)
    spark.sql(s"ALTER TABLE `${table}__staging` RENAME TO `$table`")
  }

  /**
   * NEAR-dup-leakage-safe split assignment: the unit of train/val/test
   * assignment is the connected COMPONENT of the verified near-dup pair
   * graph, not the document. The content-hash split rule (q101) makes
   * exact-duplicate leakage structurally impossible; this closes the
   * remaining hole — a paraphrase or near-duplicate of an eval document
   * sitting in train scores as memorization, not generalization. Every
   * cluster member (and every singleton) hashes its CLUSTER REPRESENTATIVE
   * (the component's min id) through the deterministic `hash60` draw, so
   * near-dup twins land on the same side by construction.
   *
   * `ids` is the full corpus id column; `pairs` is the verified near-dup
   * edge set (columns `a`, `b` — the q32/q41 LSH + exact-verify output).
   * Output: (id, cluster, split) with split ∈ train/val/test by
   * `trainPct`/`valPct` buckets of hash60(salt:cluster) % 100.
   *
   * 100 TB shape: the pair graph is LSH-bounded and its component table is
   * dwarfed by the corpus (only docs WITH a near-dup appear), so the
   * assignment is one left equi-join of the corpus against that small table
   * plus a narrow hash projection — no new corpus-sized shuffle beyond the
   * join, and the join's small side is broadcast-eligible.
   */
  def leakageSafeSplit(ids: DataFrame, idCol: Column, pairs: DataFrame,
                       salt: String, trainPct: Int, valPct: Int): DataFrame =
    // componentsStar, not components: a >50-doc chain of serially-edited
    // near-dups (a real corpus shape) exceeds min-label propagation's
    // diameter bound and would abort the whole split job; star contraction
    // converges in O(log n) rounds with the identical (id, component=min)
    // output contract
    leakageSafeSplitFromComponents(ids, idCol, Dedup.componentsStar(pairs),
      salt, trainPct, valPct)

  /** [[leakageSafeSplit]] served from a precomputed `(id, component)` table —
   * the [[Dedup.writePairGraphIndex]] artifact path: the LSH → verify →
   * components pipeline runs once at index time, and every split assignment
   * afterwards is ONE broadcast-eligible left join of the corpus against the
   * (small — only docs with a near-dup appear) component table plus a narrow
   * hash projection, with zero corpus-side exchange. Identical output
   * contract to [[leakageSafeSplit]] (proven in PairGraphIndexSpec). */
  def leakageSafeSplitFromComponents(ids: DataFrame, idCol: Column,
                                     components: DataFrame, salt: String,
                                     trainPct: Int, valPct: Int): DataFrame = {
    val comp = components.select(col("id").as("cid"), col("component"))
    val bucket = graft.functions.TextFunctions
      .hash60(concat(lit(s"$salt:"), col("cluster").cast("string"))) % 100
    ids.select(idCol.as("id"))
      .join(comp, col("id") === col("cid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /**
   * RAG-style overlapping token chunker: `chunkTokens`-token windows at
   * `stride` tokens (overlap = chunkTokens − stride), tail kept — the
   * retrieval-corpus prep step between cleaning and embedding. Output one
   * row per chunk: (id, chunk_idx, chunk_start, chunk_end [exclusive],
   * chunk_tokens, chunk_text). Start < n guarantees every chunk contributes
   * ≥ 1 new token, so no chunk is a suffix-duplicate of its predecessor.
   * ONE narrow Generate per document, zero shuffles — scan-speed at any
   * corpus size and trivially partition-parallel (chunks never cross
   * documents).
   */
  def chunkOverlap(docs: DataFrame, idCol: Column, textCol: Column,
                   chunkTokens: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= chunkTokens,
      "stride must be in [1, chunkTokens]")
    docs.select(idCol.as("id"), graft.functions.TextFunctions.tokens(textCol).as("ws"))
      .select(col("id"), size(col("ws")).as("n"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $stride)")).as("st"))
      .select(col("id"),
        expr(s"st div $stride").as("chunk_idx"),
        col("st").as("chunk_start"),
        least(col("st") + chunkTokens, col("n")).as("chunk_end"),
        (least(col("st") + chunkTokens, col("n")) - col("st")).as("chunk_tokens"),
        array_join(slice(col("ws"), col("st") + 1,
          least(lit(chunkTokens), col("n") - col("st"))), " ").as("chunk_text"))
  }

  /**
   * Corpus-common-line removal with TEXT RECONSTRUCTION — the C4 cleaning
   * rule (Raffel et al. 2020 §2.2: drop any line occurring ≥ `minOcc` times
   * in the corpus), generalized to a pluggable unit: documents split into
   * aligned `unitTokens`-token units (the unit splitter is the corpus-format
   * knob — newline-delimited corpora would split on lines instead), every
   * unit whose digest reaches `minOcc` corpus-wide occurrences is cut from
   * EVERY document, and survivors re-join in original order. Output:
   * (id, n_tokens, n_kept, clean_text) — fully-cleaned documents stay with
   * clean_text = "" so row count is corpus-stable.
   *
   * 100 TB shapes: unit digesting is one narrow Generate; the census is a
   * map-side-combinable `groupBy(dg).count()` (a boilerplate unit collapses
   * per map partition before the exchange — the q115 skew posture); removal
   * is a digest anti-join (AQE splits a hot probe side); reconstruction is
   * one per-doc aggregation over the bounded unit list. No all-pairs work.
   */
  def lineDedup(docs: DataFrame, idCol: Column, textCol: Column,
                unitTokens: Int, minOcc: Long): DataFrame = {
    val units = unitDigests(docs, idCol, textCol, unitTokens)
    val hot = units.groupBy(col("dg")).agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOcc).select(col("dg"))
    val rebuilt = units.join(hot, Seq("dg"), "left_anti")
      .groupBy(col("id"))
      .agg(sum(size(col("toks"))).cast("long").as("n_kept_raw"),
        array_join(flatten(transform(
          sort_array(collect_list(struct(col("st"), col("toks")))),
          x => x.getField("toks"))), " ").as("clean_raw"))
    docs.select(idCol.as("id"),
        size(graft.functions.TextFunctions.tokens(textCol)).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept_raw"), lit(0L)).as("n_kept"),
        coalesce(col("clean_raw"), lit("")).as("clean_text"))
  }

  /** One row per `unitTokens`-token unit of each document: (id, st, toks,
   * dg = md5 of the joined unit) — the shared front half of the line-dedup
   * family. Narrow (tokenize + one Generate), zero shuffles. */
  private def unitDigests(docs: DataFrame, idCol: Column, textCol: Column,
                          unitTokens: Int): DataFrame =
    docs
      .select(idCol.as("id"), graft.functions.TextFunctions.tokens(textCol).as("ws"))
      .select(col("id"), size(col("ws")).as("n"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $unitTokens)")).as("st"))
      .select(col("id"), col("st"),
        slice(col("ws"), col("st") + 1,
          least(lit(unitTokens), col("n") - col("st"))).as("toks"))
      .withColumn("dg", md5(array_join(col("toks"), " ")))

  /** The corpus-common-unit CENSUS behind [[lineDedup]], exposed as its own
   * artifact: the md5 digest of every `unitTokens`-token unit occurring at
   * least `minOcc` times across the corpus. ONE map-side-combinable digest
   * aggregate; persist the result once and serve both the batch rebuild and
   * the streaming twin
   * ([[graft.streaming.StreamingExtraction.streamingLineDedup]]) from it —
   * the daily-crawl posture where boilerplate is a property of the existing
   * corpus, not of each increment. */
  def hotUnits(docs: DataFrame, idCol: Column, textCol: Column,
               unitTokens: Int, minOcc: Long): DataFrame =
    unitDigests(docs, idCol, textCol, unitTokens)
      .groupBy(col("dg")).agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOcc).select(col("dg"))

  /**
   * k-anonymity / l-diversity audit — the privacy gate before a dataset
   * release (Sweeney 2002; Machanavajjhala et al. 2007): group the corpus by
   * its quasi-identifier columns and flag every equivalence class that is
   * re-identifiable (fewer than `k` members) or attribute-disclosing (fewer
   * than `l` distinct values of the sensitive column). Returns one row per
   * FAILING class: the QI values, `n` members, `n_sensitive` distinct
   * sensitive values, and the two failure flags.
   *
   * Scale posture: ONE map-side-combinable groupBy on the QI key —
   * count + countDistinct(sensitive) both partial-aggregate, so a 100 TB
   * event log reduces to |QI classes| rows before the exchange; no window,
   * no self-join. (The remediation pass — suppress or generalize the failing
   * classes — is a broadcast semi-join of this output against the corpus.)
   */
  def kAnonymityAudit(df: DataFrame, qi: Seq[Column], sensitive: Column,
                      k: Long, l: Long): DataFrame =
    df.groupBy(qi: _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("fail_k", col("n") < k)
      .withColumn("fail_l", col("n_sensitive") < l)
      .where(col("fail_k") || col("fail_l"))

  /**
   * The REMEDIATION pass [[kAnonymityAudit]] gates: suppress every row whose
   * quasi-identifier class fails k-anonymity or l-diversity, releasing only
   * rows from passing classes — cell suppression, the conservative
   * remediation (generalization — coarser QI buckets — is the caller's
   * re-bucket-and-rerun loop). `qiNames` are the QI column NAMES on `df`
   * (the audit's grouping columns), so the release is ONE left-anti hash
   * equi-join of the log against the (small — failing classes only,
   * broadcast-eligible) audit output: the audit's census aggregate is the
   * only corpus-size shuffle, and no sensitive value ever rides the audit
   * table. Returns the releasable subset of `df` with all its columns.
   *
   * NULL QI values form their own class (groupBy treats NULL as a key), so
   * the anti-join MUST match them: each QI column joins null-safely (`<=>`)
   * — plain equality would let every row of a failing NULL-keyed class slip
   * through the suppression gate. Still a hash equi-join (EqualNullSafe is
   * an equi-key), so the broadcast plan shape is unchanged.
   */
  def kAnonymitySuppress(df: DataFrame, qiNames: Seq[String], sensitive: Column,
                         k: Long, l: Long): DataFrame = {
    val failing = broadcast(
      kAnonymityAudit(df, qiNames.map(col), sensitive, k, l)
        .select(qiNames.map(n => col(n).as(s"__fail_$n")): _*))
    val cond = qiNames.map(n => df(n) <=> failing(s"__fail_$n")).reduce(_ && _)
    df.join(failing, cond, "left_anti")
  }

  /**
   * Per-group CDF (quantile) normalization of an integer-valued score
   * column — the cross-source calibration step before mixture sampling: a
   * raw quality score means different things in a clean source and a
   * boilerplate source; its within-source percentile is comparable. Appends
   * `cdf_ppm = 1e6 · |group rows with value ≤ v| div |group rows|` (integer
   * bits in any engine) to every input row.
   *
   * Scale posture: never a percent_rank window over the corpus — the
   * per-group VALUE CENSUS (`groupBy(group, value)`, map-side-combinable)
   * is bounded by the score's fixed-point resolution, the cumulative window
   * runs over census rows only, the |groups|-row totals broadcast, and rows
   * get their percentile back via one (group, value) equi-join.
   *
   * NULL contract: rows with a NULL group or value are EXCLUDED — from the
   * census, the denominators, and the output (a percentile among nulls has
   * no meaning, and engines disagree on null window ordering). Callers with
   * nullable scores filter or impute first.
   */
  def quantileNormalize(df: DataFrame, group: String, value: String): DataFrame = {
    val clean = df.where(col(group).isNotNull && col(value).isNotNull)
    val census = clean.groupBy(col(group), col(value)).agg(count(lit(1)).as("cnt"))
    val totals = census.groupBy(col(group)).agg(sum(col("cnt")).as("n_rows"))
    val cumW = Window.partitionBy(col(group)).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = census
      .withColumn("cum_le", sum(col("cnt")).over(cumW))
      .join(broadcast(totals), group)
      .select(col(group), col(value),
        expr("(1000000 * cum_le) div n_rows").as("cdf_ppm"))
    clean.join(cdf, Seq(group, value))
  }

  /**
   * Per-group WINSORIZATION in exact fixed point — the robust-statistics
   * cleaning pass before aggregate features (a fat-finger 10⁶ value must not
   * dominate a mean): each row's value clips to its group's empirical
   * [p`loPct`, p`hiPct`]. Same census discipline as [[quantileNormalize]]:
   * cutoffs come from the BOUNDED per-(group, value) census CDF — the
   * quantile is the smallest value whose cumulative count reaches the rank
   * ⌈q·n⌉ (positive-operand ceiling `(q·n + 99) div 100` only: Spark's div
   * truncates toward zero while DuckDB's // floors, so negative-operand
   * ceiling tricks diverge) — then broadcast back and applied as a narrow
   * clamp. Never a corpus-sized percentile window: the only full-size
   * shuffle is the map-side-combinable census groupBy; the window runs over
   * census rows (|distinct values| per group). Emits the input columns plus
   * `p_lo_fp`, `p_hi_fp`, `clipped_fp`, `was_clipped`. Value column must
   * already be integer fixed point (the q88 2-decimal convention).
   */
  def winsorize(df: DataFrame, group: String, vfp: String,
                loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      "need 0 <= loPct < hiPct <= 100")
    val census = df.groupBy(col(group), col(vfp)).agg(count(lit(1)).as("cnt"))
    val cumW = Window.partitionBy(col(group)).orderBy(col(vfp))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = census.withColumn("cum", sum(col("cnt")).over(cumW))
      .join(broadcast(census.groupBy(col(group)).agg(sum(col("cnt")).as("n"))),
        group)
    val cuts = cdf
      .withColumn("lo_ok", col("cum") >= expr(s"($loPct * n + 99) div 100"))
      .withColumn("hi_ok", col("cum") >= expr(s"($hiPct * n + 99) div 100"))
      .groupBy(col(group))
      .agg(min(when(col("lo_ok"), col(vfp))).as("p_lo_fp"),
        min(when(col("hi_ok"), col(vfp))).as("p_hi_fp"))
    df.join(broadcast(cuts), group)
      .withColumn("clipped_fp",
        greatest(col("p_lo_fp"), least(col("p_hi_fp"), col(vfp))))
      .withColumn("was_clipped",
        col(vfp) < col("p_lo_fp") || col(vfp) > col("p_hi_fp"))
  }

  /**
   * Vocabulary coverage report — the tokenizer-design question "what share
   * of the corpus token mass do the top-k vocabulary entries cover?" (the
   * curve that sets BPE vocab size and flags boilerplate-dominated corpora).
   * Input: one row per token OCCURRENCE (`term`); `ks` are the report
   * points. Output: one row per k — (k, top_k_tokens, total_tokens,
   * coverage_ppm, vocab_size), coverage in ×1e6 fixed point (integer `div`,
   * engine-exact).
   *
   * Scale posture: the census is one map-side-combinable `groupBy(term)` —
   * the only corpus-size shuffle (a hot token collapses per map partition);
   * the top-max(ks) cut is a TakeOrderedAndProject (per-partition bounded
   * heaps, never a global sort); the cumulative window then runs over
   * ≤ max(ks) rows — single-partition by construction but BOUNDED by the
   * limit, not corpus-sized. The 1-row totals summary broadcasts. Ties rank
   * deterministically by (count desc, term).
   */
  def vocabCoverage(toks: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be positive")
    val census = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = census.agg(sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val top = census.orderBy(col("cnt").desc, col("term")).limit(ks.max)
    val ord = Window.orderBy(col("cnt").desc, col("term"))
    top
      .select(row_number().over(ord).as("k"),
        sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("top_k_tokens"))
      .where(col("k").isin(ks: _*))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("top_k_tokens"), col("total_tokens"),
        expr("(1000000 * top_k_tokens) div total_tokens").as("coverage_ppm"),
        col("vocab_size"))
  }

  /**
   * Character-level diversity / repetition statistics — the boilerplate
   * detectors below the word level (encoding glitches, ASCII-art, run-on
   * separators, base64 blobs), complementing the word-level signals of
   * q62/[[hotUnits]]. Per document:
   *
   *   - `n_chars`, `n_distinct_chars`
   *   - `collision_ppm` — Σ cnt(c)² / len² in ×1e6 fixed point: the
   *     probability two random positions hold the same character (Simpson
   *     concentration). High = repetitive/low-diversity text.
   *   - `eff_alpha_fp` — len²/Σ cnt(c)² in ×1e3 fixed point: the inverse
   *     Simpson index = 2^H₂, the EFFECTIVE ALPHABET SIZE under Rényi-2
   *     entropy. An entropy quality gate with no libm in sight: every step
   *     is 64-bit integer arithmetic, so the score is engine-independent
   *     bits (the q71/BM25 scaled-integer idiom — `log`/`log2` are NOT
   *     correctly-rounded across libms and never appear in this codebase).
   *   - `max_run` — longest run of one repeated character (the classic
   *     '-----'/whitespace-padding detector).
   *   - `ws_ppm` — whitespace density, ×1e6 fixed point (ASCII
   *     space/tab/LF/CR — the padding characters a boilerplate gate
   *     targets; unicode spaces count as regular chars by contract).
   *
   * Every stat is a SCALAR per row — zero shuffles, zero joins; at 100 TB
   * this runs at scan speed like q26-q29. All five raw statistics come
   * from ONE compiled pass over the string's code points
   * ([[graft.plans.CharStatsExpr]] — 128-slot ASCII count table,
   * primitives only); a session without GraftExtensions fails at analysis
   * naming `char_stats`. CorpusOpsSpec pins the kernel to an interpreted
   * HOF twin kept in test code.
   *
   * Overflow domain (exact): len ≤ 1e6 chars — 1e6·len² ≤ 1e18 < 2^63.
   * Pre-chunk pathological documents above that (the same contract as
   * [[graft.queries.PipelineQueries]]'s BM25 dl bound). Empty/NULL text
   * emits len 0 with NULL ratio fields (integer `div` by zero).
   */
  def charDiversity(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val base = docs.select(idCol.as("id"), coalesce(textCol, lit("")).as("t"))
    nativeCharStats(base)
      .select(
        col("id"),
        col("len").as("n_chars"),
        col("nd").as("n_distinct_chars"),
        // the len > 0 guard keeps ANSI mode from throwing on empty docs
        // (the CaseWhen only evaluates the div on the guarded branch)
        when(col("len") > 0,
          expr("(1000000 * s2) div (len * len)")).as("collision_ppm"),
        when(col("len") > 0,
          expr("(1000 * len * len) div s2")).as("eff_alpha_fp"),
        col("max_run"),
        when(col("len") > 0,
          expr("(1000000 * nsp) div len")).as("ws_ppm"))
  }

  /** `(id, t)` → `(id, len, nd, s2, max_run, nsp)` via the codegen'd
   * one-pass [[graft.plans.CharStatsExpr]] kernel. */
  private[operators] def nativeCharStats(base: DataFrame): DataFrame =
    base
      .select(col("id"), call_function("char_stats", col("t")).as("st"))
      .select(col("id"),
        col("st.len").as("len"), col("st.nd").as("nd"), col("st.s2").as("s2"),
        col("st.max_run").as("max_run"), col("st.nsp").as("nsp"))
}
