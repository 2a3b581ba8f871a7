package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.SparkEntry

/** The scale claims PLANS.md records, as executable assertions: a regression
 * that reintroduces a nested-loop join or a window where a bounded-heap
 * aggregate belongs fails HERE, not in a 100 TB incident. Plans are built at
 * sf0.001 — plan SHAPE is what matters, not the data volume. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // The physical plan as its printed tree. NOTE: under AQE (on by default)
  // `executedPlan` is an AdaptiveSparkPlanExec, which is a LEAF node — a
  // `children`-walk sees exactly one node and every assertion over it is
  // vacuous. The printed tree always contains the full initial plan, so the
  // string is the reliable surface to assert against.
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def assertNever(name: String, banned: String*): Unit = {
    val p = planOf(name)
    banned.foreach { bad =>
      assert(!p.contains(bad), s"$name must not plan a $bad")
    }
  }

  test("LSH-candidate paths never plan a nested-loop join") {
    // each of these claims 'candidates come from equi-joins, never all-pairs'
    Seq("q32_dedup_minhash_lsh", "q34_embed_neardup", "q51_fuzzy_pairs",
      "q36_ann_lsh").foreach(assertNever(_, "BroadcastNestedLoopJoin", "CartesianProduct"))
  }

  test("bounded-heap aggregates keep windows out of top-k and sketch paths") {
    // topk_by/mink_by/bottomk_distinct replace Exchange+Sort+Window
    Seq("q35_knn_cosine", "q54_kmv_distinct", "q57_sample_bounded",
      "q63_inverted_index").foreach(assertNever(_, "Window"))
  }

  test("composed temporal joins never plan a join on the time inequality") {
    // the as-of formulations are union+window — no join operator at all
    Seq("q52_asof_join", "q69_asof_forward").foreach(
      assertNever(_, "BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"))
  }

  test("scalar pipelines stay shuffle-free up to their final sort") {
    // q62/q64/q147 are scan-speed claims: nothing but scan, project, and the
    // ORDER BY exchange may appear — in particular no aggregate, no join
    Seq("q62_repetition", "q64_quantize_embed", "q147_char_diversity").foreach(
      assertNever(_, "Join", "HashAggregate", "Window"))
  }

  test("label-QA plans: equi-join-only kappa, window-free join-free consolidation") {
    // q149's pair expansion is an equi-join on item (bounded annotators²
    // fanout) into a 10-row aggregate; q150 is two chained aggregates on
    // one item partitioning with a max(struct) argmax — never a window,
    // never a join
    assertNever("q149_annotator_agreement",
      "Window", "CartesianProduct", "BroadcastNestedLoopJoin")
    assertNever("q150_label_consolidation", "Window", "Join")
    // q151's only joins combine 1-row/≤k-row broadcast summaries (the
    // bm25 pattern); q152's share join broadcasts per-annotator totals
    assertNever("q151_fleiss_kappa", "Window", "SortMergeJoin")
    assertNever("q152_annotator_confusion",
      "Window", "SortMergeJoin", "CartesianProduct")
    assertNever("q153_krippendorff_alpha", "Window", "SortMergeJoin")
  }

  test("q03 pushes its filter and projection into the parquet scan") {
    // the claim its scaladoc makes: predicate AND column pruning both reach
    // the scan (PushedFilters non-empty, ReadSchema narrowed to the 4
    // referenced columns) — the difference between scanning 4 columns of
    // the selective slice and scanning 16 columns of everything at 100 TB
    val p = planOf("q03_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "q03 must push its predicates to the scan")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(Seq("l_quantity", "l_discount", "l_orderkey", "l_linenumber",
        "l_extendedprice").forall(read.contains) && !read.contains("l_comment"),
      s"q03 must prune the scan to the referenced columns: $read")
  }

  test("retrieval scorecards: run broadcast against the label scan, no window, no sort-merge") {
    // q154/q157's runs are Q×k localCheckpointed results broadcast into the
    // corpus-sized label scan — the corpus never shuffles; ranks come from
    // the bounded-heap top-k, never a window. (q154's scoring scan and
    // q157's exact side ARE knnBruteForce BNLJs by design — the q148 note —
    // so BNLJ is deliberately not banned here.)
    assertNever("q154_retrieval_metrics",
      "Window", "SortMergeJoin", "CartesianProduct")
    assertNever("q157_ann_scorecard",
      "Window", "SortMergeJoin", "CartesianProduct")
  }

  test("preference fits: win rates are one aggregate; BT rounds join only broadcast strengths") {
    // q155 is a single map-side-combinable aggregate to models² rows —
    // nothing joins, nothing windows; q158's census is one exchange and
    // every MM round joins the checkpointed census against BROADCAST
    // strength tables (models-sized by contract)
    assertNever("q155_pairwise_winrate", "Join", "Window")
    assert(exchanges("q155_pairwise_winrate") <= 2,
      "win rates must be one aggregation exchange plus the ORDER BY")
    assertNever("q158_bradley_terry",
      "Window", "SortMergeJoin", "CartesianProduct")
  }

  test("EM and distance-alpha plans: broadcast grids, equi-only corpus joins, no windows") {
    // q156: per-round census joins are equi on item; θ/π grids join
    // BROADCAST (annotators × classes² rows); the argmax is max(struct),
    // never a window. q159: the within-item pair expansion is a bounded
    // array lambda over each item's label census — NO corpus join of any
    // kind survives in the plan; the metric blocks read the cached bounded
    // summaries (pairMass/classMass/stats) through broadcast joins only.
    assertNever("q156_dawid_skene", "Window", "CartesianProduct")
    assertNever("q159_krippendorff_distance",
      "Window", "CartesianProduct", "SortMergeJoin")
  }

  test("ROUGE censuses locate on (id, gram) equi-keys — no window, no cross product") {
    // two narrow explodes → per-side (id, gram) censuses → clip by equi-join
    // → per-id rollups; nothing windows and nothing pairs docs with docs
    assertNever("q160_rouge_eval",
      "Window", "CartesianProduct", "BroadcastNestedLoopJoin")
    // q161 censuses ALL four gram orders in one tagged pass — same shape
    assertNever("q161_bleu_precisions",
      "Window", "CartesianProduct", "BroadcastNestedLoopJoin")
  }

  test("truncation audit: no window, no cartesian, no sort-merge past the checkpointed top-k") {
    // both top-k passes are the bounded-heap aggregate; every join past them
    // reads the localCheckpointed Q×k results (broadcast-sized by contract).
    // NOTE the scoring scans themselves ARE BroadcastNestedLoopJoins by
    // design (knnBruteForce's inequality-only broadcast predicate), so BNLJ
    // is deliberately NOT in the banned set here — the pin is about the
    // audit joins, which must stay hash/broadcast.
    assertNever("q148_truncation_recall",
      "Window", "CartesianProduct", "SortMergeJoin")
  }

  private def exchanges(name: String): Int =
    "Exchange".r.findAllIn(planOf(name)).length

  test("funnel stages chain over ONE user_id partitioning — no per-stage join") {
    // the three stage minima are windows over the same partitioning; a
    // regression back to stage-wise join+groupBy shows up as joins and a
    // pile of exchanges
    assertNever("q82_funnel_conversion", "SortMergeJoin", "BroadcastHashJoin")
    assert(exchanges("q82_funnel_conversion") <= 3,
      "funnel must reuse a single user_id exchange across stages")
  }

  test("PQ assignment is a narrow argmin — no join, one aggregation exchange") {
    // centroids are a driver-held literal model: nothing joins, nothing
    // explodes; only the final per-cell aggregate (and its ORDER BY) shuffle
    assertNever("q87_pq_assign", "Join", "Window", "Generate")
    assert(exchanges("q87_pq_assign") <= 2)
  }

  test("rolling anomaly windows are (type, bucket)-partitioned; census frames broadcast") {
    // the r17 chunked rewrite (Rolling.trailingStats): the corpus-sized
    // window partitions by (event_type, _b) — parallelism = types × buckets,
    // not types — and the bounds/density census frames come back ONLY by
    // broadcast; a sort-merge join or a nested loop would put a corpus
    // shuffle where a bounded broadcast belongs
    assertNever("q88_rolling_anomaly", "SortMergeJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    val p = planOf("q88_rolling_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      "the bounded census frames must join by broadcast")
    assert("windowspecdefinition\\(event_type[^,]*, _b".r.findFirstIn(p).nonEmpty,
      s"the rolling window must partition by (event_type, _b):\n$p")
  }

  test("banded/postings/PIT joins always locate on an equi-key") {
    // phash bands, containment postings, and the point-in-time interval
    // locate are equi-joins with range/verify predicates as filters — a
    // regression to a pure-inequality join plans a nested loop and fails here
    Seq("q90_image_phash_neardup", "q92_containment_dedup", "q91_pit_feature_join")
      .foreach(assertNever(_, "BroadcastNestedLoopJoin", "CartesianProduct"))
  }

  test("contamination report probes the gram set — never a corpus self-join") {
    // the corpus side touches only broadcast joins (bench ids anti, bench
    // grams left) + its own census; a SortMergeJoin would mean the gram
    // probe shuffled the corpus against itself
    assertNever("q146_contamination_report",
      "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
  }

  test("BPE apply is one narrow codegen'd projection — nothing shuffles") {
    // the learned merges are driver-held literals; tokenizing the corpus
    // must plan as scan → project, full stop (the 100 TB tokenize claim)
    import org.apache.spark.sql.functions.col
    val p = graft.operators.Bpe.tokenize(
        Tables.documents(spark, sf), Seq(("e", "s"), ("es", "t")))
      .queryExecution.executedPlan.toString
    Seq("Exchange", "Join", "HashAggregate", "Window", "Generate").foreach { bad =>
      assert(!p.contains(bad), s"tokenize must not plan a $bad")
    }
    assert(p.contains("Scan parquet") || p.contains("FileScan"),
      "plan string must contain the real scan (anti-vacuousness check)")
  }

  test("next-fit packing shuffles exactly once — the worker hash") {
    import org.apache.spark.sql.functions.{col, size, split}
    val p = graft.operators.CorpusOps.packNextFit(
        Tables.documents(spark, sf), col("doc_id"),
        size(split(col("text"), " ")).cast("long"), 512, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"))
    assert("Exchange".r.findAllIn(p).length == 1,
      "one hash exchange on worker, then the streaming per-partition fold")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "the fold must appear in the plan (anti-vacuousness check)")
  }

  test("token-budget mixing shuffles on source once (plus the output sort)") {
    assertNever("q96_token_budget_mix", "Join")
    assert(exchanges("q96_token_budget_mix") <= 2,
      "one source hash exchange for the window, one range exchange for the ORDER BY")
  }

  test("incremental near-dup locates on the band equi-key") {
    assertNever("q97_incremental_neardup",
      "BroadcastNestedLoopJoin", "CartesianProduct")
  }

  test("IVF-PQ ADC search: broadcast probe equi-join, bounded-heap top-k, no window") {
    // the index side carries (cell, code1, code2) only; probes broadcast;
    // scoring is two array lookups; top-k is the topk_by aggregate — a
    // regression to a nested-loop scan or a rank window fails here
    assertNever("q98_ivfpq_adc",
      "BroadcastNestedLoopJoin", "CartesianProduct", "Window", "SortMergeJoin")
    val p = planOf("q98_ivfpq_adc")
    assert(p.contains("BroadcastHashJoin"),
      "the probe join must broadcast the query side (anti-vacuousness check)")
  }

  test("IVF-PQ served from the persisted table: partition-pruned scan, no corpus-side exchange") {
    // q162 reads the catalog artifact: the probed GROUPS must land as
    // PartitionFilters on the index scan (directory pruning under the
    // grouped layout — r16 small-files fix) with the probed CELLS pushed
    // to the parquet reader (row-group pruning on the sorted data column),
    // the probe join must broadcast the query side, and nothing above the
    // scan may exchange the corpus before the bounded-heap top-k collapse
    assertNever("q162_ivfpq_from_index",
      "BroadcastNestedLoopJoin", "CartesianProduct", "Window", "SortMergeJoin")
    val p = planOf("q162_ivfpq_from_index")
    assert(p.contains("BroadcastHashJoin"),
      "the probe join must broadcast the query side")
    assert(p.contains("q162_idx"), "the scan must read the persisted table")
    assert("PartitionFilters: \\[[^\\]]*cell_group".r.findFirstIn(p).nonEmpty,
      "probed groups must prune partitions at the index scan")
    assert("PushedFilters: \\[[^\\]]*[Ii]n\\(cell".r.findFirstIn(p).nonEmpty,
      "probed cells must push to the parquet reader for row-group pruning")
  }

  test("sequence packing: corpus windows are bucket-partitioned, bucket offsets broadcast") {
    // the q164 scale claim: the ONLY unpartitioned window runs over the
    // bounded bucket-summary aggregate; every corpus-row window is
    // partitioned by bucket (parallel), and bucket offsets reach the corpus
    // side by broadcast — never a sort-merge join or cartesian
    for (q <- Seq("q164_sequence_packing", "q165_packing_report")) {
      assertNever(q, "SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin")
      val p = planOf(q)
      // the PARTITIONED signature explicitly — partition column `bucket`
      // followed by the `doc_id` order column inside one spec. A bare
      // "windowspecdefinition(bucket" also matches the orderBy-only
      // bucket-summary window, which made the old check vacuous (ADVICE
      // r13): it would pass even with a global single-partition corpus
      // window.
      assert("windowspecdefinition\\(bucket#\\d+L?, doc_id#\\d+".r
          .findFirstIn(p).nonEmpty,
        s"$q: the corpus-side prefix sum must be a window PARTITIONED by " +
          "bucket and ORDERED by doc_id")
      // and the corpus-row window must never appear orderBy-only: an
      // unpartitioned `over (order by doc_id)` is the naive global prefix
      // sum — correct, and dead at scale (it is the ORACLE's formulation)
      assert(!p.contains("windowspecdefinition(doc_id"),
        s"$q: found an unpartitioned doc_id-ordered window — the " +
          "single-partition corpus prefix sum the two-level construction exists to avoid")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: bucket offsets must join by broadcast")
    }
  }

  test("domain mixture: one bounded census, broadcast combines, no window") {
    // q166 collapses documents to a #sources-row census; the grid lookup is
    // plan literals and the two 1-row combines are deliberate broadcast
    // crosses (the bm25 pattern) — windows and sort-merge joins are banned
    for (q <- Seq("q166_domain_mixture", "q167_domain_mixture_fine")) {
      assertNever(q, "Window", "SortMergeJoin")
      val p = planOf(q)
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$q: the source census aggregate must appear (anti-vacuousness check)")
    }
  }

  test("corpus generation scorecard: per-order census sums + one broadcast combine, no window") {
    // q163 pools the q161-shaped censuses to ≤4-row per-order sums; the
    // only non-equi combine is the deliberate 1-row broadcast cross (the
    // bm25 summary pattern), so ban windows and sort-merge joins
    assertNever("q163_corpus_generation_eval", "Window", "SortMergeJoin",
      "CartesianProduct")
  }

  test("changelog compaction folds map-side — no window over the log") {
    // latest-wins is ONE max(struct) aggregation: a hot key's history
    // partially aggregates inside each task before the key exchange
    assertNever("q99_changelog_compact", "Window", "Join")
    val p = planOf("q99_changelog_compact")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "the argmax aggregate must appear in the plan (anti-vacuousness check)")
    assert(exchanges("q99_changelog_compact") <= 2,
      "one key exchange for the aggregate, one range exchange for the ORDER BY")
  }

  test("semantic-dedup candidates locate on the cell equi-key") {
    // SemDeDup's pair stage must be an equi-join on the IVF cell — a
    // regression to a global all-pairs join plans a nested loop and fails
    // here (the q32/q34 discipline for the embedding-cluster path)
    import org.apache.spark.sql.functions.col
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("vec"))
    val cents = graft.operators.Ivf.selectCentroids(corpus, col("id") % 64 === 0)
    val p = graft.operators.Similarity.semanticPairs(corpus, cents, 0.3)
      .queryExecution.executedPlan.toString
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach { bad =>
      assert(!p.contains(bad), s"semanticPairs must not plan a $bad")
    }
    assert(p.contains("Join"),
      "the cell equi-join must appear in the plan (anti-vacuousness check)")
  }

  test("split assignment is one narrow map + aggregation — no join, no window") {
    assertNever("q101_split_assign", "Join", "Window")
    assert(exchanges("q101_split_assign") <= 3,
      "two aggregate exchanges (countDistinct expand) plus the output sort")
  }

  test("PMI collocations broadcast the vocab-bounded unigram table; top-20 is a TakeOrdered") {
    assertNever("q102_pmi_collocations", "CartesianProduct", "SortMergeJoin")
    val p = planOf("q102_pmi_collocations")
    assert(p.contains("BroadcastHashJoin"),
      "unigram-count joins must broadcast (anti-vacuousness check)")
    assert(p.contains("TakeOrdered"),
      "the global top-20 must plan as TakeOrdered, never a full sort")
  }

  test("priority sampling is scan → project → TakeOrdered — nothing else") {
    assertNever("q103_priority_sample", "Join", "Window", "HashAggregate")
    val p = planOf("q103_priority_sample")
    assert(p.contains("TakeOrdered"),
      "global top-64 must plan as TakeOrdered, never a full sort")
  }

  test("token windowing is one narrow Generate — no shuffle before the output sort") {
    assertNever("q104_token_windows", "Join", "Window", "HashAggregate")
    val p = planOf("q104_token_windows")
    assert(p.contains("Generate"),
      "the per-doc window explode must appear in the plan (anti-vacuousness check)")
    assert(exchanges("q104_token_windows") <= 1,
      "only the output ORDER BY may exchange")
  }

  test("RRF windows rank only bounded top-k candidate sets") {
    // both retriever rankings run AFTER a limit — the single-partition
    // window is bounded by k, so a Window under an unlimited input would
    // show as a plan with no preceding GlobalLimit
    val p = planOf("q89_rrf_fusion")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("GlobalLimit") || p.contains("TakeOrdered"),
      "rankings must be cut to top-k before the rank window")
  }

  test("DSIR scoring broadcasts the bounded ratio table; top-k is a TakeOrdered") {
    // the feature space is 4096 buckets by construction, so the ratio table
    // must BROADCAST — a sort-merge join here would shuffle the whole
    // per-(doc,bucket) count table on the bucket key for nothing
    assertNever("q105_dsir_weights",
      "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "Window")
    val p = planOf("q105_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the ratio join must broadcast (anti-vacuousness check)")
    assert(p.contains("TakeOrdered"), "top-64 must be a TakeOrdered, not a global sort")
  }

  test("paragraph dedup is census + digest equi-join + per-doc agg — no window") {
    // the digest census is an aggregate (map-side combinable), NOT a
    // count-over-digest window (which would sort every chunk row); charging
    // occurrence back to docs is an equi-join on the digest
    assertNever("q106_paragraph_dedup",
      "Window", "BroadcastNestedLoopJoin", "CartesianProduct")
    val p = planOf("q106_paragraph_dedup")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "the census must be an aggregate (anti-vacuousness check)")
  }

  test("centroid classification is a narrow argmin over prototype literals — no join") {
    // prototypes are collected (bounded: labels × dims rows) and inlined as
    // literals, so the classification plan is scan → argmin → one agg
    assertNever("q108_centroid_classify", "Join", "CartesianProduct", "Window")
    assert(exchanges("q108_centroid_classify") <= 2,
      "one hash exchange for the confusion agg, one range for the sort")
  }

  test("source overlap keeps per-digest state bounded by the source set") {
    // the per-digest aggregate collects the distinct SOURCE set (small
    // constant), never doc lists; no self-join of the chunk table
    assertNever("q109_source_overlap",
      "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "Window")
    val p = planOf("q109_source_overlap")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"),
      "the per-digest source-set aggregate must appear (anti-vacuousness check)")
  }

  test("hard-negative mining broadcasts queries and keeps top-k in the bounded heap") {
    // brute-force scan shape: BNLJ against the broadcast query side is the
    // intended plan (q35's); a Window rank or shuffled join would regress it
    val p = planOf("q110_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "queries must broadcast against the corpus scan (anti-vacuousness check)")
    assert(!p.contains("Window"), "top-k must be the bounded-heap aggregate, not a rank window")
    assert(!p.contains("SortMergeJoin"))
  }

  test("corpus datasheet joins two broadcast-small group summaries") {
    // both inputs to the final join are (source, lang)-grouped — bounded by
    // the source×lang product, so the join must broadcast
    assertNever("q111_corpus_datasheet",
      "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "Window")
    val p = planOf("q111_corpus_datasheet")
    assert(p.contains("BroadcastHashJoin"),
      "the summary join must broadcast (anti-vacuousness check)")
  }

  test("minhash calibration ships signatures by id, never per candidate pair") {
    // signatures attach to the (bounded) verified pair set via id equi-joins
    // AFTER the postings join — a signature column riding through the
    // postings explosion would cross the exchange once per co-occurrence
    assertNever("q112_minhash_calibration",
      "BroadcastNestedLoopJoin", "CartesianProduct", "Window")
  }

  test("perceptron scoring joins the bounded weight vector broadcast") {
    // weights are ≤1024 rows by construction (the hashed feature space):
    // the score join must broadcast them against the per-(doc,bucket)
    // counts; training deltas are separate bounded-output collect jobs
    assertNever("q113_quality_perceptron",
      "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "Window")
    val p = planOf("q113_quality_perceptron")
    assert(p.contains("BroadcastHashJoin"),
      "the weight join must broadcast (anti-vacuousness check)")
  }

  test("iterative learners read a materialized feature table, never re-scan raw text") {
    // q113 reads its per-(doc,bucket) feature table 2× per training round
    // plus once for the confusion matrix; q107 scans its fixed-point lift
    // once per Lloyd round; q112 feeds shingles to three consumers; the
    // df-capped postings joins (q31/q92) read their shingle table four ways
    // (census + both pair-join sides + hot split). Each pins a
    // localCheckpoint, so the FINAL plan must read the materialized RDD and
    // contain NO parquet scan — a dropped checkpoint re-runs
    // tokenize→explode→agg from raw text up to ~17× and fails here
    Seq("q107_kmeans_lloyd", "q112_minhash_calibration",
      "q31_dedup_jaccard", "q92_containment_dedup")
      .foreach { name =>
        val p = planOf(name)
        assert(p.contains("Scan ExistingRDD"),
          s"$name must read the checkpointed feature table (anti-vacuousness check)")
        assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
          s"$name final plan must not re-scan raw parquet — feature pipeline " +
            "must be materialized once")
      }
    // q113 materializes via persist() instead (r18): the cached feature
    // table carries its doc_id co-partitioning into every training round
    // (localCheckpoint cannot — PLANS.md Round-18 §3), so the final plan must
    // read the InMemoryTableScan; the parquet scan text appearing INSIDE
    // the InMemoryRelation's displayed build plan executes once at cache
    // time, so only the scan-above-the-cache is asserted against.
    locally {
      val p = planOf("q113_quality_perceptron")
      assert(p.contains("InMemoryTableScan"),
        "q113 must read the persisted feature table (anti-vacuousness check)")
    }
  }

  test("k-means assignment is a narrow argmin over centroid literals — no join") {
    // centroids are driver-held literals (the q87 PQ-assign shape): the
    // final-round plan must contain no Join at all, and only the
    // (cluster, dim) aggregation plus the output sort may exchange
    assertNever("q107_kmeans_lloyd", "Join", "CartesianProduct", "Window")
    val p = planOf("q107_kmeans_lloyd")
    assert(p.contains("Generate"),
      "the per-dim posexplode must appear in the plan (anti-vacuousness check)")
    assert(exchanges("q107_kmeans_lloyd") <= 2,
      "one hash exchange for the (cluster, dim) agg, one range for the sort")
  }

  test("leakage-safe split assigns via one equi-join against the component table") {
    // the LSH/verify/components machinery materializes at construction
    // (checkpointed), so the FINAL plan must be: one corpus parquet scan,
    // one equi-join against the (small) component table, narrow hash
    // projection, output sort — never a cartesian/nested-loop, and never a
    // second pass over the corpus
    assertNever("q116_leakage_safe_split",
      "CartesianProduct", "BroadcastNestedLoopJoin", "Window")
    val p = planOf("q116_leakage_safe_split")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "exactly one corpus scan may appear in the assignment plan")
    assert(p.contains("Scan ExistingRDD"),
      "the component table must enter as the materialized checkpoint " +
        "(anti-vacuousness check)")
  }

  test("winnowing and chunking are scan-speed scalar folds — no shuffle before the sort") {
    // both claims: one narrow Generate per document, zero joins/aggregates/
    // windows; only the output ORDER BY may exchange
    Seq("q121_winnowing", "q122_chunk_overlap").foreach { q =>
      assertNever(q, "Join", "Window", "HashAggregate")
      val p = planOf(q)
      assert(p.contains("Generate"),
        s"$q: the per-doc explode must appear (anti-vacuousness check)")
      assert(exchanges(q) <= 1, s"$q: only the output ORDER BY may exchange")
    }
  }

  test("line dedup censuses by aggregate and removes by equi-anti-join — no window") {
    // the digest census must be the map-side-combinable aggregate (the q115
    // skew posture), never a count-over-digest window; unit removal is a
    // plain digest anti-join
    assertNever("q124_line_dedup",
      "Window", "BroadcastNestedLoopJoin", "CartesianProduct")
    val p = planOf("q124_line_dedup")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "the census must be an aggregate (anti-vacuousness check)")
    assert(p.contains("LeftAnti"), "removal must be an anti-join")
  }

  test("ANN recall joins bounded top-k tables per config — no cartesian anywhere") {
    // the exact side is q35's deliberate broadcast-nested-loop scan (bounded
    // by the broadcast query set); everything AFTER it joins two <= k-per-
    // query tables on (query, neighbor) — a cartesian would mean a config
    // join degenerated
    assertNever("q120_ann_recall", "CartesianProduct")
  }

  test("temperature mixing is one bounded aggregate — no join, no corpus window") {
    // the window total runs over the |sources|-row aggregate output, never
    // the corpus; the corpus contributes exactly one scan into one agg
    assertNever("q123_temperature_mix", "Join", "CartesianProduct")
    val p = planOf("q123_temperature_mix")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "exactly one corpus scan may appear")
  }

  test("JL projection is a scan-speed scalar map — no join/agg/window before the sort") {
    assertNever("q125_random_projection", "Join", "HashAggregate", "Window",
      "Generate")
    assert(exchanges("q125_random_projection") <= 1,
      "only the output ORDER BY may exchange")
  }

  test("tf-idf cosine generates candidates via the postings equi-join only") {
    // pair generation must be the term equi-join over the df-pruned postings
    // — never an all-pairs nested loop; the winner/norm lookups are plain
    // equi-joins; no window anywhere
    assertNever("q126_tfidf_cosine",
      "CartesianProduct", "BroadcastNestedLoopJoin", "Window")
    val p = planOf("q126_tfidf_cosine")
    assert(p.contains("Scan ExistingRDD"),
      "the pruned postings must enter as the materialized checkpoint " +
        "(anti-vacuousness check)")
  }

  test("knn classification votes by aggregate — no window, no cartesian") {
    // the search half is q35's deliberate broadcast scan (bounded by the
    // broadcast query set); the vote half must be map-side-combined
    // aggregates, never a row_number window
    assertNever("q127_knn_classify", "Window", "CartesianProduct")
    val p = planOf("q127_knn_classify")
    assert(p.contains("topk_by"),
      "the bounded-heap top-k aggregate must appear (anti-vacuousness check)")
  }

  test("k-anonymity audit is one map-side-combinable aggregate over the log") {
    assertNever("q128_k_anonymity", "Join", "CartesianProduct", "Window")
    val p = planOf("q128_k_anonymity")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "exactly one event-log scan may appear")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "the QI census must be an aggregate (anti-vacuousness check)")
  }

  test("semantic decontamination broadcasts the eval side and argmaxes by aggregate") {
    // the eval scan is a deliberate bounded broadcast (the q35 shape); the
    // threshold filter runs before the per-doc argmax, which must be a
    // map-side-combined max(struct) — never a row_number window
    assertNever("q129_semantic_decontaminate", "Window", "SortMergeJoin")
    val p = planOf("q129_semantic_decontaminate")
    assert(p.contains("Broadcast"), "the eval side must broadcast")
    assert(p.contains("cosine_sim"),
      "the native cosine kernel must appear (anti-vacuousness check)")
  }

  test("vocab coverage cuts with a bounded heap before its bounded window") {
    // the census is the one corpus shuffle; the top-k cut must plan as
    // TakeOrderedAndProject (per-partition heaps), and only then may the
    // ≤ max(ks)-row cumulative window run
    assertNever("q130_vocab_coverage", "CartesianProduct", "SortMergeJoin")
    val p = planOf("q130_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k cut must be a bounded heap, not a global sort")
  }

  test("skipgram census is one narrow Generate — no join anywhere") {
    assertNever("q131_skipgram_cooccur", "Join", "CartesianProduct", "Window")
    val p = planOf("q131_skipgram_cooccur")
    assert(p.contains("Generate"), "pair expansion must be a Generate")
    assert(p.contains("TakeOrderedAndProject"),
      "the global top-20 must be a bounded heap")
  }

  test("quantile normalization censuses values — never a percent_rank over docs") {
    // the cumulative window must run over the (source, value) census, which
    // the aggregate below it proves; doc rows rejoin via equi-joins only
    assertNever("q133_quantile_normalize",
      "CartesianProduct", "BroadcastNestedLoopJoin")
    val p = planOf("q133_quantile_normalize")
    assert(p.contains("HashAggregate"),
      "the value census must be an aggregate (anti-vacuousness check)")
    assert(p.contains("Window"), "the census CDF window must appear")
  }

  test("MMR re-rank is a bounded driver-held model — the plan is a local table") {
    // the pool collects at construction (the IVF-centroid/BPE-merge idiom);
    // the returned plan must carry no distributed scan at all
    val p = planOf("q134_mmr_diversify")
    assert(p.contains("LocalTableScan"), "selection must be a local table")
    assert(!p.contains("Scan parquet"),
      "no distributed scan may survive into the result plan")
  }

  test("source drift evaluates CDFs on the bounded census grid — one corpus scan family") {
    // both CDFs derive from value censuses; the sources × values grid cross
    // join is bounded × bounded BY CONSTRUCTION (the one legitimate cross
    // join shape); the KS argmax must be an aggregate, never a final window
    val p = planOf("q135_source_drift")
    assert(p.contains("HashAggregate"),
      "the value censuses must be aggregates (anti-vacuousness check)")
    assert(!p.contains("SortMergeJoin"),
      "census joins must stay broadcast-sized, never corpus sort-merge")
  }

  test("event trigrams chain two leads over ONE partitioning — no self-join") {
    assertNever("q136_event_trigrams", "Join", "CartesianProduct")
    val p = planOf("q136_event_trigrams")
    assert("Window".r.findAllIn(p).length >= 1 &&
      p.contains("TakeOrderedAndProject"),
      "the lead window and bounded-heap top-10 must appear")
    // both lead() columns share one Window operator — a second Window would
    // mean a second user_id sort
    assert("Window".r.findAllIn(p).length == 1,
      "both leads must plan into a single Window operator")
  }

  test("triangle listing is equi-joins over the oriented edge set — never all-pairs") {
    // the wedge and closing joins must both be hash equi-joins; the pair
    // graph comes from the LSH chain, which is itself equi-join-only
    assertNever("q137_triangle_count",
      "CartesianProduct", "BroadcastNestedLoopJoin")
    val p = planOf("q137_triangle_count")
    // the degree census and orientation run once at checkpoint time (the
    // q126 materialization lesson), so the visible plan starts from the
    // materialized oriented edge set — pin the checkpoint's presence
    assert(p.contains("Scan ExistingRDD"),
      "the oriented edge set must enter as the materialized checkpoint " +
        "(anti-vacuousness check)")
  }

  test("winsorization cuts come from the census — broadcast clamp, no corpus window") {
    // the p05/p95 cutoffs reduce over census rows (map-side min(struct));
    // the event log is touched by one census aggregate + one broadcast
    // clamp join — never a per-row percentile window or a sort-merge join
    assertNever("q138_winsorize", "CartesianProduct", "SortMergeJoin")
    val p = planOf("q138_winsorize")
    assert(p.contains("HashAggregate"),
      "the value census must be an aggregate (anti-vacuousness check)")
    assert(p.contains("BroadcastHashJoin"),
      "the cut table must broadcast back onto the log")
  }

  test("phrase blocklist is a scan-speed scalar map") {
    assertNever("q132_phrase_blocklist", "Join", "HashAggregate", "Window",
      "Generate")
    assert(exchanges("q132_phrase_blocklist") <= 1,
      "only the output ORDER BY may exchange")
  }

  test("incremental cluster maintenance is equi-joins + aggregates — no window, no all-pairs") {
    // band candidates, verify lookups, star-contraction rounds, and the
    // merge are ALL hash equi-joins; pair enumeration inside buckets is the
    // bounded collect_set/pairsOf kernel, never a nested loop
    assertNever("q139_incremental_clusters",
      "BroadcastNestedLoopJoin", "CartesianProduct", "Window")
  }

  test("quality tertiles bucket via the census CDF — the only window runs over census rows") {
    // the lang-partitioned cumulative window may appear, but it must sit
    // ABOVE the (lang, ttr) census aggregate — i.e. the plan contains a
    // census HashAggregate and no corpus-wide unpartitioned window
    assertNever("q140_quality_tertiles", "CartesianProduct",
      "windowspecdefinition(ttr_pm") // an unpartitioned per-value window
    val p = planOf("q140_quality_tertiles")
    assert(p.contains("HashAggregate"),
      "the (lang, ttr) census must be an aggregate (anti-vacuousness check)")
    assert(p.contains("windowspecdefinition(lang"),
      "the cumulative CDF must partition by lang over census rows")
  }

  test("dedup savings sweep reads ONE materialized pair table six ways") {
    // the exact pair table enters as the checkpoint; the six per-threshold
    // aggregates must not re-run the postings join (no shingle Generate in
    // the outer plan), and no window anywhere. (The plan DOES contain three
    // BroadcastNestedLoopJoins — each is the deliberate 1-row × 1-row
    // crossJoin stitching a threshold's two global aggregates into its
    // report row, constant-size by construction.)
    assertNever("q141_dedup_savings", "CartesianProduct", "Window")
    val p = planOf("q141_dedup_savings")
    assert(p.contains("Scan ExistingRDD"),
      "the pair table must enter as the materialized checkpoint")
    assert(!p.contains("word_ngrams"),
      "re-deriving shingles per threshold would defeat the verify-once contract")
  }
}
