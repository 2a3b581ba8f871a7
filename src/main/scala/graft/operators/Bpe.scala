package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding merge learning — THE tokenizer-training primitive of an
 * LLM data pipeline (Sennrich et al. 2016, "Neural Machine Translation of
 * Rare Words with Subword Units"). Each round counts adjacent symbol pairs
 * across the word-frequency vocabulary, picks the most frequent pair
 * (ties: lexicographically smallest), and merges every greedy-leftmost
 * occurrence into a new symbol.
 *
 * Scale shape: the corpus collapses to a WORD-FREQUENCY table first (one
 * explode + groupBy — Heaps' law keeps the vocabulary sublinear in corpus
 * size, and a top-`vocabSize` cut bounds it outright), so the k merge rounds
 * iterate over a bounded table, never the corpus. Each round is one narrow
 * pair-explode + one map-side-combined groupBy + a 1-row argmax; the chosen
 * pair is a driver-held bounded model (the Ivf centroid precedent). The
 * per-round table is localCheckpointed so round k's lineage does not replay
 * rounds 1..k-1.
 *
 * Symbol sequences are encoded as `(sym)(sym)…` strings: because `(` occurs
 * only at a symbol start, the literal pattern `(l)(r)` matches EXACTLY the
 * adjacent symbol pair l,r — never inside a longer symbol — and one
 * left-to-right non-overlapping `replace` pass IS the greedy-leftmost BPE
 * merge (`(a)(a)(a)(a)` → `(aa)(aa)`). DuckDB's `replace` scans the same
 * way, which is what makes the unrolled SQL twin value-identical.
 */
object Bpe {

  /** Learn `rounds` merges from the top-`vocabSize` words (count desc, word
   * asc) of `docs`. Returns (merge_round, lhs, rhs, pair_count), one row per
   * round in learning order. */
  def learnMerges(docs: DataFrame, rounds: Int, vocabSize: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._

    val words = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabSize)
      .select(regexp_replace(col("w"), "(.)", "($1)").as("seq"), col("cnt"))

    var cur = words.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val best = cur
        .select(col("cnt"),
          split(expr("substring(seq, 2, length(seq) - 2)"), "\\)\\(").as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        // symbols feed string-interpolated SQL below; the [a-z]+ extraction
        // regex guarantees this, and the require keeps a future token-regex
        // widening (apostrophes, quotes, backslashes) from silently
        // corrupting the generated pattern
        require(l.matches("[a-z]+") && r.matches("[a-z]+"),
          s"BPE symbols must stay [a-z]+ for safe SQL interpolation: '$l','$r'")
        merges += ((round.toLong, l, r, best(0).getLong(2)))
        cur = cur
          .select(expr(s"replace(seq, '($l)($r)', '($l$r)')").as("seq"), col("cnt"))
          .localCheckpoint()
        round += 1
      }
    }
    merges.toSeq.toDF("merge_round", "lhs", "rhs", "pair_count")
  }

  /**
   * Apply learned merges: segment EVERY document's words with the merge
   * table replayed in learning order. The merges are a driver-held bounded
   * model (8 string pairs), so the whole pass is one narrow, whole-stage-
   * codegen'd chain of scalar `replace` calls — zero shuffles over the
   * corpus, the right shape for tokenizing 100 TB. Words are wrapped
   * `(c)(h)(a)(r)` and joined with spaces, so a merge pattern can never
   * span two words; the subword count is simply the count of `(` in the
   * merged string. Returns (doc_id, n_words, n_subwords).
   */
  /** `carry` columns of `docs` ride along unchanged (e.g. `lang` for the
   * fertility report) — keeps downstream per-group views join-free: the
   * alternative is re-reading the corpus and equi-joining on doc_id. */
  def tokenize(docs: DataFrame, merges: Seq[(String, String)],
               carry: Seq[String] = Nil): DataFrame = {
    // caller-supplied merges are interpolated into SQL — hold the same
    // invariant the learner guarantees
    merges.foreach { case (l, r) =>
      require(l.matches("[a-z]+") && r.matches("[a-z]+"),
        s"BPE merge symbols must be [a-z]+ for safe SQL interpolation: '$l','$r'")
    }
    val wrapped = "concat_ws(' ', transform(" +
      "regexp_extract_all(lower(text), '[a-z]+', 0), " +
      "w -> regexp_replace(w, '(.)', '($1)')))"
    val applied = merges.foldLeft(wrapped) { case (acc, (l, r)) =>
      s"replace($acc, '($l)($r)', '($l$r)')"
    }
    val carryCols = carry.map(col)
    docs
      .select(col("doc_id") +: carryCols :+
        expr("cast(size(regexp_extract_all(lower(text), '[a-z]+', 0)) as bigint)")
          .as("n_words") :+
        expr(applied).as("seg"): _*)
      .select(col("doc_id") +: carryCols :+ col("n_words") :+
        expr("cast(length(seg) - length(replace(seg, '(', '')) as bigint)")
          .as("n_subwords"): _*)
  }

  /**
   * The learned merge table as a PERSISTED, driver-held artifact: in a real
   * pipeline the tokenizer trains once and every apply job reads the
   * artifact — re-learning inside each apply query would replay the k-round
   * loop per invocation. Keyed by (corpus path, rounds, vocabSize) PLUS a
   * content fingerprint — row count and an order-independent hash sum over
   * the text — so a caller that reuses a key for a rewritten/regenerated
   * corpus can never be served stale merges (pinned in BpeSpec). The
   * fingerprint costs one narrow scan + 1-row aggregate per call — far
   * cheaper than the k-round learning loop it guards, and the honest price
   * of making the cache content-addressed. The cache holds only the
   * ≤`rounds` string pairs, never data.
   */
  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  def mergeArtifact(docs: DataFrame, rounds: Int, vocabSize: Int,
                    key: String): Seq[(String, String)] = {
    // decimal sum: 500M+ hash longs can overflow a bigint sum under ANSI
    val fp = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("text")).cast("decimal(20,0)")),
        lit(0).cast("decimal(20,0)")).as("h")).first()
    val fullKey = s"$key#$rounds#$vocabSize#${fp.getLong(0)}#${fp.get(1)}"
    // content-addressed keys accumulate one (tiny) entry per corpus revision
    // ever seen; bound the map so a long-lived JVM cycling through many
    // revisions can't grow it forever (entries are ≤`rounds` string pairs,
    // so this is hygiene, not memory pressure). Evict arbitrary entries down
    // to capacity rather than clearing — a clear-all also wiped the hot
    // entries, and racing computeIfAbsent calls then re-learned them; the
    // weakly-consistent iterator makes concurrent eviction safe (worst case
    // two callers each evict one entry)
    // evict only on a MISS (a hit at capacity must not risk removing the
    // very entry being served — that would replay the k-round learn), and
    // never evict the requested key itself
    if (!artifacts.containsKey(fullKey)) {
      val evict = artifacts.keySet.iterator()
      while (artifacts.size >= 64 && evict.hasNext) {
        if (evict.next() != fullKey) evict.remove()
      }
    }
    artifacts.computeIfAbsent(fullKey, _ =>
      learnMerges(docs, rounds, vocabSize)
        .orderBy(col("merge_round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
  }

  /** Bench/test hook: drop every memoised merge table so the next
   * [[mergeArtifact]] call re-learns from the corpus. The bench calls this
   * before each timed query so a min-of-N pass can never be served a
   * previous pass's k-round learning from the in-JVM memo. The
   * artifact-reuse semantics of real pipelines (train once, apply anywhere)
   * are unchanged for library callers. */
  def clearArtifacts(): Unit = artifacts.clear()
}
