package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.config.ExtractionConfig
import graft.xml.XmlExtraction

/** Per-user accumulator state for [[StreamingExtraction.runningUserTotals]]. */
case class UserTotals(nEvents: Long, sumValue: Double)

/** Per-key winner state for [[StreamingExtraction.latestSnapshot]]: the
 * greatest (ts, event_id) change seen so far and its payload. */
case class LatestRow(tsUs: Long, eventId: Long, isDel: Boolean, value: Double)

/** Per-item vote census for [[StreamingExtraction.streamingConsolidateLabels]]
 * — bounded by the label alphabet. */
case class VoteState(votes: Map[Int, Long])

/** Per-LSH-bucket membership state for
 * [[StreamingExtraction.streamingNearDupCandidates]]: the ids seen in this
 * bucket so far (capped at `maxBucket`), whether the cap ever bound, and
 * `repMin` — the minimum id seen over ALL arrivals including post-overflow
 * ones (one long, so tracking it costs no state growth). Once hot, the
 * bucket stops storing members and pairs arrivals against `repMin`. */
case class BucketMembers(ids: List[Long], overflow: Boolean, repMin: Long)

/**
 * Structured Streaming surface of the engine.
 *
 * The batch extraction DAG (scan → XPath → streaming pivot) is built from
 * narrow per-document transforms only, so the SAME code runs unchanged under a
 * file-source stream in append mode — each new XML file is one self-contained
 * document, no cross-batch state is needed (the reference's whole pipeline is
 * per-document, `XmlReducerGroupingComparator.java:13-19`).
 *
 * For event streams, [[windowedEventStats]] adds the watermark + window
 * aggregation the reference lacks (SURVEY.md §2.8) — event-time tumbling
 * windows with bounded state.
 */
object StreamingExtraction {

  /**
   * Streaming variant of [[XmlExtraction.corpusFromXmlFiles]]: every file that
   * lands in `dir` or below it becomes one document row, with the same docId
   * rule. Subdirectories are walked like the batch reader walks them
   * (`recursiveFileLookup`); names starting with `_` or `.` are skipped with
   * everything below them.
   */
  def streamingCorpus(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("wholetext", true)
      .option("recursiveFileLookup", true)
      .option("maxFilesPerTrigger", 1000)
      .text(dir)
      .select(
        XmlExtraction.docIdColumn(spark, dir).as("docId"),
        col("value").as("xml"))

  /**
   * End-to-end streaming extraction: attach with
   * `.writeStream.format(...).start()`; append mode works because every
   * transform is narrow (mapPartitions over whole documents).
   */
  def streamingExtract(spark: SparkSession, dir: String, config: ExtractionConfig): DataFrame =
    XmlExtraction.extractRows(streamingCorpus(spark, dir), config)

  /** Formatted-line variant (the reference's delimited text output): the batch
   * line path, [[XmlExtraction.run]], over the stream. */
  def streamingExtractLines(spark: SparkSession, dir: String, config: ExtractionConfig): DataFrame =
    XmlExtraction.run(streamingCorpus(spark, dir), config)

  /**
   * Event-time tumbling-window aggregation with a watermark: per (window,
   * event_type) counts and value sums. Late rows beyond `watermark` are
   * dropped and window state is reclaimed — bounded state at any scale.
   */
  def windowedEventStats(events: DataFrame,
                         watermark: String = "10 minutes",
                         windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /**
   * HOPPING (sliding) event-time windows: length `windowLen`, advancing every
   * `slide` — each event lands in `windowLen / slide` overlapping windows
   * (the smoothing shape tumbling windows can't express). Same watermark
   * state story as [[windowedEventStats]]; the state multiplier is the
   * overlap factor, still bounded.
   */
  def hoppingEventStats(events: DataFrame,
                        watermark: String = "10 minutes",
                        windowLen: String = "1 hour",
                        slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /**
   * Event-time SESSIONIZATION: per-user sessions separated by ≥ `gap` of
   * inactivity, via `session_window` — Spark's dynamic-gap session windows,
   * the same operator batch and streaming (in streaming, watermark passage
   * closes sessions and reclaims their state; merges of overlapping windows
   * are handled by the session-window state store).
   *
   * Scale posture: one shuffle on `user_id` (the session key) with
   * AQE-coalescible partitions; session merge is a sort within the key — no
   * cross-key state, no driver-side anything. Session identity: a new session
   * starts exactly when the inter-event gap is ≥ `gap` (a window covers
   * `[first_ts, last_ts + gap)` and the next event merges iff it starts
   * before the current window's end).
   */
  def sessionizedUserStats(events: DataFrame,
                           gap: String = "30 minutes",
                           watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /**
   * STREAMING exact deduplication — the continuous-ingest twin of
   * [[graft.operators.Dedup.exact]]: keep the first record per content
   * digest, dropping later duplicates that arrive within `watermark` of
   * event time. `dropDuplicatesWithinWatermark` keys the state store on the
   * digest (never the text) and evicts entries once the watermark passes —
   * bounded state, so the stream runs forever; duplicates separated by more
   * than the watermark are by contract not caught (re-dedup batch-side with
   * `Dedup.exact` if global uniqueness is required).
   *
   * Input must carry an event-time column `ts`; emits the surviving rows with
   * their `content_md5`.
   */
  def streamingDedup(docs: DataFrame, textCol: String = "text",
                     watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_md5", md5(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_md5")

  /**
   * STREAM-STREAM interval join with watermarks — the attribution shape
   * (click → purchases that follow within `horizonMinutes`, same user).
   * Both sides carry a watermark and the join condition bounds event time on
   * BOTH ends, which is exactly what lets Spark evict join state: a purchase
   * can only match clicks at most `horizonMinutes` older, so click rows
   * older than `watermark + horizon` leave the state store, and the stream
   * runs forever on bounded memory. One shuffle per side on `user_id`.
   *
   * The SAME code runs in batch — the equi-key makes the batch plan a hash
   * or sort-merge join on `user_id` with the time range as a post-filter
   * (never a nested-loop over all pairs) — which is what q66's oracle gates.
   */
  def clickPurchaseJoin(events: DataFrame,
                        watermark: String = "30 minutes",
                        horizonMinutes: Int = 60): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
      .withWatermark("cts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("pts"),
        col("value").as("pvalue"))
      .withWatermark("pts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("pts") >= col("cts") &&
        col("pts") < col("cts") + expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("click_id"), col("c_user").as("user_id"), col("cts"),
        col("pts"), col("pvalue"))
  }

  /**
   * CUSTOM arbitrary-state aggregation via
   * `KeyValueGroupedDataset.mapGroupsWithState` — the extension route for
   * state no built-in aggregate expresses (the running per-user totals here
   * stand in for per-key models, decaying counters, session carts, …).
   *
   * Each micro-batch, a user's new events fold into a [[UserTotals]] state
   * object and the updated running totals emit (output mode `update`). State
   * lives in the state store, partitioned by `user_id` — per-key memory is
   * one case class, keys never co-reside, and `GroupStateTimeout` is the
   * eviction hook for abandoned keys. The SAME code runs in batch mode (all
   * rows of a key arrive as one group, state starts empty), which is what
   * q46's oracle gates: batch-mode totals == plain GROUP BY.
   *
   * Large key spaces: the state-store provider is a config, not an operator
   * concern — set `spark.sql.streaming.stateStore.providerClass` to
   * `RocksDBStateStoreProvider` to bound state by local disk instead of
   * executor heap (RocksDbStateSpec proves both stateful twins are
   * result-identical under it).
   */
  def runningUserTotals(events: DataFrame,
                        evictAfter: Option[String] = None): DataFrame = {
    val session = events.sparkSession
    import session.implicits._
    // eviction is REAL, not aspirational: with `evictAfter` set, a key idle
    // that long times out, releases its state-store entry, and emits nothing
    // — without it a churning key space would grow state without bound
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotals, (Long, Long, Double)](
        OutputMode.Update, timeoutConf) {
        (user, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
            var n = prev.nEvents
            var s = prev.sumValue
            rows.foreach { case (_, v) => n += 1; s += v }
            state.update(UserTotals(n, s))
            evictAfter.foreach(state.setTimeoutDuration)
            Iterator.single((user, n, s))
          }
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /**
   * Streaming twin of q99's CDC latest-wins compaction: a continuously
   * maintained current-snapshot view of a change log. Per key, state holds
   * the greatest (ts, event_id) change seen so far (one [[LatestRow]] — the
   * same per-key bound as the batch argmax); each micro-batch folds the new
   * changes in and re-emits the key's refreshed winner in update mode —
   * downstream treats `is_del = true` as "key deleted". Emissions per key
   * are monotone in (ts, event_id), so the LAST emission is the snapshot
   * row, which SessionizeSpec proves equal to the batch max(struct)
   * compaction across micro-batches.
   */
  def latestSnapshot(changes: DataFrame): DataFrame = {
    val session = changes.sparkSession
    import session.implicits._
    changes
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("is_del"), col("value"))
      .as[(Long, Long, Long, Boolean, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LatestRow, (Long, Long, Long, Boolean, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var cur = state.getOption.orNull
          rows.foreach { case (_, ts, eid, del, v) =>
            if (cur == null || ts > cur.tsUs || (ts == cur.tsUs && eid > cur.eventId))
              cur = LatestRow(ts, eid, del, v)
          }
          state.update(cur)
          Iterator.single((user, cur.tsUs, cur.eventId, cur.isDel, cur.value))
      }
      .toDF("user_id", "ts_us", "event_id", "is_del", "value")
  }

  /**
   * Streaming twin of [[graft.operators.Annotations.consolidateLabels]] —
   * a continuously maintained label-consensus view as annotations arrive
   * (the live dashboard of a labeling campaign). Per item, state holds the
   * per-label vote counts — bounded by the LABEL ALPHABET, not by
   * arrivals, the same per-key bound as the batch vote census — and each
   * micro-batch folds its votes in and re-emits the item's refreshed
   * consensus in update mode with the batch argmax's exact
   * (votes desc, label asc) tie-break. `n_votes` is monotone per item, so
   * the max-votes emission per item IS the final consensus, which
   * SessionizeSpec proves equal to the batch operator across
   * micro-batches.
   */
  def streamingConsolidateLabels(ann: DataFrame): DataFrame = {
    val session = ann.sparkSession
    import session.implicits._
    ann.select(col("item"), col("label")).as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[VoteState, (Long, Long, Int, Long, Boolean)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (item, rows, state) =>
          val votes = rows.foldLeft(
            state.getOption.getOrElse(VoteState(Map.empty)).votes) {
            case (m, (_, l)) => m.updated(l, m.getOrElse(l, 0L) + 1L)
          }
          state.update(VoteState(votes))
          val (topLabel, topVotes) = votes.minBy { case (l, v) => (-v, l) }
          val n = votes.valuesIterator.sum
          Iterator.single((item, n, topLabel, topVotes, topVotes == n))
      }
      .toDF("item", "n_votes", "top_label", "top_votes", "unanimous")
  }

  /**
   * STREAMING benchmark decontamination — the continuous-ingest twin of
   * [[graft.operators.CorpusOps.decontaminate]]: every arriving corpus
   * document is dropped iff its id is in the benchmark set or it shares at
   * least one word n-gram with it. Both guards are STREAM-STATIC anti-joins
   * against the (static, broadcast) benchmark tables — zero state, append
   * mode, no watermark needed, so the stream runs forever at scan speed and
   * in batch mode the SAME code returns exactly the batch operator's
   * survivor set (proven over micro-batches in SessionizeSpec).
   *
   * The gram guard is a broadcast nested-loop anti-join
   * (`array_contains(shingles, gram)` — no equi-key): per arriving doc it
   * costs |benchmark grams| membership probes, the
   * [[graft.operators.Similarity.semanticContamination]] eval-side-bounded
   * posture. For benchmark sets too large to broadcast, the production
   * escape is the Bloom route (q67): build the filter batch-side once and
   * filter the stream with the narrow scalar probe, accepting the
   * documented false-positive over-drop.
   *
   * `docs` carries (`id`, `shingles`, …payload); `benchmark` is the static
   * (`id`, `shingles`) frame — callers should `.persist()` it so the gram
   * explode+distinct doesn't recompute per micro-batch.
   */
  def streamingDecontaminate(docs: DataFrame, benchmark: DataFrame): DataFrame = {
    val benchIds = benchmark.select(col("id"))
    val benchGrams = benchmark.select(explode(col("shingles")).as("gram")).distinct()
    docs
      .join(broadcast(benchIds), Seq("id"), "left_anti")
      .join(broadcast(benchGrams), expr("array_contains(shingles, gram)"), "left_anti")
  }

  /**
   * [[streamingDecontaminate]]'s KEYED scale path — for benchmark sets whose
   * gram table is too large for the nested-loop probe (the per-doc cost
   * there is |benchmark grams| membership scans): explode each arriving
   * document's grams, mark hits with ONE stream-static HASH equi-join on the
   * gram (O(1) probe per unit against the built benchmark table — broadcast
   * or shuffled-hash, the planner's call by size), and reassemble the
   * per-document verdict with a watermarked aggregation whose state is the
   * in-flight documents only. Exactly the batch semantics: a doc survives
   * iff its id is not in the benchmark (stateless anti-join up front, before
   * the explode) and no gram collides. Emits surviving `(id, ts)` in append
   * mode once the watermark passes — the gate shape: downstream either keys
   * the payload back in from its landing table or feeds the id list to the
   * next batch stage. Trade vs the nested-loop variant: payload does not
   * flow through (the explode would multiply it), and emission waits on the
   * watermark; in exchange the benchmark can be arbitrarily large.
   *
   * A document with an EMPTY (or NULL) `shingles` array is clean by
   * definition and must still emit — `explode_outer` keeps its row as a
   * single NULL gram, which can never equi-match `benchGrams` (batch and
   * nested-loop parity: both keep such docs).
   */
  def streamingDecontaminateKeyed(docs: DataFrame, benchmark: DataFrame,
                                  watermark: String = "10 minutes"): DataFrame = {
    val benchIds = benchmark.select(col("id"))
    val benchGrams = benchmark.select(explode(col("shingles")).as("gram"))
      .distinct().withColumn("hit", lit(1))
    docs
      .join(broadcast(benchIds), Seq("id"), "left_anti")
      .select(col("id"), col("ts"), explode_outer(col("shingles")).as("gram"))
      .join(benchGrams, Seq("gram"), "left")
      .withWatermark("ts", watermark)
      .groupBy(col("id"), col("ts"))
      .agg(max(col("hit")).as("hit"))
      .where(col("hit").isNull)
      .select(col("id"), col("ts"))
  }

  /**
   * STREAMING line-level dedup — the continuous-ingest twin of
   * [[graft.operators.CorpusOps.lineDedup]], serving a PRECOMPUTED unit
   * census (the daily-crawl posture: the corpus-common-unit table is built
   * batch-side once over the existing corpus —
   * [[graft.operators.CorpusOps.hotUnits]] — and each arriving document is
   * rebuilt with those units removed; a streaming-exact global census is
   * impossible with bounded state, and boilerplate is a property of the
   * EXISTING corpus anyway). Per arrival: ONE narrow unit explode, a
   * broadcast hash left-join marking hot units (static side — no stream
   * state), and a per-document reassembly keyed on (id, ts) whose state the
   * watermark reclaims; emits `(id, n_tokens, n_kept, clean_text)` in
   * append mode once the watermark passes the document's event time —
   * identical values to the batch rebuild over the same census (proven
   * across micro-batches in SessionizeSpec).
   *
   * `docs` carries (`id`, `ts`, `text`). Divergence from batch (documented):
   * a document producing no units (empty text) never emits here, while the
   * batch operator's outer join restores it as an empty row.
   */
  def streamingLineDedup(docs: DataFrame, hotUnits: DataFrame, unitTokens: Int,
                         watermark: String = "10 minutes"): DataFrame = {
    val units = docs
      .select(col("id"), col("ts"),
        graft.functions.TextFunctions.tokens(col("text")).as("ws"))
      .select(col("id"), col("ts"), size(col("ws")).as("n"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $unitTokens)")).as("st"))
      .select(col("id"), col("ts"), col("n"), col("st"),
        slice(col("ws"), col("st") + 1,
          least(lit(unitTokens), col("n") - col("st"))).as("toks"))
      .withColumn("dg", md5(array_join(col("toks"), " ")))
    units
      .join(broadcast(hotUnits.select(col("dg"), lit(1).as("hot"))), Seq("dg"), "left")
      .withWatermark("ts", watermark)
      .groupBy(col("id"), col("ts"), col("n"))
      // `when` yields NULL for hot units and collect_list skips nulls, so
      // the kept units reassemble in offset order without a second pass
      .agg(
        sum(when(col("hot").isNull, size(col("toks"))).otherwise(0))
          .cast("long").as("n_kept"),
        array_join(flatten(transform(
          sort_array(collect_list(
            when(col("hot").isNull, struct(col("st"), col("toks"))))),
          x => x.getField("toks"))), " ").as("clean_text"))
      .select(col("id"), col("n").cast("long").as("n_tokens"),
        col("n_kept"), col("clean_text"))
  }

  /**
   * STREAMING MinHash-LSH near-dup candidate detection — the continuously-
   * running twin of [[graft.operators.Dedup.incrementalCandidates]]: every
   * arriving document bands with the IDENTICAL signature pipeline as the
   * batch path ([[graft.operators.Dedup.bandedKeys]] — a narrow map, no
   * shuffle), buckets key the state store on (band, band slice), and each
   * bucket's state holds the member ids seen so far. A new arrival emits one
   * candidate pair per existing member, so WHILE EVERY BUCKET STAYS AT OR
   * UNDER `maxBucket` MEMBERS the cumulative emitted set over any number of
   * micro-batches equals the symmetric batch candidate set
   * ([[graft.operators.Dedup.minhashCandidates]]) over the same corpus —
   * proven across micro-batches in SessionizeSpec.
   *
   * Input: streaming (or batch) DataFrame with `id` and `shingles`. Output:
   * candidate pairs (a, b), a < b; multi-band collisions can re-emit a pair
   * (bands are independent state keys) — downstream either set-dedups
   * batch-side or feeds an idempotent verify-join, exactly like the batch
   * candidates before their `distinct()`.
   *
   * Bounded state (the stream-runs-forever requirement): a bucket's member
   * list caps at `maxBucket` ids; once the cap binds the bucket turns HOT
   * permanently — later arrivals pair against the minimum id seen so far
   * (`repMin`, updated on EVERY arrival including post-overflow ones — one
   * long, the [[graft.operators.Dedup.bucketedPairs]] star fallback at O(1)
   * state and emission per arrival), so one boilerplate bucket can never
   * grow state or output quadratically. ABOVE the cap the streamed set
   * deliberately DIVERGES from batch (both guard, differently): streaming
   * keeps the exact pairs among the first `maxBucket` arrivals and stars
   * later ones against the running minimum, while batch `bucketedPairs`
   * stars the whole bucket against its global minimum — order-dependent vs
   * corpus-global, the inherent cost of single-pass state; both preserve
   * the bucket as one connected component, which is what a downstream
   * clustering consumes. Post-overflow arrivals are NOT remembered (that
   * set is exactly what the cap exists to bound), so a hot-bucket id
   * re-arriving in a LATER micro-batch re-emits its star pair — the same
   * at-least-once contract as multi-band re-emission above, absorbed by
   * the downstream set-dedup or idempotent verify-join. Within a
   * micro-batch, a bucket's arrivals process in ascending id order —
   * emission is deterministic for any fixed micro-batch partitioning.
   */
  def streamingNearDupCandidates(docs: DataFrame, k: Int = 36, bands: Int = 12,
                                 maxBucket: Int = 10000): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be >= 1")
    val session = docs.sparkSession
    import session.implicits._
    graft.operators.Dedup.bandedKeys(docs, k, bands)
      // state-store key: band index + the exact band slice, rendered to one
      // string (collision-free: fixed band count, "," never in a long)
      .select(
        concat(col("band").cast("string"), lit(":"),
          array_join(transform(col("band_key"), x => x.cast("string")), ","))
          .as("bucket"),
        col("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketMembers, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val prev = state.getOption
            .getOrElse(BucketMembers(Nil, overflow = false, Long.MaxValue))
          // one O(members) rehydration per group call, then O(1) membership
          // and representative lookups per arrival — a hot bucket at the cap
          // must not pay a linear scan for every arriving doc forever
          // (seen.size is the member count: HashSet size is O(1), the List's
          // is not)
          val seen = scala.collection.mutable.HashSet(prev.ids: _*)
          var rep = prev.repMin
          var members = prev.ids
          var overflow = prev.overflow
          val out = List.newBuilder[(Long, Long)]
          rows.map(_._2).toSeq.distinct.sorted.foreach { id =>
            if (!seen.contains(id)) {
              if (overflow || seen.size >= maxBucket) {
                overflow = true
                // star fallback: pair against the running minimum, then let
                // a smaller id take over as representative — each new rep
                // was just paired with the old one, so connectivity chains
                if (id != rep)
                  out += ((math.min(rep, id), math.max(rep, id)))
                if (id < rep) rep = id
              } else {
                members.foreach(m =>
                  out += ((math.min(m, id), math.max(m, id))))
                members = id :: members
                seen += id
                if (id < rep) rep = id
              }
            }
          }
          state.update(BucketMembers(members, overflow, rep))
          out.result().iterator
      }
      .toDF("a", "b")
  }
}
