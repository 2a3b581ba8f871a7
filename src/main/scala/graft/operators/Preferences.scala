package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Preference-data operators — the statistics layer an RLHF / evaluation
 * pipeline runs over pairwise model comparisons ("duels": item, two model
 * ids, a winner) before trusting a ranking: per-pair win rates with a
 * confidence-aware lower bound, so "A beats B 2/2" never outranks
 * "C beats D 180/200".
 *
 * Engine-exactness: the Wilson score interval needs one square root; the
 * contract QUANTIZES it — isqrt(x) := floor(sqrt(double(x))) — which is
 * engine-independent bits (int64→double rounding, IEEE-exact sqrt, floor:
 * every step is deterministic and identical in Spark and DuckDB), so the
 * whole statistic stays 64-bit integer arithmetic with no libm exposure.
 *
 * Scale posture: duels aggregate by UNORDERED pair in ONE map-side-
 * combinable exchange whose output is models² rows — driver-sized for any
 * corpus of comparisons. No windows, no joins.
 */
object Preferences {

  /**
   * Win-rate table over every observed unordered model pair. `duels`
   * carries one row per comparison: (item, model_a, model_b, winner) with
   * winner ∈ {model_a, model_b} (rows violating that are the caller's
   * contract to prevent — they would count as losses for the lo side).
   * Pairs are normalized lo = min, hi = max; output one row per pair:
   *
   *   - `n`, `wins_lo` — comparisons and lo-side wins
   *   - `win_pm`       — (1000·wins_lo) div n
   *   - `wilson_lb_pm` / `wilson_ub_pm` — the z=2 (~95.4%) Wilson interval
   *     for lo's true win rate, ×1e3, under the quantized contract:
   *       y  = (wins_lo·(n−wins_lo)) div n + 1        (radicand, exact)
   *       lb = (1000·(w+2) − 2·isqrt(1e6·y)) div (n+4)
   *       ub = (1000·(w+2) + 2·isqrt(1e6·y)) div (n+4)
   *     z=2 keeps every coefficient integral (z² = 4) — no float enters
   *     until the single contract-quantized isqrt. Exact int64 domain:
   *     w(n−w) ≤ n²/4 < 2^63 and 1e6·y ≤ 2.5e5·n < 2^63 → n ≤ 3.6e13
   *     comparisons per pair.
   *
   * A pair ranking should sort by `wilson_lb_pm` (the lower bound is the
   * "pessimistic" win rate — the classic Wilson-sort used for rating
   * aggregation), which this emits but does not impose.
   */
  def pairwiseWinRates(duels: DataFrame): DataFrame =
    duels
      .select(
        least(col("model_a"), col("model_b")).as("model_lo"),
        greatest(col("model_a"), col("model_b")).as("model_hi"),
        when(col("winner") === least(col("model_a"), col("model_b")), 1L)
          .otherwise(0L).as("lo_win"))
      .groupBy(col("model_lo"), col("model_hi"))
      .agg(count(lit(1)).as("n"), sum(col("lo_win")).as("wins_lo"))
      .select(col("model_lo"), col("model_hi"), col("n"), col("wins_lo"),
        expr("(1000 * wins_lo) div n").as("win_pm"),
        expr("(wins_lo * (n - wins_lo)) div n + 1").as("y"))
      .select(col("model_lo"), col("model_hi"), col("n"), col("wins_lo"),
        col("win_pm"),
        expr("(1000 * (wins_lo + 2) - 2 * cast(floor(sqrt(cast(1000000 * y as double))) as bigint)) div (n + 4)")
          .as("wilson_lb_pm"),
        expr("(1000 * (wins_lo + 2) + 2 * cast(floor(sqrt(cast(1000000 * y as double))) as bigint)) div (n + 4)")
          .as("wilson_ub_pm"))

  /**
   * Bradley–Terry strength fitting over pairwise duels — the ranking layer
   * above [[pairwiseWinRates]]: instead of per-pair shares, ONE strength
   * per model such that P(i beats j) = s_i/(s_i+s_j) best explains every
   * observed comparison, fitted by the classic minorization–maximization
   * iteration (Hunter 2004) with a fixed unrolled `rounds` count (the
   * q71/q113 fixed-round idiom — convergence checks would force an action
   * per round).
   *
   * Exact fixed point end to end, so the trajectory is engine-identical
   * with the DuckDB oracle: strengths are ×1e6 integers (init 1e6), and
   * each round computes, per model i,
   *
   *   d_i   = Σ_j n_ij·1e12 div (s_i + s_j)           (MM denominator)
   *         + 2·1e12 div (s_i + 1e6)                  (regularizer)
   *   raw_i = (W_i + 1)·1e12 div d_i                  (MM numerator)
   *   s_i   = greatest(M · ((raw_i·1e6) div Σ raw), 1)  (normalization)
   *
   * where W_i = total wins and n_ij = comparisons against j. The
   * regularizer is one phantom win + one phantom loss against a fixed
   * strength-1e6 opponent (the standard BT regularization), which keeps
   * the MLE defined — and every d_i strictly positive — even for models
   * that win or lose everything. Normalization pins Σ s ≈ M·1e6 each
   * round, making the trajectory scale-free and bounding every
   * intermediate: with per-model game counts ≤ 4e6, n_ij·1e12 ≤ 4e18 <
   * 2^63 even in the degenerate s_i+s_j = 2 corner, raw_i ≤ ~4M·1e6, and
   * raw_i·1e6 ≤ ~2.4e13. The budget is enforced IN THE PLAN (a
   * `raise_error` branch fed by a broadcast per-model aggregate of the
   * models²-row census, so constructing the plan runs no Spark job —
   * VERDICT r12 #4):
   * a larger campaign fails at first action with the domain contract, not
   * mid-round under an opaque ANSI overflow.
   *
   * Input validation (same in-plan fail-fast): a self-duel (model_a ==
   * model_b) or a winner outside {model_a, model_b} would silently
   * inflate the census (a bad winner counting as a model_hi win), so both
   * raise with a domain message at first action.
   *
   * Output: one row per model — (model, games, wins, strength_fp), with
   * strength_fp the fitted ×1e6 strength; rank by strength_fp DESC.
   *
   * Scale posture: the duel corpus collapses to a models²-row census in
   * ONE map-side-combinable exchange; every round after that runs on the
   * census (a lazy reuse point) with broadcast strength joins — round
   * cost is independent of the number of comparisons.
   */
  def bradleyTerry(duels: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // in-plan input validation: every duel row flows through lo_win, so a
    // self-duel or an out-of-range winner raises at first action — never a
    // silently-poisoned census (ADVICE r12)
    val loWin =
      when(col("model_a") === col("model_b"),
        raise_error(concat(lit("bradleyTerry: self-duel (model_a == model_b == "),
          col("model_a").cast("string"),
          lit("); drop or fix self-comparisons upstream"))).cast("long"))
      .when(col("winner") === least(col("model_a"), col("model_b")), 1L)
      .when(col("winner") === greatest(col("model_a"), col("model_b")), 0L)
      .otherwise(
        raise_error(concat(lit("bradleyTerry: winner "),
          col("winner").cast("string"), lit(" is neither model_a ("),
          col("model_a").cast("string"), lit(") nor model_b ("),
          col("model_b").cast("string"), lit(")"))).cast("long"))
    val pairs = duels
      .select(
        least(col("model_a"), col("model_b")).as("model_lo"),
        greatest(col("model_a"), col("model_b")).as("model_hi"),
        loWin.as("lo_win"))
      .groupBy(col("model_lo"), col("model_hi"))
      .agg(count(lit(1)).as("n"), sum(col("lo_win")).as("wins_lo"))
    // in-plan MM budget guard: per-model games from a BROADCAST aggregate
    // of the models²-row census (bounded — never corpus-sized; no window,
    // the q158 plan pin), raising with the domain contract before any
    // round arithmetic could overflow. Guarding `n` covers `w` too
    // (w ≤ n per row).
    val census = pairs.select(col("model_lo").as("model"), col("model_hi").as("opp"),
        col("n"), col("wins_lo").as("w"))
      .unionByName(
        pairs.select(col("model_hi").as("model"), col("model_lo").as("opp"),
          col("n"), (col("n") - col("wins_lo")).as("w")))
    val gamesCheck = census.groupBy(col("model"))
      .agg(sum(col("n")).as("games_check"))
    val directed = Checkpoints.reusePoint(
      census.join(broadcast(gamesCheck), Seq("model"))
        .select(col("model"), col("opp"),
          when(col("games_check") <= 4000000L, col("n"))
            .otherwise(raise_error(concat(
              lit("bradleyTerry: model "), col("model").cast("string"),
              lit(" carries "), col("games_check").cast("string"),
              lit(" comparisons, past the exact int64 MM budget of 4e6 per " +
                "model (n_ij*1e12 must stay inside 2^63 at the degenerate " +
                "strength corner); pre-sample duels per model or move the " +
                "update to log-space fixed point"))).cast("long")).as("n"),
          col("w")))
    val totals = directed.groupBy(col("model"))
      .agg(sum(col("n")).as("games"), sum(col("w")).as("wins"))
    val nModels = totals.select(count(lit(1)).as("nm"))

    var s = totals.select(col("model"), lit(1000000L).as("s_fp"))
    for (_ <- 1 to rounds) {
      val joined = directed
        .join(broadcast(s), Seq("model"))
        .join(broadcast(s.select(col("model").as("opp"), col("s_fp").as("s_opp"))),
          Seq("opp"))
      val raw = joined.groupBy(col("model"), col("s_fp"))
        .agg(sum(expr("n * 1000000000000 div (s_fp + s_opp)")).as("d"),
          sum(col("w")).as("wins"))
        .select(col("model"),
          expr("((wins + 1) * 1000000000000) div " +
            "(d + 2000000000000 div (s_fp + 1000000))").as("raw"))
      val tot = raw.agg(sum(col("raw")).as("t")).crossJoin(broadcast(nModels))
      s = Checkpoints.reusePoint(
        raw.crossJoin(broadcast(tot))
          .select(col("model"),
            greatest(expr("nm * ((raw * 1000000) div t)"), lit(1L)).as("s_fp")))
    }
    totals.join(broadcast(s), Seq("model"))
      .select(col("model"), col("games"), col("wins"), col("s_fp").as("strength_fp"))
  }
}
