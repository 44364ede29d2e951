package graft.ops

import graft.Materialize.CheckpointSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-series regularization: aggregate an event stream to a fixed daily
  * grain and materialize the missing days (gap filling) — the step between
  * raw event logs and anything that assumes a dense time axis (training
  * curves, rate-of-change windows, seasonal decomposition; a RANGE frame
  * like q83 shrinks over gaps, a ROWS frame over a FILLED grid does not).
  */
object Resample {

  /** Daily totals per key over each key's [min day, max day] span, absent
    * days filled with zeros and flagged.
    *
    * Scale shape: the grid derives from a per-key (min, max) aggregate of
    * the already-reduced daily table and explodes to one row per day —
    * grid size is keys × span-days, independent of raw event volume — and
    * the fill join is a (key, day) equi-join between two aggregates that
    * share partitioning. The raw stream is scanned once.
    */
  def dailyWithGaps(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("__day"))
      .agg(sum(col(valueCol)).as("__total"), count(lit(1)).as("__n"))
    val grid = daily
      .groupBy(col(keyCol))
      .agg(min(col("__day")).as("__mn"), max(col("__day")).as("__mx"))
      .select(col(keyCol),
        explode(sequence(col("__mn"), col("__mx"), expr("INTERVAL 1 DAY")))
          .as("__day"))
    grid.join(daily, Seq(keyCol, "__day"), "left")
      .select(col(keyCol),
        unix_timestamp(col("__day")).as("day_epoch"),
        round(coalesce(col("__total"), lit(0.0)), 4).as("day_total"),
        coalesce(col("__n"), lit(0L)).as("n_events"),
        col("__total").isNull.as("filled"))
  }

  /** Exponentially-weighted moving average per key over the daily series:
    * s_1 = x_1, s_t = α·x_t + (1−α)·s_{t−1} — the classic smoother for
    * training-curve/rate dashboards, and the representative of the whole
    * "sequential stateful fold" operator family (EWMA has no closed
    * windowed form a plain aggregate can express).
    *
    * Scale shape: the raw stream is reduced to the per-(key, day) grain
    * FIRST (map-side-combinable sum — this is the only pass over event
    * volume), then each key's bounded daily series (span-days ≤ a few
    * thousand for years of data) is collected per key and folded
    * left-to-right with a single `aggregate()` higher-order function —
    * per-key state is one array that never leaves its executor, no
    * driver collection, no cross-key traffic beyond the daily rollup's
    * own shuffle. A per-key ORDER BY window would sort the same rows;
    * the fold makes the sequential dependence explicit and keeps the
    * whole smoother inside one projection.
    *
    * Portability: daily totals are rounded to 4 decimals BEFORE the fold
    * so both engines fold bit-identical inputs through the identical
    * α·x + (1−α)·s operation sequence (left-to-right, so the result is
    * deterministic and engine-independent); the smoothed value is
    * rounded to 6 on output.
    */
  def ewmaSmooth(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, alpha: Double = 0.3): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("__day"))
      .agg(round(sum(col(valueCol)), 4).as("__v"))
    val series = daily
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__day"), col("__v"))))
        .as("__ser"))
    // running-EWMA array: append α·x + (1−α)·last(acc) per element; the
    // `when` guard makes the first element its own seed (CASE branches
    // are lazily evaluated in codegen, so element_at(acc, -1) never runs
    // on the empty accumulator under ANSI mode)
    val ew = aggregate(
      transform(col("__ser"), s => s.getField("__v")),
      array().cast("array<double>"),
      (acc, x) => concat(acc, array(
        when(size(acc) === 0, x)
          .otherwise(lit(alpha) * x + lit(1 - alpha) * element_at(acc, -1)))))
    series.withColumn("__ew", ew)
      .select(col(keyCol), posexplode(col("__ser")).as(Seq("__i", "__s")),
        col("__ew"))
      .select(col(keyCol),
        unix_timestamp(col("__s.__day")).as("day_epoch"),
        col("__s.__v").as("day_total"),
        round(element_at(col("__ew"), col("__i") + 1), 6).as("ewma"))
  }

  /** Rolling W-day distinct-user counts (the classic WAU/MAU rollup) for
    * every day in the data's span: for day d, the number of distinct
    * users active in [d−W+1, d], alongside that day's own distinct count.
    *
    * Scale shape: the stream reduces FIRST to distinct (day, user) pairs
    * (map-side-combinable — this is the only pass over event volume; at
    * most days × users rows survive). Each pair then fans out to the ≤ W
    * window-end days it contributes to via a static `sequence` explode —
    * an equi-shuffle on the day key — and a two-phase distinct-count
    * finishes. No range join, no window over the corpus, no sketch: the
    * W-fold fan-out of the ALREADY-DEDUPED relation is the scalable
    * substitute for a per-day range probe (for approximate variants at
    * extreme cardinality, per-day HLL partials merged over the window is
    * the drop-in — the day grain here is exact by design so the oracle
    * can replay it). Days are integer epoch-day numbers end to end;
    * window ends past the data's max day are cut by a broadcast 1-row
    * max aggregate, so every emitted day is a real data day.
    */
  def rollingDistinctUsers(df: DataFrame, tsCol: String, userCol: String,
                           windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val dayUser = df
      .select((unix_timestamp(date_trunc("day", col(tsCol))) / 86400L)
        .cast("long").as("__day"), col(userCol).as("__u"))
      .distinct()
    val mx = dayUser.agg(max(col("__day")).as("__mxd"))
    val perDay = dayUser.groupBy(col("__day"))
      .agg(countDistinct(col("__u")).as("users_1d"))
    val rolled = dayUser
      .select(explode(sequence(col("__day"),
        col("__day") + lit(windowDays - 1L))).as("__td"), col("__u"))
      .crossJoin(broadcast(mx))
      .filter(col("__td") <= col("__mxd"))
      .groupBy(col("__td"))
      .agg(countDistinct(col("__u")).as(s"users_${windowDays}d"))
    perDay.join(rolled, col("__day") === col("__td"))
      .select((col("__day") * 86400L).as("day_epoch"), col("users_1d"),
        col(s"users_${windowDays}d"))
  }

  /** The sketch tier of [[rollingDistinctUsers]] — the shape that
    * actually scales to extreme cardinality: users collapse into ONE
    * HLL sketch per day (mergeable DataSketches state, ~KB), and the
    * ≤W-day fan-out then explodes per-day SKETCHES (365 rows/year),
    * not (day, user) pairs; the rolling count is a register-max union +
    * estimate. Emitted next to the exact rolling count with an
    * `approx_ok` gate (|est − exact| within max(relErr·exact, slack) —
    * the q71 checked-twin discipline, so the DuckDB oracle can check
    * the exact lane and pin the gate as `true`).
    */
  def rollingDistinctUsersChecked(df: DataFrame, tsCol: String,
                                  userCol: String, windowDays: Int = 7,
                                  lgK: Int = 12, relErr: Double = 0.05,
                                  slack: Long = 2L): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val dayUser = df
      .select((unix_timestamp(date_trunc("day", col(tsCol))) / 86400L)
        .cast("long").as("__day"), col(userCol).as("__u"))
      .distinct()
    val daily = dayUser.groupBy(col("__day"))
      .agg(expr(s"hll_sketch_agg(__u, $lgK)").as("__sk"))
    val est = rollingSketchEstimates(daily, windowDays)
    rollingDistinctUsers(df, tsCol, userCol, windowDays)
      .join(est, (col("day_epoch") / 86400L).cast("long") === col("__td"))
      .select(col("day_epoch"), col("users_1d"),
        col(s"users_${windowDays}d"),
        (abs(col("__est") - col(s"users_${windowDays}d")) <=
          greatest(lit(relErr) * col(s"users_${windowDays}d"),
            lit(slack.toDouble))).as("approx_ok"))
  }

  /** Rolling-window estimate finish over per-day HLL sketches
    * (__day, __sk): each day's sketch explodes to the `windowDays`
    * trailing-window target days it participates in, per-target-day
    * `hll_union_agg` merges (sketches are mergeable by construction —
    * the entire point of the sketched lane), and the estimate comes out
    * as (__td, __est). Trailing incomplete days are cut by a broadcast
    * 1-row max. ONE definition shared by the batch checked twin and the
    * streaming per-day-sketch lane, so the two cannot drift.
    */
  private[graft] def rollingSketchEstimates(daily: DataFrame,
                                            windowDays: Int): DataFrame = {
    val mx = daily.agg(max(col("__day")).as("__mxd"))
    daily
      .select(explode(sequence(col("__day"),
        col("__day") + lit(windowDays - 1L))).as("__td"), col("__sk"))
      .crossJoin(broadcast(mx))
      .filter(col("__td") <= col("__mxd"))
      .groupBy(col("__td"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(__sk))")
        .as("__est"))
  }

  /** Holt double-exponential smoothing per key over the daily series —
    * EWMA's big sibling for trending series: a level AND a trend state,
    *   level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
    *   trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
    * seeded level_1 = x_1, trend_1 = 0. Emits per day the smoothed level,
    * trend, and one-step-ahead forecast (level + trend).
    *
    * Scale shape: identical to [[ewmaSmooth]] — the raw stream is reduced
    * to the (key, day) grain once (map-side-combinable sum), then each
    * key's bounded daily series folds left-to-right inside one
    * `aggregate()` projection; state is a [level, trend] pair per step,
    * nothing leaves the executor.
    *
    * Portability: α = 0.5 and β = 0.25 are exactly representable, day
    * totals round to 4 BEFORE the fold, and the level expression is
    * written out twice inside the trend update (no let-binding) so an
    * oracle engine can replay the identical IEEE operation sequence;
    * outputs round to 6.
    */
  def holtSmooth(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, alpha: Double = 0.5,
                 beta: Double = 0.25): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("__day"))
      .agg(round(sum(col(valueCol)), 4).as("__v"))
    val series = daily
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__day"), col("__v"))))
        .as("__ser"))
    // running [level, trend] pairs: append one 2-element array per step
    val st = aggregate(
      transform(col("__ser"), s => s.getField("__v")),
      array().cast("array<array<double>>"),
      (acc, x) => concat(acc, array(
        when(size(acc) === 0, array(x, lit(0.0)))
          .otherwise {
            val prev = element_at(acc, -1)
            val l = element_at(prev, 1)
            val t = element_at(prev, 2)
            // level' appears verbatim again inside trend' — the oracle
            // mirrors this exact doubled expression
            array(
              lit(alpha) * x + lit(1 - alpha) * (l + t),
              lit(beta) * ((lit(alpha) * x + lit(1 - alpha) * (l + t)) - l) +
                lit(1 - beta) * t)
          })))
    series.withColumn("__st", st)
      .select(col(keyCol), posexplode(col("__ser")).as(Seq("__i", "__s")),
        col("__st"))
      .select(col(keyCol),
        unix_timestamp(col("__s.__day")).as("day_epoch"),
        col("__s.__v").as("day_total"),
        round(element_at(element_at(col("__st"), col("__i") + 1), 1), 6)
          .as("level"),
        round(element_at(element_at(col("__st"), col("__i") + 1), 2), 6)
          .as("trend"),
        round(element_at(element_at(col("__st"), col("__i") + 1), 1) +
          element_at(element_at(col("__st"), col("__i") + 1), 2), 6)
          .as("forecast"))
  }

  /** Exponentially-decayed popularity per key — the recency weighting a
    * freshness-aware sampler or trending rollup uses: every event
    * counts 2^(−age_days/halfLife) at the data's reference day (max
    * day — a broadcast 1-row scalar), so yesterday ≈ 1 and one
    * half-life ago = ½. Per-(key, day) counts reduce first (the only
    * corpus pass); each day's c·2^(−age/h) term — computed as
    * exp(−ln 2 · age/h), the engine-portable form the quality logistic
    * already relies on — nano-snaps to a BIGINT immediately so the sum
    * is order-free. Returns (key, n_events, decayed_count,
    * freshness_ratio) with freshness = decayed/n (1.0 = everything
    * happened today, → 0 = stale).
    */
  def decayedPopularity(df: DataFrame, keyCol: String, tsCol: String,
                        halfLifeDays: Double = 7.0): DataFrame = {
    require(halfLifeDays > 0, s"halfLifeDays ($halfLifeDays) must be > 0")
    val daily = df
      .groupBy(col(keyCol),
        expr(s"unix_timestamp(date_trunc('DAY', $tsCol)) DIV 86400")
          .as("__day"))
      .agg(count(lit(1)).as("__c"))
    val ref = daily.agg(max(col("__day")).as("__ref"))
    val term = col("__c").cast("double") *
      exp(-(log(lit(2.0)) * (col("__ref") - col("__day")).cast("double") /
        lit(halfLifeDays)))
    daily.crossJoin(broadcast(ref))
      .select(col(keyCol), col("__c"),
        round(term * lit(1e9)).cast("long").as("__nano"))
      .groupBy(col(keyCol))
      .agg(sum(col("__c")).as("n_events"),
        round(sum(col("__nano")).cast("double") / lit(1e9), 6)
          .as("decayed_count"))
      .withColumn("freshness_ratio",
        round(col("decayed_count") / col("n_events").cast("double"), 6))
  }

  /** One-sided CUSUM changepoint monitor (Page 1954, public) per key —
    * the control-chart classic that catches a sustained upward SHIFT in
    * a daily statistic long before any single day looks anomalous:
    * S_d = max(0, S_{d−1} + x_d − target − slack), alarm when S_d
    * crosses the threshold. ENTIRELY integer: the day stat is the
    * micro-cent day mean (sum_cents·10⁶ DIV n — deterministic integer
    * division, inputs are non-negative by contract), target is the
    * integer mean of day stats, slack = target DIV `slackDiv`,
    * threshold = target DIV `thresholdDiv` — zero float risk, and the
    * recurrence is replayed exactly by a recursive-CTE oracle.
    *
    * Scale shape: event volume reduces map-side to (key, day) stats —
    * the only pass over the corpus; the sequential recurrence then runs
    * as one codegen'd `aggregate()` fold over the per-key day array
    * (the [[ewmaSmooth]]/[[holtSmooth]] discipline — state is
    * days-sized, bounded by the calendar, never event-sized). Returns
    * (key, day, day_stat, cusum, target, alarm).
    */
  def cusumAlarm(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, slackDiv: Long = 20L,
                 thresholdDiv: Long = 2L): DataFrame =
    cusumFromDayCents(
      df.groupBy(col(keyCol),
          expr(s"unix_timestamp(date_trunc('DAY', $tsCol)) DIV 86400")
            .as("day"))
        .agg(sum(round(col(valueCol) * 100).cast("long")).as("sum_cents"),
          count(lit(1)).as("n_events")),
      keyCol, slackDiv, thresholdDiv)

  /** [[cusumAlarm]] from a PRE-AGGREGATED (key, day, sum_cents,
    * n_events) relation — the monitor form: a streaming upsert keeps
    * exactly this snapshot ([[graft.streaming.EventStream]]
    * `upsertDayCents`), and because day sums and counts are mergeable
    * integers, the snapshot-scored CUSUM equals the batch statistic
    * over everything the stream has seen (StreamingSpec pins it).
    */
  def cusumFromDayCents(daily0: DataFrame, keyCol: String,
                        slackDiv: Long = 20L,
                        thresholdDiv: Long = 2L): DataFrame = {
    require(slackDiv >= 1 && thresholdDiv >= 1,
      s"divisors must be >= 1: $slackDiv, $thresholdDiv")
    val daily = daily0
      .select(col(keyCol), col("day").cast("long").as("__day"),
        col("sum_cents").cast("long").as("__sc"),
        col("n_events").cast("long").as("__n"))
      .select(col(keyCol), col("__day"),
        expr("__sc * 1000000 DIV __n").as("__x"))
      .checkpointed
    val params = daily.groupBy(col(keyCol))
      .agg(expr("sum(__x) DIV count(1)").as("__mu"))
      .select(col(keyCol), col("__mu"),
        expr(s"__mu DIV $slackDiv").as("__k"),
        expr(s"__mu DIV $thresholdDiv").as("__h"))
    val series = daily.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__day"), col("__x"))))
        .as("__ser"))
      .join(broadcast(params), Seq(keyCol))
    val cu = aggregate(
      transform(col("__ser"), s => s.getField("__x")),
      array().cast("array<bigint>"),
      (acc, x) => concat(acc, array(
        greatest(lit(0L),
          when(size(acc) === 0, lit(0L)).otherwise(element_at(acc, -1))
            + x - col("__mu") - col("__k")))))
    series.withColumn("__cu", cu)
      .select(col(keyCol), col("__mu"), col("__h"),
        posexplode(col("__ser")).as(Seq("__i", "__s")), col("__cu"))
      .select(col(keyCol), col("__s.__day").as("day"),
        col("__s.__x").as("day_stat"),
        element_at(col("__cu"), col("__i") + 1).as("cusum"),
        col("__mu").as("target"),
        (element_at(col("__cu"), col("__i") + 1) > col("__h"))
          .cast("int").as("alarm"))
  }
}
