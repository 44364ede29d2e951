package graft.ops

import graft.Materialize
import graft.Materialize.CheckpointSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-funnel analytics over an event log (north-star extension;
  * SURVEY.md §2.11) — the classic product-analytics primitive: how far
  * each user progresses through an ordered step sequence (view → click →
  * purchase), where step i counts only if one of its events occurs
  * STRICTLY AFTER the chosen step-(i−1) event. "Chosen" is the earliest
  * qualifying event by (ts, id) — the first-touch rule, with the id
  * breaking timestamp ties deterministically.
  *
  * Scale shape: one pass per step — each pass filters the log to that
  * step's type (predicate pushed to the scan), equi-joins the narrow
  * per-user frontier of the previous step, and min-aggregates
  * (partial-aggregated; a hot user's events collapse map-side). Frontiers
  * are one row per surviving user and localCheckpoint so the k-step chain
  * doesn't re-derive prefix frontiers per consumer; the caller's
  * consume-then-release hygiene applies. Nothing event-volume-sized ever
  * leaves the executors.
  */
object Funnel {

  /** Per-user funnel depth: 0 ≤ depth ≤ steps.size, the number of steps
    * completed in order. Returns (userCol, depth) with one row per
    * distinct user in the log.
    */
  def funnelDepths(events: DataFrame, steps: Seq[String],
                   userCol: String = "user_id", tsCol: String = "ts",
                   idCol: String = "event_id",
                   typeCol: String = "event_type",
                   withinOfFirst: Option[String] = None): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val after: (Column, Column, Column, Column) => Column =
      (ts, id, fts, fid) => ts > fts || (ts === fts && id > fid)
    // conversion window: steps beyond the first must land within this
    // INTERVAL of the chosen FIRST-step event ("convert within 48 hours
    // of first view"); requires a TimestampType tsCol
    val bound: (Column, Column) => Column = withinOfFirst match {
      case None => (_, _) => lit(true)
      case Some(interval) =>
        (ets, t1) => ets <= t1 + expr(s"INTERVAL $interval")
    }
    var frontier: DataFrame = null
    val frontiers = steps.map { step =>
      val cand = events.filter(col(typeCol) === step)
        .select(col(userCol), col(tsCol).as("__ets"), col(idCol).as("__eid"))
      val qualified =
        if (frontier == null) cand.withColumn("__t1c", col("__ets"))
        else cand.join(frontier, Seq(userCol))
          .filter(after(col("__ets"), col("__eid"),
            col("__fts"), col("__fid")) &&
            bound(col("__ets"), col("__t1")))
          .select(col(userCol), col("__ets"), col("__eid"),
            col("__t1").as("__t1c"))
      // the min-struct carries the first-step anchor of the CHOSEN event:
      // for step 1 the anchor IS the event; later steps inherit it
      frontier = qualified.groupBy(userCol)
        .agg(min(struct(col("__ets"), col("__eid"), col("__t1c"))).as("__m"))
        .select(col(userCol), col("__m.__ets").as("__fts"),
          col("__m.__eid").as("__fid"), col("__m.__t1c").as("__t1"))
        .checkpointed
      frontier
    }
    val users = events.select(col(userCol)).distinct()
    val joined = frontiers.zipWithIndex.foldLeft(users) {
      case (acc, (f, i)) =>
        acc.join(f.select(col(userCol), lit(1).as(s"__s$i")),
          Seq(userCol), "left")
    }
    // fold from step 0 outward so the DEEPEST completed step is the
    // outermost `when` and wins
    val depth = steps.indices.foldLeft(lit(0)) {
      (acc, i) => when(col(s"__s$i") === 1, lit(i + 1)).otherwise(acc)
    }
    joined.select(col(userCol), depth.as("depth"))
  }

  /** Funnel summary: users per depth level (0..steps.size). */
  def funnelCounts(events: DataFrame, steps: Seq[String],
                   userCol: String = "user_id", tsCol: String = "ts",
                   idCol: String = "event_id",
                   typeCol: String = "event_type",
                   withinOfFirst: Option[String] = None): DataFrame =
    funnelDepths(events, steps, userCol, tsCol, idCol, typeCol, withinOfFirst)
      .groupBy("depth").agg(count(lit(1)).as("n_users"))

  /** Session-scoped funnel: sessionize first (30-minute-default
    * inactivity gap, the q51 gaps-and-islands pass — exact in
    * microseconds), then run the ordered funnel with the SESSION as the
    * progressing unit, so step chains cannot span a session boundary.
    * Returns (depth, n_sessions).
    *
    * Scale shape: sessionization is one (user) shuffle+sort window pass
    * over the log; the narrow (session_key, ts, id, type) projection of
    * that pass is localCheckpointed so the funnel's per-step filters and
    * the distinct-session base read the materialized relation instead of
    * re-running the window per consumer (k+1 consumers for a k-step
    * funnel). The checkpoint is released before returning — the returned
    * counts frame is depth-cardinality-sized and already collected into
    * the caller's plan via the final aggregate.
    */
  def sessionFunnelCounts(events: DataFrame, steps: Seq[String],
                          gapMinutes: Long = 30,
                          userCol: String = "user_id", tsCol: String = "ts",
                          idCol: String = "event_id",
                          typeCol: String = "event_type"): DataFrame = {
    Materialize.using(sessionKeyed(events, gapMinutes, userCol, tsCol,
        idCol, typeCol)) { sess =>
      // the result is ≤ steps.size+1 rows: materialize it so the
      // session relation and the per-step frontiers can release
      Materialize.owning(funnelDepths(sess, steps, userCol = "__session_key",
          tsCol = tsCol, idCol = idCol, typeCol = typeCol))(
        _.groupBy("depth").agg(count(lit(1)).as("n_sessions"))
          .checkpointed)
    }
  }

  /** Gap-based sessionization projection shared by the session funnel
    * and session-scoped path mining: one (user) shuffle+sort window pass
    * flags inactivity gaps > `gapMinutes` (exact integer microseconds),
    * a running sum numbers each user's sessions, and the narrow
    * (__session_key, ts, id, type) relation comes back — the q51
    * gaps-and-islands discipline as a reusable building block.
    */
  private def sessionKeyed(events: DataFrame, gapMinutes: Long,
                           userCol: String, tsCol: String,
                           idCol: String, typeCol: String): DataFrame = {
    require(gapMinutes > 0, s"gapMinutes must be positive: $gapMinutes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(
      prev.isNull ||
        unix_micros(col(tsCol)) - unix_micros(prev) >
          gapMinutes * 60L * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("__new", newSession)
      .withColumn("__seq", sum(col("__new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .select(
        concat_ws(":", col(userCol).cast("string"),
          col("__seq").cast("string")).as("__session_key"),
        col(tsCol), col(idCol), col(typeCol))
  }

  /** Top-k most frequent length-`n` event-type paths ("what do users
    * actually do, in order") — sequence mining's workhorse n-gram cut:
    * each user's events collapse to one ordered type sequence ((ts, id)
    * sort inside the collected array — deterministic), sliding n-grams
    * explode, and a global count ranks them. Returns
    * (path, n_occurrences) with ' > '-joined steps, ties broken by path.
    *
    * The per-group sequence is a collect_list, so one group's memory is
    * one key's full history. With unbounded per-user histories use
    * [[frequentSessionPaths]], which keys the mining on gap-bounded
    * sessions; this operator is agnostic to what the `userCol` key
    * means, so the composition is a key swap.
    */
  def frequentPaths(events: DataFrame, n: Int = 3, k: Int = 10,
                    userCol: String = "user_id", tsCol: String = "ts",
                    idCol: String = "event_id",
                    typeCol: String = "event_type"): DataFrame = {
    require(n >= 2 && k >= 1, s"need n >= 2 (got $n), k >= 1 (got $k)")
    val seqs = events.groupBy(col(userCol)).agg(
      transform(
        array_sort(collect_list(struct(col(tsCol), col(idCol), col(typeCol)))),
        s => s.getField(typeCol)).as("__seq"))
    val grams = seqs.select(
      explode(when(size(col("__seq")) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(col("__seq")) - n),
          i => array_join(slice(col("__seq"), i + 1, lit(n)), " > ")))).as("path"))
    grams.groupBy("path").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("path"))
      .limit(k)
  }

  /** [[frequentPaths]] scoped to gap-based SESSIONS: sessionize first
    * (the shared [[sessionKeyed]] pass), then mine n-grams within each
    * session's ordered type sequence — a path cannot span an inactivity
    * gap, and per-group state is bounded by SESSION length (gap-capped
    * by construction), not user lifetime. This is the form that
    * survives unbounded per-user histories at 100 TB; the composition
    * is exactly the q150 session-funnel shape applied to path mining.
    */
  def frequentSessionPaths(events: DataFrame, n: Int = 3, k: Int = 10,
                           gapMinutes: Long = 30,
                           userCol: String = "user_id", tsCol: String = "ts",
                           idCol: String = "event_id",
                           typeCol: String = "event_type"): DataFrame = {
    Materialize.using(sessionKeyed(events, gapMinutes, userCol, tsCol,
        idCol, typeCol)) { sess =>
      frequentPaths(sess, n, k, userCol = "__session_key",
        tsCol = tsCol, idCol = idCol, typeCol = typeCol)
        // k-row result: materialize so the session relation can release
        .checkpointed
    }
  }

  /** Weekly cohort retention: users are cohorted by the ISO week of
    * their first event; each (cohort, offset) cell counts the cohort's
    * users active `offset` weeks later — the classic retention triangle.
    * Weeks epoch-encoded for cross-engine dtype stability (the q92
    * convention). Two narrow aggregates + one keyed join; the event log
    * is scanned once and reduced to distinct (user, week) immediately.
    */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    val weeks = events
      .select(col(userCol), date_trunc("week", col(tsCol)).as("__w"))
      .distinct()
    val cohorts = weeks.groupBy(col(userCol)).agg(min(col("__w")).as("__cw"))
    weeks.join(cohorts, Seq(userCol))
      .select(unix_timestamp(col("__cw")).as("cohort_week_epoch"),
        (datediff(col("__w"), col("__cw")) / 7).cast("int").as("week_offset"))
      .groupBy("cohort_week_epoch", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-user conversion latency through the whole funnel — time from the
    * chosen FIRST-step event to the chosen LAST-step event, for users who
    * complete every step ([[funnelDepths]]'s first-touch/strict-after
    * chain, same (ts, id) tie rule). Returns one row per completer:
    * (user, first_us, last_us, latency_us) in exact integer microseconds,
    * so downstream percentiles are engine-portable.
    *
    * Scale shape: identical to [[funnelDepths]] — per-step pushed-down
    * scans, narrow frontier joins, partial-aggregated minima; the anchor
    * timestamp rides the frontier structs, so no extra pass recovers it.
    */
  def conversionLatencies(events: DataFrame, steps: Seq[String],
                          userCol: String = "user_id", tsCol: String = "ts",
                          idCol: String = "event_id",
                          typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2, "conversionLatencies needs >= 2 steps")
    val after: (Column, Column, Column, Column) => Column =
      (ts, id, fts, fid) => ts > fts || (ts === fts && id > fid)
    def frontierOf(step: String, prev: Option[DataFrame]): DataFrame = {
      val cand = events.filter(col(typeCol) === step)
        .select(col(userCol), col(tsCol).as("__ets"), col(idCol).as("__eid"))
      val qualified = prev.fold(cand.withColumn("__t1c", col("__ets")))(
        cand.join(_, Seq(userCol))
          .filter(after(col("__ets"), col("__eid"),
            col("__fts"), col("__fid")))
          .select(col(userCol), col("__ets"), col("__eid"),
            col("__t1").as("__t1c")))
      qualified.groupBy(userCol)
        .agg(min(struct(col("__ets"), col("__eid"), col("__t1c"))).as("__m"))
        .select(col(userCol), col("__m.__ets").as("__fts"),
          col("__m.__eid").as("__fid"), col("__m.__t1c").as("__t1"))
    }
    // one materialised frontier per step; only the last outlives the loop
    var i = 0
    Materialize.iterate(frontierOf(steps.head, None), steps.size - 1) { f =>
      i += 1
      frontierOf(steps(i), Some(f))
    }.select(col(userCol),
      unix_micros(col("__t1")).as("first_us"),
      unix_micros(col("__fts")).as("last_us"),
      (unix_micros(col("__fts")) - unix_micros(col("__t1")))
        .as("latency_us"))
  }

  /** Last-touch conversion attribution — the marketing-analytics
    * classic: every conversion credits its revenue to the channel of
    * the most recent PRECEDING touch event by the same user (strictly
    * before, ordered by (ts, event_id) — the id breaks timestamp ties
    * deterministically); conversions with no prior touch land in the
    * −1 "unattributed" bucket. Channel is the touch's integer
    * `channelCol` bucket; revenue is exact integer cents.
    *
    * Scale shape: ONE per-user window (the carry-forward `last(...,
    * ignoreNulls)` over an unbounded-preceding-to-−1 frame — the as-of
    * discipline without a join), then a channels-sized aggregate;
    * nothing collects, no self-join over the event volume.
    */
  def lastTouchAttribution(events: DataFrame, touchType: String,
                           convType: String,
                           channelCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("__cents"),
        channelCol.cast("long").as("__kb"))
      .withColumn("__ch",
        last(when(col("event_type") === touchType, col("__kb")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === convType)
      .groupBy(coalesce(col("__ch"), lit(-1L)).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("__cents")).as("attributed_cents"))
  }
}
