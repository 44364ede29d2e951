package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape (extension,
  * not parity — the reference is batch-only; SURVEY.md §2.10).
  *
  * The batch-equivalent aggregations live in SparkEntry (q16) where the
  * DuckDB oracle can check them; these streaming variants share the same
  * logical transforms, so correctness carries over and the streaming runs
  * validate watermarking/window plumbing.
  */
object EventStream {

  /** events.parquet physical schema under nanosAsLong (ts: long nanos) —
    * the oldest testdata vintage; newer vintages store TIMESTAMP(MICROS)
    * (→ TIMESTAMP_NTZ). [[read]] adapts to whichever is on disk.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of events with `ts` normalized to TimestampType.
    * `dir` is the sf directory — the file source requires a directory, so
    * we glob-filter to the events table inside it. A streaming source
    * needs its schema declared up front, and the physical ts type varies
    * by testdata vintage (long nanos vs TIMESTAMP_NTZ micros), so we read
    * the footer schema via a one-off batch read of the same glob and
    * normalize accordingly — same dispatch as `Tables.events`. When the
    * directory has no matching files YET (the normal file-source start
    * state: files arrive later), the probe cannot infer anything — fall
    * back to [[rawSchema]] (long-nanos vintage) rather than refusing to
    * start; pre-create at least one file to pin a different vintage.
    */
  def read(spark: SparkSession, dir: String,
           glob: String = "events.parquet",
           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val physical =
      try spark.read.option("pathGlobFilter", glob).parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null &&
            (e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("unable to infer schema")) =>
          rawSchema
      }
    val r0 = spark.readStream
      .schema(physical)
      .option("pathGlobFilter", glob)
    val r1 = maxFilesPerTrigger.fold(r0)(n => r0.option("maxFilesPerTrigger", n))
    val raw = r1.parquet(dir)
    physical("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Tumbling 1-hour windowed rollup with a 10-minute watermark — the
    * streaming twin of q16_hourly_rollup.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Session windows per user with a 30-minute gap. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Per-day HLL user sketches over the event stream — the streaming
    * half of q182's sketched rolling-WAU lane: a tumbling 1-day window
    * maintains one bounded-size sketch per day (HLL insertion is
    * idempotent, so raw events need no pre-dedup), emitting
    * (__day, __sk) rows a sink can store. The rolling union is NOT a
    * second stateful aggregation in the stream — sketches are mergeable
    * by construction, so the windowed merge runs over the STORED per-day
    * sketches ([[rollingWauFromSketches]]), which is exactly why the
    * sketched lane scales: per-day state is lgK-bounded and the 7-day
    * fan-out touches sketches, not day×user rows.
    */
  def dailyUserSketches(events: DataFrame, lgK: Int = 12): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day"))
      .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("__sk"))
      .select((unix_timestamp(col("window.start")) / 86400L).cast("long")
        .as("__day"), col("__sk"))

  /** Rolling-WAU finish over per-day sketches a stream (or batch)
    * maintained — delegates to the ONE shared
    * `Resample.rollingSketchEstimates` definition, so the streaming twin
    * is pinned to q182's batch estimate lane by construction. Returns
    * (day_epoch, users_<w>d_est).
    */
  def rollingWauFromSketches(daily: DataFrame, windowDays: Int = 7): DataFrame =
    graft.ops.Resample.rollingSketchEstimates(daily, windowDays)
      .select((col("__td") * 86400L).as("day_epoch"),
        col("__est").as(s"users_${windowDays}d_est"))

  /** Streaming exact dedup: duplicates of `idCols` arriving within the
    * watermark horizon are dropped; state for a key is evicted once the
    * watermark passes it (bounded state — the batch `dropDuplicates` has
    * no eviction story on an infinite stream).
    */
  def dedupedStream(events: DataFrame, idCols: Seq[String],
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  case class EventRow(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
                        n_events: Long, session_value: Double)
  case class TypedEvent(event_type: String, ts: java.sql.Timestamp, value: Double)
  case class EwmaState(s: Double, lastMs: Long, n: Long)
  case class EwmaOut(event_type: String, ewma: Double, last_ts: Long, n_events: Long)

  /** Streaming EWMA per key — the stateful-streaming twin of
    * `Resample.ewmaSmooth`: one small (smoothed value, last-ts, count)
    * struct per key, refreshed every micro-batch via mapGroupsWithState
    * (Update output mode — the sink upserts the latest smoothed metric per
    * key, the live-dashboard contract). Within a batch this key's slice is
    * folded in (ts, value) order so the result does not depend on shuffle
    * arrival order; across batches the state carries the running value, so
    * the stream converges to the same left-to-right fold the batch
    * operator computes. NoTimeout: metric keys are a small fixed set
    * (event types), so state never needs eviction — keyed-by-user variants
    * should add an event-time timeout like sessionizeStateful.
    */
  def ewmaStateful(events: DataFrame, alpha: Double = 0.3): Dataset[EwmaOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_type", "ts", "value").as[TypedEvent]
      .groupByKey(_.event_type)
      .mapGroupsWithState[EwmaState, EwmaOut](GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var cur = state.getOption
          for (e <- sorted) {
            cur = Some(cur match {
              case None => EwmaState(e.value, e.ts.getTime, 1L)
              case Some(st) =>
                EwmaState(alpha * e.value + (1 - alpha) * st.s,
                  math.max(st.lastMs, e.ts.getTime), st.n + 1)
            })
          }
          val st = cur.get // rows is non-empty for an invoked group
          state.update(st)
          EwmaOut(key, st.s, st.lastMs / 1000, st.n)
      }
  }

  case class HoltState(level: Double, trend: Double, lastMs: Long, n: Long)
  case class HoltOut(event_type: String, level: Double, trend: Double,
                     forecast: Double, last_ts: Long, n_events: Long)

  /** Stateful Holt double-exponential smoother — `Resample.holtSmooth`'s
    * streaming twin, extending [[ewmaStateful]]'s pattern to a
    * two-component (level, trend) state: level' = α·x + (1−α)·(l + t),
    * trend' = β·(level' − l) + (1−β)·t, seeded (x₁, 0). Update-mode
    * per-key upsert; each batch's slice folds in (ts, value) order, so
    * the final state equals the scalar left fold over the full ordered
    * series (unit-pinned in StreamingSpec).
    */
  def holtStateful(events: DataFrame, alpha: Double = 0.5,
                   beta: Double = 0.25): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_type", "ts", "value").as[TypedEvent]
      .groupByKey(_.event_type)
      .mapGroupsWithState[HoltState, HoltOut](GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[HoltState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var cur = state.getOption
          for (e <- sorted) {
            cur = Some(cur match {
              case None => HoltState(e.value, 0.0, e.ts.getTime, 1L)
              case Some(st) =>
                val lvl = alpha * e.value + (1 - alpha) * (st.level + st.trend)
                HoltState(lvl, beta * (lvl - st.level) + (1 - beta) * st.trend,
                  math.max(st.lastMs, e.ts.getTime), st.n + 1)
            })
          }
          val st = cur.get // rows is non-empty for an invoked group
          state.update(st)
          HoltOut(key, st.level, st.trend, st.level + st.trend,
            st.lastMs / 1000, st.n)
      }
  }

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * explicit-state twin of `userSessions` (session_window), shown because
    * real pipelines need custom per-session logic (caps, early emission,
    * side outputs) that the built-in window can't express. State is one
    * small struct per active user; event-time timeout closes sessions at
    * watermark + gap.
    */
  def sessionizeStateful(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "ts", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.start / 1000, s.last / 1000, s.n, s.sum))
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            // events within a batch are not ordered — sort this user's slice
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.start / 1000, s.last / 1000, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Stream-static enrichment join: the static dimension is joined fresh
    * per micro-batch (broadcast — it is the classic "enrich events with a
    * dim table" pattern). Stateless: no watermark required, and the static
    * side may be swapped between restarts without state migration.
    */
  def enriched(events: DataFrame, dim: DataFrame,
               key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval self-join: purchases within `withinMinutes`
    * AFTER a click by the same user. Both sides carry a watermark and the
    * join condition bounds event-time distance, so the state store retains
    * each side only for watermark + interval — bounded state on an
    * unbounded stream (an unconstrained stream-stream join would grow
    * state forever).
    */
  def clickPurchaseJoin(events: DataFrame, withinMinutes: Int = 60): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming heavy hitters: the Space-Saving aggregate over an unbounded
    * stream, state bounded at `capacity` entries per aggregation state no
    * matter how many distinct keys flow past — the property that makes a
    * frequent-items dashboard viable on an unbounded keyspace (an exact
    * streaming count per key grows state forever). Complete-mode global
    * aggregation: each micro-batch folds into the same sketch state.
    */
  def heavyHitters(events: DataFrame, itemCol: String = "event_type",
                   capacity: Int = 64, k: Int = 5): DataFrame =
    events
      .agg(graft.functions.spaceSavingTopK(col(itemCol), capacity, k).as("__hh"))
      .select(explode(col("__hh")).as("e"))
      .select(col("e.item").as("item"), col("e.count_est").as("count_est"),
        col("e.count_err").as("count_err"))

  /** Merge one micro-batch into a day-partitioned daily-totals table:
    * reduce the batch to (event_type, day), read back ONLY the affected
    * day partitions (partition-pruned — the day list is a tiny collect),
    * sum with the stored totals, and dynamically overwrite just those
    * partitions. The maintenance cost per trigger is proportional to the
    * batch's day span, not the table's history.
    *
    * At-least-once caveat: re-applying an already-merged batch after a
    * failure double counts; exactly-once needs a committed-batch-id
    * ledger (or idempotent event-id dedup upstream) — out of scope here.
    */
  def upsertDailyTotals(batch: DataFrame, dest: String): Unit = {
    val spark = batch.sparkSession
    val daily = batch
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(col("value")).as("day_total"), count(lit(1)).as("n_events"))
    val days = daily.select("day").distinct()
      .collect().map(_.getString(0)).toSeq
    if (days.nonEmpty) {
      val destPath = new org.apache.hadoop.fs.Path(dest)
      val destExists = destPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(destPath) // Hadoop FS, not java.io — dest may be hdfs://s3a://
      val existing =
        if (destExists)
          spark.read.parquet(dest)
            // partition-dir values type-infer back as DATE; normalize so
            // the union with the batch's string days is exact, not coerced
            .withColumn("day", col("day").cast("string"))
            .filter(col("day").isin(days: _*))
            .select("event_type", "day", "day_total", "n_events")
        else daily.limit(0)
      val merged = existing.unionByName(daily)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("day_total")).as("day_total"),
          sum(col("n_events")).as("n_events"))
      graft.io.IO.overwritePartitions(merged, dest, Seq("day"))
    }
  }

  /** Integer day-cents upsert — the [[upsertDailyTotals]] discipline
    * with EXACT mergeable state (sum of cents + event count per
    * (event_type, epoch-day)), so a snapshot-scored statistic like
    * [[graft.ops.Resample.cusumFromDayCents]] is bit-equal to its batch
    * twin no matter how deliveries were batched. Same
    * partition-overwrite idempotence shape: only the touched days
    * rewrite.
    */
  def upsertDayCents(batch: DataFrame, dest: String): Unit = {
    val spark = batch.sparkSession
    val daily = batch
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('DAY', ts)) DIV 86400").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        count(lit(1)).as("n_events"))
    val days = daily.select("day").distinct()
      .collect().map(_.getLong(0)).toSeq
    if (days.nonEmpty) {
      val destPath = new org.apache.hadoop.fs.Path(dest)
      val destExists = destPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(destPath)
      val existing =
        if (destExists)
          spark.read.parquet(dest)
            .withColumn("day", col("day").cast("long"))
            .filter(col("day").isin(days: _*))
            .select("event_type", "day", "sum_cents", "n_events")
        else daily.limit(0)
      val merged = existing.unionByName(daily)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("sum_cents")).as("sum_cents"),
          sum(col("n_events")).as("n_events"))
      graft.io.IO.overwritePartitions(merged, dest, Seq("day"))
    }
  }

  /** Live CUSUM changepoint monitor: score the streamed day-cents
    * snapshot at `dest` through the ONE shared
    * [[graft.ops.Resample.cusumFromDayCents]] definition.
    */
  def cusumFromStore(spark: SparkSession, dest: String): DataFrame =
    graft.ops.Resample.cusumFromDayCents(
      spark.read.parquet(dest)
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("sum_cents"), col("n_events")),
      "event_type")

  /** End-to-end incremental ETL: every micro-batch upserts the
    * day-partitioned totals table via [[upsertDailyTotals]] — the
    * streaming half of the dynamic-partition-overwrite maintenance shape.
    */
  def incrementalDailyEtl(events: DataFrame, dest: String): DataStreamWriter[Row] =
    events.writeStream
      .foreachBatch((batch: Dataset[Row], _: Long) =>
        upsertDailyTotals(batch.toDF(), dest))

  /** File-source stream over the `documents` table (same directory-glob
    * contract as [[read]]) — the corpus-side input for streaming text
    * hygiene twins.
    */
  def readDocuments(spark: SparkSession, dir: String,
                    glob: String = "documents.parquet"): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** File-source stream over the `embeddings` table — probe input for the
    * streaming ANN tier ([[graft.ops.Similarity.nearest1NNRouted]]).
    */
  def readEmbeddings(spark: SparkSession, dir: String,
                     glob: String = "embeddings.parquet"): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** Streaming PII scrub — the streaming twin of q112:
    * [[graft.ops.Redact.scrub]] is a stateless map-only projection
    * (codegen'd regex chain), so it applies to an unbounded stream
    * unchanged: no watermark, no state store, per-row cost identical to
    * batch. StreamingSpec pins the output to the batch scrub exactly.
    */
  def scrubbedDocuments(docs: DataFrame): DataFrame =
    graft.ops.Redact.scrub(docs, "text")
      .select(col("doc_id"), col("lang"), col("redacted"),
        col("n_emails"), col("n_ips"), col("n_phones"))

  /** Streaming DSIR scorer — the streaming twin of q169's weights: the
    * corpus-global λ table cannot derive per-row, so the stream applies
    * a FROZEN snapshot ([[graft.ops.Sampling.dsirLambdaPpm]], refreshed
    * periodically batch-side — the mixtureGate discipline) through the
    * map-only [[graft.ops.Sampling.dsirScorePpm]] fold: no watermark, no
    * state store, and the score is bit-identical to the batch
    * `dsir_ppm` given the same snapshot (integer sum, order-free).
    */
  def dsirScoredDocuments(docs: DataFrame, lamPpm: Map[Long, Long],
                          buckets: Int = 1024): DataFrame =
    docs.select(col("doc_id"), col("source"),
      graft.ops.Sampling.dsirScorePpm(col("text"), lamPpm, buckets)
        .as("dsir_ppm"))

  /** Streaming boilerplate scrub — the streaming twin of q135: the
    * corpus-wide document-frequency decision cannot run per-row, so the
    * stream applies a FROZEN hash-pair snapshot
    * ([[graft.ops.Dedup.boilerplateChunkHashes]], refreshed periodically
    * batch-side — the mixtureGate snapshot discipline) through the
    * map-only [[graft.ops.Dedup.removeBoilerplateColumn]] expression: no
    * watermark, no state store. StreamingSpec pins the cleaned text to
    * the batch operator given the same snapshot.
    */
  def cleanedDocuments(docs: DataFrame, boilerHashes: Seq[(Long, Long)],
                       chunkTokens: Int = 3): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      graft.ops.Dedup.removeBoilerplateColumn(col("text"), boilerHashes,
        chunkTokens).as("clean_text"))

  /** Streaming boilerplate scrub via the JOIN path — the web-scale twin
    * of [[cleanedDocuments]]: the decision set stays a DataFrame side
    * input ([[graft.ops.Dedup.boilerplateChunkSet]], typically a
    * persisted snapshot) joined per micro-batch through
    * [[graft.ops.Dedup.scrubBoilerplate]] under `foreachBatch` (the
    * [[upsertDailyTotals]] discipline), never a collected driver
    * literal — at crawl scale the boilerplate vocabulary grows without
    * bound (every shared header/footer across billions of pages), which
    * is exactly the snapshot the frozen-literal tier must not hold.
    * Each batch's scrubbed rows append to `dest`; re-running a replayed
    * batch re-appends (at-least-once, the upsert caveat). StreamingSpec
    * pins the join path text-for-text to the batch operator.
    */
  def scrubbedDocuments(docs: DataFrame, boilerSet: DataFrame,
                        dest: String,
                        chunkTokens: Int = 3): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch((batch: Dataset[Row], _: Long) =>
        graft.ops.Dedup.scrubBoilerplate(batch.toDF(), boilerSet,
            chunkTokens = chunkTokens)
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dest))

  /** Streaming BPE encoder — the streaming twin of q179's inference
    * half: training needs corpus-global pair counts, so the stream
    * applies a FROZEN merge table ([[graft.ops.TextAnalysis
    * .bpeTrainMerges]] collected batch-side, refreshed when the
    * tokenizer retrains — the dsirScorePpm snapshot discipline) through
    * the map-only compiled replace chain: no watermark, no state store,
    * no vocabulary join, and the per-doc stats are identical to the
    * batch encoder given the same merges (StreamingSpec pins it).
    */
  def bpeEncodedDocuments(docs: DataFrame,
                          merges: Seq[(String, String)]): DataFrame =
    graft.ops.TextAnalysis.bpeEncodedLengthsFrozen(docs, "doc_id", "text",
      merges)

  /** Streaming winsorizer — the streaming twin of q190's clamp: the
    * per-group fences need a global quantile pass, so the stream
    * applies a FROZEN snapshot ([[graft.ops.Quantiles.winsorFences]],
    * refreshed periodically batch-side — the mixtureGate discipline) as
    * two map literals: no watermark, no state store. A group absent
    * from the snapshot passes through unclamped (a NEW segment should
    * surface raw, not be clamped by another segment's fences).
    * StreamingSpec pins the clamped values to the batch clamp given the
    * same snapshot.
    */
  def winsorizedValues(events: DataFrame,
                       fences: Map[String, (Double, Double)],
                       typeCol: String = "event_type",
                       valueCol: String = "value"): DataFrame = {
    val loM = typedlit(fences.map { case (k, v) => k -> v._1 })
    val hiM = typedlit(fences.map { case (k, v) => k -> v._2 })
    val lo = element_at(loM, col(typeCol))
    val hi = element_at(hiM, col(typeCol))
    events.select(col("event_id"), col(typeCol), col(valueCol),
      when(lo.isNull, col(valueCol))
        .otherwise(greatest(lo, least(hi, col(valueCol))))
        .as("value_winsorized"))
  }

  /** Per-micro-batch upsert of per-category counts into a stored
    * snapshot table — the maintenance half of the streaming drift
    * monitor. Counts are ADDITIVE, so merging each batch's aggregate
    * into the store converges to exactly the batch aggregation of
    * everything seen (the upsertDailyTotals merge discipline; same
    * at-least-once caveat). The store is categories-sized by
    * construction, so the localCheckpoint-then-overwrite is a tiny
    * bounded relation, never the stream.
    */
  def upsertCategoryCounts(batch: DataFrame, catCol: String,
                           dest: String): Unit = {
    val spark = batch.sparkSession
    val bc = batch.groupBy(col(catCol)).agg(count(lit(1)).as("n"))
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val destExists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val existing =
      if (destExists) spark.read.parquet(dest) else bc.limit(0)
    val merged = existing.unionByName(bc)
      .groupBy(col(catCol)).agg(sum(col("n")).as("n"))
      // materialize before overwriting the path being read
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(merged)
  }

  /** Streaming drift monitor — the streaming twin of q132: every
    * micro-batch folds its category counts into the stored snapshot via
    * [[upsertCategoryCounts]]; scoring reads the snapshot against a
    * frozen reference count table through the ONE shared
    * [[graft.ops.Diff.distributionDriftFromCounts]] definition, so the
    * monitor's drift rows equal the batch q132 relation over everything
    * the stream has seen (StreamingSpec pins it).
    */
  def categoryCountMonitor(docs: DataFrame, catCol: String,
                           dest: String): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch((batch: Dataset[Row], _: Long) =>
        upsertCategoryCounts(batch.toDF(), catCol, dest))

  /** Streaming NUMERIC drift monitor — the ECDF sibling of
    * [[categoryCountMonitor]]: every micro-batch folds its (value →
    * count) histogram into the stored snapshot (same upsert — the
    * value column is just the key), and [[lengthDriftFromStore]] scores
    * the snapshot against a FROZEN reference histogram through the ONE
    * shared [[graft.ops.Quantiles.ksFromCounts]] definition — KS ppm
    * over everything the stream has seen, pinned to the batch statistic
    * (StreamingSpec).
    */
  def valueCountMonitor(docs: DataFrame, valueCol: String,
                        dest: String): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch((batch: Dataset[Row], _: Long) =>
        upsertCategoryCounts(batch.toDF(), valueCol, dest))

  /** KS ppm of the streamed snapshot at `dest` vs a frozen reference
    * (value, n) histogram.
    */
  def lengthDriftFromStore(spark: SparkSession, dest: String,
                           reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.ops.Quantiles.ksFromCounts(
      spark.read.parquet(dest)
        .select(col(valueCol), col("n")),
      reference, valueCol, "n")

  /** PSI of the streamed snapshot at `dest` vs a frozen reference
    * (value, n) histogram — the mass-weighted companion to
    * [[lengthDriftFromStore]], reading the SAME [[valueCountMonitor]]
    * snapshot (one ingest loop feeds both drift statistics) and scoring
    * it through the one shared [[graft.ops.Quantiles.psiFromCounts]]
    * definition, so the live monitor equals the batch statistic over
    * everything the stream has seen (StreamingSpec pins it).
    */
  def psiDriftFromStore(spark: SparkSession, dest: String,
                        reference: DataFrame, valueCol: String,
                        bins: Int = 10): DataFrame =
    graft.ops.Quantiles.psiFromCounts(
      spark.read.parquet(dest)
        .select(col(valueCol), col("n")),
      reference, valueCol, "n", bins)

  /** Streaming score/label count upsert — the live-eval state for
    * [[rocFromStore]]: every micro-batch scores its documents with the
    * frozen quality logistic against the is-English proxy label and
    * folds per-threshold (n_pos, n_neg) counts into the snapshot.
    * The threshold domain is BOUNDED (round-6 scores, ≤ 10⁶+1 rows) so
    * the whole-snapshot rewrite per batch is a bounded-state fold, not
    * a corpus-sized one; the merged relation localCheckpoints BEFORE
    * the overwrite so the read-your-own-write cycle is safe. Counts
    * are mergeable integers — delivery batching is invisible (pinned).
    */
  def upsertScoreCounts(batch: DataFrame, dest: String): Unit = {
    val spark = batch.sparkSession
    val scored = graft.ops.TextAnalysis
      .qualityLogistic(batch, carryCols = Seq("lang"))
      .select(col("quality_prob").as("threshold"),
        (col("lang") === "en").cast("long").as("__y"))
      .groupBy(col("threshold"))
      .agg(sum(col("__y")).as("n_pos"),
        (count(lit(1)) - sum(col("__y"))).as("n_neg"))
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(scored)
      else scored)
      .groupBy(col("threshold"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Streaming twin of q282's quarantine census: merge a micro-batch's
    * per-modality decode outcomes into the standing snapshot at `dest` —
    * the live bad-blob monitor a continuous media-ingest loop reads (a
    * quarantine-rate step change is how blob corruption upstream
    * surfaces first). `decoded` is any quarantined decode output
    * carrying a `modality` column and the `decode_error` lane; counts
    * merge by sum ([[upsertScoreCounts]]'s snapshot discipline), so
    * multi-batch ≡ one-shot (StreamingSpec pins it).
    */
  def upsertDecodeCensus(decoded: DataFrame, dest: String): Unit = {
    val spark = decoded.sparkSession
    val census = graft.ops.Multimodal.decodeCensus(decoded,
      groupCols = Seq("modality"))
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(census)
      else census)
      .groupBy(col("modality"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_decoded")).as("n_decoded"),
        sum(col("n_quarantined")).as("n_quarantined"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Streaming twin of q301's preference leaderboard: merge a
    * micro-batch of (winner, loser) comparison records into the standing
    * head-to-head matchup snapshot at `dest`. Matchup counts are
    * mergeable integers ([[upsertScoreCounts]]'s snapshot discipline) —
    * delivery batching is invisible (multi-batch ≡ one-shot, pinned),
    * and the snapshot stays MATCHUP-granular (bounded by the item
    * universe, never comparison-granular) however long the preference
    * stream runs — the shape a continuously-collected RLHF comparison
    * log needs.
    */
  def upsertMatchups(batch: DataFrame, dest: String): Unit = {
    val spark = batch.sparkSession
    val m = graft.ops.Preference.matchups(batch)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(m)
      else m)
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("wins_a")).as("wins_a"), sum(col("wins_b")).as("wins_b"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Live leaderboard off the streamed matchup snapshot through the ONE
    * shared [[graft.ops.Preference.leaderboardFromMatchups]] fold —
    * Copeland/Borda/win-ppm over every comparison the stream has seen,
    * equal to the batch q301 statistic (StreamingSpec pins it).
    */
  def leaderboardFromStore(spark: SparkSession, dest: String): DataFrame =
    graft.ops.Preference.leaderboardFromMatchups(spark.read.parquet(dest))

  /** Live Bradley–Terry strengths off the SAME streamed matchup snapshot
    * — the matchup relation is the complete mergeable state for the MM
    * fit too (wins and game counts per pair are all the recursion
    * reads), so the live strength table equals the batch q316 statistic
    * through the ONE shared
    * [[graft.ops.Preference.bradleyTerryFromMatchups]] recursion
    * (StreamingSpec pins multi-batch ≡ one-shot).
    */
  def bradleyTerryFromStore(spark: SparkSession, dest: String,
                            rounds: Int = 3): DataFrame =
    graft.ops.Preference.bradleyTerryFromMatchups(
      spark.read.parquet(dest), rounds)

  /** Streaming twin of q304's collocation board: merge a micro-batch's
    * windowed co-occurrence pair counts into the standing (a, b, n)
    * snapshot at `dest`. Pairs never cross document boundaries and docs
    * arrive whole, so per-batch pair counts summed across batches ARE
    * the whole-corpus counts — and marginals/N derive from the counts,
    * making the (a, b, n) relation the COMPLETE mergeable state
    * (StreamingSpec pins multi-batch ≡ one-shot). Snapshot is
    * pair-vocabulary-sized, never corpus-sized.
    */
  def upsertCooccurrence(batch: DataFrame, dest: String,
                         window: Int = 4): Unit = {
    val spark = batch.sparkSession
    val m = graft.ops.TextAnalysis.windowedPairCounts(batch, window)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(m)
      else m)
      .groupBy(col("a"), col("b"))
      .agg(sum(col("n")).as("n"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Streaming twin of q309's blocklist census: merge a micro-batch's
    * per-phrase counts into the standing (phrase, docs_hit, total_hits,
    * n_docs) snapshot at `dest`. Docs arrive whole and every phrase
    * reports a row per batch (zero-hit included), so per-batch counts
    * summed across batches ARE the whole-corpus counts — the relation is
    * the COMPLETE mergeable state (StreamingSpec pins multi-batch ≡
    * one-shot). Snapshot is |phrases|-sized, never corpus-sized.
    */
  def upsertBlocklistCounts(batch: DataFrame, dest: String,
                            phrases: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val m = graft.ops.TextAnalysis.blocklistCounts(batch, phrases)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(m)
      else m)
      .groupBy(col("phrase"))
      .agg(sum(col("docs_hit")).as("docs_hit"),
        sum(col("total_hits")).as("total_hits"),
        sum(col("n_docs")).as("n_docs"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Live blocklist board off the streamed count snapshot through the
    * ONE shared [[graft.ops.TextAnalysis.blocklistCensusFromCounts]]
    * fold — per-phrase incidence over every document the stream has
    * seen, equal to the batch q309 statistic (StreamingSpec pins it).
    */
  def blocklistCensusFromStore(spark: SparkSession,
                               dest: String): DataFrame =
    graft.ops.TextAnalysis.blocklistCensusFromCounts(
      spark.read.parquet(dest))

  /** Streaming twin of the privacy family (q302/q307/q308): merge a
    * micro-batch's (QI, sensitive-value) cell counts into the standing
    * snapshot at `dest`. Docs arrive whole and every audit derives from
    * the counts, so the cell relation is the COMPLETE mergeable state
    * for k-anonymity, l-diversity AND t-closeness at once (StreamingSpec
    * pins all three multi-batch ≡ one-shot). Snapshot is (QI-cardinality
    * × sensitive-cardinality)-sized, never corpus-sized — the live
    * release-review posture over everything a stream has shipped.
    */
  def upsertPrivacyCells(batch: DataFrame, dest: String,
                         qiCols: Seq[String],
                         sensitiveCol: String): Unit = {
    val spark = batch.sparkSession
    val m = graft.ops.Redact.sensitiveCells(batch, qiCols, sensitiveCol)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(m)
      else m)
      .groupBy((qiCols :+ sensitiveCol).map(col): _*)
      .agg(sum(col("n_gv")).as("n_gv"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Live k-anonymity census off the streamed privacy-cell snapshot
    * through the ONE shared [[graft.ops.Redact.kAnonymityFromCells]]
    * fold — equal to the batch q302 statistic (StreamingSpec pins it).
    */
  def kAnonymityFromStore(spark: SparkSession, dest: String,
                          qiCols: Seq[String],
                          thresholds: Seq[Int] = Seq(2, 5, 10, 25))
      : DataFrame =
    graft.ops.Redact.kAnonymityFromCells(spark.read.parquet(dest), qiCols,
      thresholds)

  /** Live l-diversity census off the streamed privacy-cell snapshot —
    * the shared [[graft.ops.Redact.lDiversityFromCells]] fold, equal to
    * the batch q307 statistic (StreamingSpec pins it).
    */
  def lDiversityFromStore(spark: SparkSession, dest: String,
                          qiCols: Seq[String], sensitiveCol: String,
                          thresholds: Seq[Int] = Seq(2, 3, 5)): DataFrame =
    graft.ops.Redact.lDiversityFromCells(spark.read.parquet(dest), qiCols,
      sensitiveCol, thresholds)

  /** Live t-closeness census off the streamed privacy-cell snapshot —
    * the shared [[graft.ops.Redact.tClosenessFromCells]] fold, equal to
    * the batch q308 statistic (StreamingSpec pins it).
    */
  def tClosenessFromStore(spark: SparkSession, dest: String,
                          qiCols: Seq[String], sensitiveCol: String,
                          tPpmThresholds: Seq[Int] =
                            Seq(100000, 250000, 500000)): DataFrame =
    graft.ops.Redact.tClosenessFromCells(spark.read.parquet(dest), qiCols,
      sensitiveCol, tPpmThresholds)

  /** Streaming twin of the q312 release-gate capstone: merge a
    * micro-batch's (source, length-bucket, lang) doc/PII/blocklist cell
    * counts into the standing snapshot at `dest`. Docs arrive whole and
    * the whole scorecard derives from the counts, so the cell relation
    * is the COMPLETE mergeable state — the live per-supplier release
    * posture over everything the stream has shipped (StreamingSpec pins
    * multi-batch ≡ one-shot). Snapshot is QI-cardinality-sized.
    */
  def upsertReleaseGateCells(batch: DataFrame, dest: String,
                             phrases: Seq[String],
                             srcCol: String = "source",
                             langCol: String = "lang",
                             lenCol: String = "n_chars",
                             bucketWidth: Int = 200): Unit = {
    val spark = batch.sparkSession
    val m = graft.ops.Redact.releaseGateCells(batch, phrases, srcCol,
      langCol, lenCol, bucketWidth)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val exists = destPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(destPath)
    val merged = (if (exists)
        spark.read.parquet(dest).unionByName(m)
      else m)
      .groupBy(col(srcCol), col("len_bucket"), col(langCol))
      .agg(sum(col("n_docs_cell")).as("n_docs_cell"),
        sum(col("pii_docs")).as("pii_docs"),
        sum(col("blocked_docs")).as("blocked_docs"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(dest)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(merged)
  }

  /** Live release scorecard off the streamed cell snapshot through the
    * ONE shared [[graft.ops.Redact.releaseGateFromCells]] fold — equal
    * to the batch q312 statistic (StreamingSpec pins it).
    */
  def releaseGateFromStore(spark: SparkSession, dest: String,
                           srcCol: String = "source",
                           langCol: String = "lang"): DataFrame =
    graft.ops.Redact.releaseGateFromCells(spark.read.parquet(dest),
      srcCol, langCol)

  /** Live collocation board off the streamed co-occurrence snapshot
    * through the ONE shared
    * [[graft.ops.TextAnalysis.ppmiFromPairCounts]] fold — PPMI top-k per
    * word over everything the stream has seen, equal to the batch q304
    * statistic (StreamingSpec pins it).
    */
  def ppmiFromStore(spark: SparkSession, dest: String, minCount: Long = 5,
                    k: Int = 5): DataFrame =
    graft.ops.TextAnalysis.ppmiFromPairCounts(
      spark.read.parquet(dest), minCount, k)

  /** Live PPMI power-iteration direction off the SAME streamed
    * co-occurrence snapshot — the (a, b, n) counts are the complete
    * mergeable state for the factorization too (PPMI weights and the
    * matvec both derive from them), so the live embedding direction
    * equals the batch q317 statistic through the ONE shared
    * [[graft.ops.TextAnalysis.ppmiPowerIterationFromCounts]] fold
    * (StreamingSpec pins multi-batch ≡ one-shot).
    */
  def ppmiPowerIterationFromStore(spark: SparkSession, dest: String,
                                  minCount: Long = 5,
                                  rounds: Int = 3): DataFrame =
    graft.ops.TextAnalysis.ppmiPowerIterationFromCounts(
      spark.read.parquet(dest), minCount, rounds)

  /** The rank-k twin off the SAME snapshot: the deflated directions
    * (q323) are a pure fold of the (a, b, n) counts too, so the live
    * rank-2 embedding equals the batch statistic through the ONE
    * shared [[graft.ops.TextAnalysis.ppmiTopDirectionsFromCounts]]
    * fold (StreamingSpec pins multi-batch ≡ one-shot).
    */
  def ppmiTopDirectionsFromStore(spark: SparkSession, dest: String,
                                 minCount: Long = 5, rounds: Int = 3,
                                 k: Int = 2): DataFrame =
    graft.ops.TextAnalysis.ppmiTopDirectionsFromCounts(
      spark.read.parquet(dest), minCount, rounds, k)

  /** Streaming cross-corpus KN scorer — the q332/q327 twin: the
    * reference LM's count tables cannot derive per-row (they are a
    * corpus-global aggregate), so each micro-batch scores against a
    * FROZEN reference snapshot
    * ([[graft.ops.TextAnalysis.knReferenceCounts]] persisted at
    * `refCountsDest`, refreshed periodically batch-side — the
    * dsirScorePpm/mixtureGate snapshot discipline) through the ONE
    * shared [[graft.ops.TextAnalysis.refNgramKnFromCounts]] chain:
    * type-granular LEFT joins, the full backoff ladder, the
    * continuation-Laplace floor. Per-doc scores depend only on the
    * snapshot, so multi-batch union ≡ the one-shot batch statistic
    * (StreamingSpec pins it). Use under `foreachBatch` — the chain
    * aggregates per document, which is a batch-side shape.
    */
  def refKnScoredDocuments(spark: SparkSession, docs: DataFrame,
                           refCountsDest: String, order: Int = 5,
                           discount: Double = 0.75): DataFrame =
    graft.ops.TextAnalysis.refNgramKnFromCounts(docs,
      spark.read.parquet(refCountsDest), "doc_id", "text", order,
      discount)

  /** Live threshold-free classifier report: the streamed score-count
    * snapshot at `dest` through the ONE shared
    * [[graft.ops.TextAnalysis.rocPrReportFromCounts]] definition —
    * AUC/Gini/AP/best-F1 over everything the stream has seen, equal to
    * the batch q242 statistic (StreamingSpec pins it).
    */
  def rocFromStore(spark: SparkSession, dest: String): DataFrame =
    graft.ops.TextAnalysis.rocPrReportFromCounts(
      spark.read.parquet(dest))

  /** Packing plan off the streamed token-count snapshot at `dest` — the
    * loader-planning twin of the drift monitors: the SAME
    * [[valueCountMonitor]] histogram that feeds KS/PSI scoring also
    * feeds [[graft.ops.Packing.complementPackingPlanFromCounts]], so a
    * curation stream continuously knows what its next training batch
    * layout looks like. StreamingSpec pins the streamed plan equal to
    * the batch plan over the same corpus.
    */
  def packingPlanFromStore(spark: SparkSession, dest: String,
                           valueCol: String, capacity: Int): DataFrame =
    graft.ops.Packing.complementPackingPlanFromCounts(
      spark.read.parquet(dest).select(col(valueCol), col("n")),
      valueCol, "n", capacity)

  /** Streaming frame sampling — the streaming twin of q151: synthesize →
    * [[graft.ops.Multimodal.frameSample]] is a stateless projection plus
    * per-row explode (flatMap), so it applies to an unbounded media
    * stream in append mode with no watermark and no state store — the
    * shape of a video-ingest pipeline emitting frame features as files
    * land. StreamingSpec pins frames and features to the batch operator.
    */
  def mediaFrames(docs: DataFrame, fps: Double = 30.0,
                  featureDims: Int = 4): DataFrame =
    graft.ops.Multimodal.frameSample(
      graft.ops.Multimodal.synthesize(docs.sparkSession,
        docs.select("doc_id"), "doc_id"), fps, featureDims)

  /** Streaming language-ID confusion counts — the streaming twin of
    * q199's evaluation core: the prediction is a stateless codegen'd
    * projection ([[graft.ops.TextAnalysis.languageIdDf]]), and the
    * (lang, lang_pred) cells are a mergeable running count (complete
    * mode, |langs|²-bounded state) — per-class precision/recall/F1
    * derive from this tiny relation at read time with q199's integer
    * identities. StreamingSpec pins the cells to the batch confusion
    * exactly.
    */
  def langIdConfusion(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.languageIdDf(docs)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  /** Streaming calibration monitor — the streaming twin of q231's
    * reliability bins: score each arriving document with the frozen
    * quality logistic (stateless projection) and maintain the per-bin
    * support / mean predicted / positive-rate / gap as a streaming
    * aggregation (complete/update output — at most `bins` groups of
    * state, the same bounded-state argument as [[langIdConfusion]]).
    * A drifting corpus shows up as the gap column walking away from
    * zero long before a downstream quality filter visibly misbehaves.
    * StreamingSpec pins the bins to the batch operator exactly.
    */
  def calibrationMonitor(docs: DataFrame, bins: Int = 10): DataFrame =
    graft.ops.TextAnalysis.calibrationBins(
      graft.ops.TextAnalysis.qualityLogistic(docs, carryCols = Seq("lang"))
        .withColumn("is_en", (col("lang") === "en").cast("int")),
      "quality_prob", "is_en", bins)

  /** Streaming leakage-safe split assigner — the streaming twin of
    * q196's row-level core: new documents take their train/val/test
    * split from a FROZEN cluster-rep relation via a stream-static left
    * join (the rep table is corpus-sized, so it stays a joinable side
    * input — never a collected driver map), unseen docs hash as their
    * own singleton. Deterministic: a doc's split never changes across
    * micro-batches or re-runs, the property eval-set hygiene needs.
    * StreamingSpec pins assignments to the batch
    * [[graft.ops.Sampling.assignSplits]] row for row.
    */
  def splitAssignedDocuments(docs: DataFrame, clusterReps: DataFrame,
                             trainPct: Int = 80,
                             valPct: Int = 10): DataFrame =
    graft.ops.Sampling.assignSplits(docs, clusterReps, "doc_id",
      trainPct, valPct)

  /** Streaming resize planning — the streaming twin of q152: a pure
    * per-row projection (target geometry + needs_resize gate), the
    * decode-skip decision a streaming media pipeline makes before its
    * codec stage.
    */
  def mediaResizePlans(docs: DataFrame, maxSide: Int = 256): DataFrame =
    graft.ops.Multimodal.resizePlan(
      graft.ops.Multimodal.synthesize(docs.sparkSession,
        docs.select("doc_id"), "doc_id"), maxSide)

  // ------------------------------------- ingest-to-index capstone (v7)

  /** Names/paths/parameters of the standing indexes the ingest loop
    * maintains. All four index families must already EXIST (built over a
    * seed corpus, [[graft.ops.Dedup.ensureNearDupIndex]] etc.) before the
    * loop starts; `ivfPath = None` skips the vector index (batches with
    * no embedding column). The LSH and fingerprint parameters MUST match
    * the builds — they parameterize the hash families.
    */
  final case class IngestIndexes(
      ndName: String, contamName: String,
      bm25Name: String, bm25Path: String,
      ivfPath: Option[String] = None,
      binQuantPath: Option[String] = None,
      clustersPath: Option[String] = None,
      idCol: String = "doc_id", textCol: String = "text",
      vecCol: String = "embedding",
      shingleK: Int = 2, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8,
      contamK: Int = 5, contamW: Int = 8,
      contamHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.md5Hash31(_),
      // when non-empty, `dest` is a MANAGED z-ordered table: each batch's
      // plain append lands unclustered and the in-loop maintenance sweep
      // re-clusters once the unclustered byte share crosses the threshold
      // — the OPTIMIZE-on-ingest lifecycle
      zOrderCols: Seq[String] = Nil,
      zMaxUnclusteredPpm: Long = 200000L,
      zNumFiles: Int = 8, zBits: Int = 16)

  /** One micro-batch of the continuous-curation loop — the composition a
    * real training-data pipeline runs on every arriving slice:
    *
    *   0. (when `clustersPath` is set) CLUSTER upkeep: append the
    *      batch's near-dup edges to the standing pair-cluster relation
    *      so downstream split/leakage consumers never read stale
    *      clusters ([[graft.ops.Dedup.appendToPairClusters]]);
    *   1. DEDUP against the standing corpus: drop batch docs with a
    *      near-duplicate in the persisted LSH index
    *      ([[graft.ops.Dedup.nearDupNewOnlyIndexed]] — bucket-probe cost)
    *      or a span overlap with already-ingested fingerprints
    *      ([[graft.ops.TextAnalysis.contaminationFlagsIndexed]]);
    *   2. DEDUP within the batch: LSH pairs + CC, keep cluster reps
    *      (the [[graft.ops.Dedup.nearDupNewOnly]] docstring's "two
    *      concerns compose");
    *   3. APPEND the kept docs to all standing indexes — near-dup
    *      signatures, contamination fingerprints, BM25 postings, and
    *      (when embeddings ride the batch) IVF-PQ and binary-quant
    *      codes — so the NEXT batch dedups against them too;
    *   4. EMIT the kept docs to `dest`;
    *   5. (when `zOrderCols` is set) LAYOUT upkeep: `dest` is a managed
    *      z-ordered table — the emit's plain append landed unclustered,
    *      and [[graft.ops.Maintenance.maintainZOrderedTable]] re-clusters
    *      once the unclustered byte share crosses the threshold, so
    *      selective reads over the emitted corpus keep their footer
    *      pruning no matter how long the ingest loop runs.
    *
    * Batch-cost throughout: every probe is index-bucket-pruned, every
    * append is batch-sized, the corpus is never rescanned. Idempotent
    * under micro-batch re-delivery: every append anti-joins (or upserts)
    * against its stored relation, and a fully-replayed batch dedups to
    * nothing against the index rows it wrote the first time — the
    * StreamingSpec capstone pin replays a batch and checks every index
    * and the emitted set hold (the emit itself re-appends under replay —
    * at-least-once, the [[upsertDailyTotals]] caveat; dedup downstream
    * by id or ledger batch ids for exactly-once).
    */
  def ingestBatch(batch: DataFrame, ix: IngestIndexes, dest: String): Unit = {
    val spark = batch.sparkSession
    // 0. cluster-relation upkeep (q276's discipline under foreachBatch,
    // VERDICT r11 #3): when a standing pair-cluster relation rides the
    // loop, mine ONLY the batch's near-dup edges — batch↔indexed-corpus
    // matches (probed BEFORE this batch's signatures append in step 3,
    // so no self-matches) plus within-batch pairs — and star-merge them
    // into the stored clusters. Without this the cluster relation every
    // split/leakage consumer joins against goes stale under streaming
    // ingest until the next full fingerprint rebuild. Batch-cost only;
    // replay-idempotent (canonicalized + anti-joined inside the append).
    // The relation must have been seeded by [[graft.ops.Dedup
    // .ensurePairClusters]] with IDS-ONLY pairs at the SAME LSH params.
    ix.clustersPath.foreach { cp =>
      val corpusPairs = graft.ops.Dedup.nearDupMatchesIndexed(batch,
          ix.ndName, ix.idCol, ix.textCol, ix.shingleK, ix.numPerm,
          ix.bands, ix.threshold)
        .select(col("__bid").as("id_a"), col("__cid").as("id_b"))
      val innerPairs = graft.ops.Dedup.minhashNearDupPairs(batch,
          ix.idCol, ix.textCol, ix.shingleK, ix.numPerm, ix.bands,
          ix.threshold)
        .select("id_a", "id_b")
      graft.ops.Dedup.appendToPairClusters(spark, cp, ix.idCol,
        corpusPairs.unionAll(innerPairs))
    }
    // 1. corpus-level: near-dup index probe, then span-contamination probe
    val ndSurvivors = graft.ops.Dedup.nearDupNewOnlyIndexed(batch,
      ix.ndName, ix.idCol, ix.textCol, ix.shingleK, ix.numPerm, ix.bands,
      ix.threshold)
    val contamFlags = graft.ops.TextAnalysis.contaminationFlagsIndexed(
      ndSurvivors, ix.contamName, ix.idCol, ix.textCol, ix.contamK,
      ix.contamW, ix.contamHash)
    val clean = ndSurvivors.join(
      contamFlags.filter(col("contaminated") === 0).select(col(ix.idCol)),
      Seq(ix.idCol), "left_semi")
    // 2. batch-level: keep one rep per within-batch near-dup cluster.
    // checkpoint first: `clean`'s lineage (two index probes) feeds the
    // pair pipeline AND the final semi-join, and the indexes it probes
    // are appended to in step 3
    val cleanMat = clean.localCheckpoint()
    try {
      val reps = graft.ops.Dedup.clusterNearDups(
        graft.ops.Dedup.minhashNearDupPairs(cleanMat, ix.idCol, ix.textCol,
          ix.shingleK, ix.numPerm, ix.bands, ix.threshold),
        idCol = ix.idCol)
      val kept = cleanMat.join(reps, Seq(ix.idCol), "left")
        .filter(col("cluster_rep").isNull ||
          col("cluster_rep") === col(ix.idCol))
        .drop("cluster_rep")
        .localCheckpoint() // consumed by 4 appends + the emit
      try {
        // 3. the appends — each one replay-idempotent on its own
        graft.ops.Dedup.appendToNearDupIndex(spark, ix.ndName, kept,
          ix.idCol, ix.textCol, ix.shingleK, ix.numPerm, ix.bands)
        graft.ops.TextAnalysis.appendToContaminationIndex(spark,
          ix.contamName, kept, ix.idCol, ix.textCol, ix.contamK,
          ix.contamW, ix.contamHash)
        graft.ops.TextAnalysis.appendToBm25Index(spark, ix.bm25Name,
          ix.bm25Path, kept, ix.idCol, ix.textCol)
        ix.ivfPath.foreach { p =>
          graft.ops.Similarity.appendToIvfPqIndex(spark, p,
            kept.select(col(ix.idCol), col(ix.vecCol)), ix.idCol, ix.vecCol)
        }
        ix.binQuantPath.foreach { p =>
          graft.ops.Similarity.appendToBinaryQuantIndex(spark, p,
            kept.select(col(ix.idCol), col(ix.vecCol)), ix.idCol, ix.vecCol)
        }
        // 4. emit the survivors
        kept.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dest)
        // 5. layout upkeep (when dest is a managed z-ordered table): the
        // append above landed unclustered; sweep once its byte share
        // crosses the threshold — cheap measurement every batch, a
        // re-cluster only when the layout actually degraded. Crash-safe
        // (the staged two-marker swap) and content-preserving, so the
        // at-least-once emit contract is unchanged. Self-seeding: a dest
        // with no manifest counts as 100% unclustered and clusters on
        // the first sweep.
        if (ix.zOrderCols.nonEmpty)
          graft.ops.Maintenance.maintainZOrderedTable(spark, dest,
            ix.zOrderCols, ix.zMaxUnclusteredPpm, ix.zNumFiles, ix.zBits)
      } finally
        org.apache.spark.sql.graftbridge.ColumnBridge
          .releaseLocalCheckpoint(kept)
    } finally
      org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(cleanMat)
  }

  /** Config for [[ingestMediaBatch]]: the standing aHash index
    * (built by [[graft.ops.Multimodal.buildAHashIndex]]) plus the live
    * decode-census store and the perceptual-dup distance.
    */
  final case class MediaIngestIndexes(
      ahashName: String,
      censusDest: Option[String] = None,
      maxDist: Int = 3, grid: Int = 8, bands: Int = 4)

  /** One micro-batch of the continuous MEDIA-curation loop — the
    * [[ingestBatch]] composition for image corpora, every stage over
    * REAL decoded pixels:
    *
    *   0. hash the batch ONCE (decode + aHash; undecodable blobs carry
    *      `decode_error`) and, when a census store rides the loop,
    *      upsert the live quarantine counts ([[upsertDecodeCensus]]);
    *   1. corpus-level perceptual dedup: drop batch images within
    *      Hamming `maxDist` of an INDEXED image (banded probe — batch
    *      cost, the corpus is never rescanned);
    *   2. batch-level dedup: within-batch perceptual pairs (banded
    *      self-join + Hamming verify) cluster via connected components
    *      and one rep (lowest media_id) per cluster survives — the same
    *      two-concerns-compose shape as the text loop's step 2;
    *   3. APPEND the survivors to the standing index (replay-idempotent
    *      anti-join), so the NEXT batch dedups against them;
    *   4. EMIT the surviving media rows to `dest`.
    *
    * Convergence mirrors the text loop: ordered batches (later batches
    * carry higher ids) make two-batch ≡ one-shot, and a fully-replayed
    * batch dedups to nothing against the index rows it wrote first time
    * (the emit itself is at-least-once — dedup downstream by id).
    */
  def ingestMediaBatch(batch: DataFrame, ix: MediaIngestIndexes,
                       dest: String): Unit = {
    val spark = batch.sparkSession
    // 0. one decode pass feeds census, probe, and within-batch dedup
    val ah = graft.ops.Multimodal.imageAHash(batch, ix.grid)
      .localCheckpoint()
    try {
      ix.censusDest.foreach(cd => upsertDecodeCensus(
        ah.select(lit("image").as("modality"), col("decode_error")), cd))
      val good = ah.filter(col("decode_error").isNull)
      // 1. corpus-level: anti-join the probed dup ids out
      val dupIds = graft.ops.Multimodal.probeAHashHashes(good,
          ix.ahashName, ix.maxDist, ix.bands)
        .select(col("batch_id").as("media_id")).distinct()
      val fresh = good.join(dupIds, Seq("media_id"), "left_anti")
      // 2. batch-level: perceptual clusters keep their lowest id
      val clusters = graft.ops.Dedup.clusterNearDups(
        graft.ops.Multimodal.ahashNearDupPairs(fresh, ix.maxDist,
          ix.bands), idCol = "media_id")
      val reps = fresh.join(clusters, Seq("media_id"), "left")
        .filter(col("cluster_rep").isNull ||
          col("cluster_rep") === col("media_id"))
        .select(col("media_id"))
      val keptIds = reps.localCheckpoint() // consumed by append + emit
      try {
        val kept = batch.join(keptIds, Seq("media_id"), "left_semi")
        // 3. replay-idempotent append (re-decodes survivors only)
        graft.ops.Multimodal.appendToAHashIndex(spark, ix.ahashName,
          kept, ix.grid, ix.bands)
        // 4. emit the surviving media rows
        kept.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dest)
      } finally org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(keptIds)
    } finally org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(ah)
  }

  /** Run a streaming DataFrame to completion against a bounded file source
    * via the memory sink; returns the materialized result. Used by tests
    * and demos ("batch drives the stream", spark_guide.md).
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  outputMode: String = "append"): DataFrame = {
    val q = streamed.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
