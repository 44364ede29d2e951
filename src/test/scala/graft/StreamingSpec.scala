package graft

import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  test("streaming hourly rollup over bounded file source matches batch q16") {
    val streamed = EventStream.hourlyRollup(
      EventStream.read(spark, sf0001))
    // complete mode: append would hold back the final windows of a bounded
    // source (watermark never passes them); complete emits the full state
    val got = EventStream.runToMemory(spark, streamed, "hourly_test", "complete")
    val batch = SparkEntry.queries("q16_hourly_rollup")(spark, sf0001)
    // same (hour, type) → count mapping (streaming append emits finalized
    // windows; with bounded input + processAllAvailable all windows close)
    val a = got.select("hour_epoch", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val b = batch.select("hour_epoch", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("EventStream.read starts against an empty directory (schema fallback)") {
    // the normal file-source pattern: the stream starts BEFORE files
    // arrive — the schema probe finds nothing and must fall back to the
    // long-nanos rawSchema instead of throwing
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_src").toString
    val df = EventStream.read(spark, dir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // and it runs: zero rows, but the query starts and stops cleanly
    val got = EventStream.runToMemory(spark,
      EventStream.hourlyRollup(df), "empty_src_test", "complete")
    assert(got.count() == 0)
  }

  test("streaming per-day HLL sketches reproduce q182's batch rolling-WAU estimates") {
    import org.apache.spark.sql.functions._
    // stream maintains one lgK-bounded sketch per day; the rolling 7-day
    // union runs over the STORED sketches through the same shared finish
    // the batch checked twin uses — estimates must agree EXACTLY (HLL
    // insertion is idempotent and order-insensitive, so the raw event
    // stream and the deduped batch lane converge to one register state)
    val streamed = EventStream.dailyUserSketches(
      EventStream.read(spark, sf0001))
    val stored = EventStream.runToMemory(spark, streamed,
      "wau_sketch_test", "complete")
    val fromStream = EventStream.rollingWauFromSketches(stored, 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchDaily = Tables.events(spark, sf0001)
      .select((unix_timestamp(date_trunc("day", col("ts"))) / 86400L)
        .cast("long").as("__day"), col("user_id").as("__u"))
      .distinct()
      .groupBy(col("__day"))
      .agg(expr("hll_sketch_agg(__u, 12)").as("__sk"))
    val fromBatch = EventStream.rollingWauFromSketches(batchDaily, 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromStream.nonEmpty)
    assert(fromStream == fromBatch,
      s"stream-only: ${fromStream.toSet -- fromBatch.toSet}; " +
        s"batch-only: ${fromBatch.toSet -- fromStream.toSet}")
  }

  test("streaming heavy hitters matches exact batch counts (under-capacity regime)") {
    // 5 distinct event types < capacity 64 → the sketch is exact even as
    // micro-batches merge into the running state
    val streamed = EventStream.heavyHitters(
      EventStream.read(spark, sf0001), "event_type", capacity = 64, k = 5)
    val got = EventStream.runToMemory(spark, streamed, "hh_test", "complete")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Tables.events(spark, sf0001).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (t, (est, err)) =>
      assert(est == batch(t), s"$t est=$est exact=${batch(t)}")
      assert(err == 0L)
    }
  }

  test("foreachBatch incremental ETL: multi-batch upserts equal the global aggregate") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_etl").toString
    // split the raw events into 4 files → maxFilesPerTrigger=1 forces 4
    // micro-batches whose days overlap (same partitions upserted repeatedly)
    spark.read.parquet(s"$sf0001/events.parquet").repartition(4)
      .write.parquet(s"$dir/src")
    val streamed = EventStream.read(spark, s"$dir/src", glob = "part-*.parquet",
      maxFilesPerTrigger = Some(1))
    val q = EventStream.incrementalDailyEtl(streamed, s"$dir/daily").start()
    q.processAllAvailable(); q.stop()
    assert(q.recentProgress.length >= 4, s"expected ≥4 micro-batches")
    val got = spark.read.parquet(s"$dir/daily")
      // partition-dir values type-infer back as DATE; normalize for compare
      .withColumn("day", col("day").cast("string"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("day_total"), r.getAs[Long]("n_events")))).toMap
    val expect = Tables.events(spark, sf0001)
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(col("value")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("t"), r.getAs[Long]("n")))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (t, n)) =>
      assert(n == expect(k)._2, s"$k n=$n expect=${expect(k)._2}")
      // totals merge across batches in a different sum order → tolerance
      assert(math.abs(t - expect(k)._1) < 1e-6, s"$k t=$t expect=${expect(k)._1}")
    }
  }

  test("streaming heavy hitters under eviction: guarantees survive micro-batch merges") {
    // capacity 3 < 5 event types → the sketch evicts inside AND across
    // micro-batches; the SS guarantees must still hold vs exact counts
    val streamed = EventStream.heavyHitters(
      EventStream.read(spark, sf0001), "event_type", capacity = 3, k = 3)
    val got = EventStream.runToMemory(spark, streamed, "hh_evict_test", "complete")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val truth = Tables.events(spark, sf0001).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    // any type with true count > n/capacity must be present
    truth.filter(_._2 > n / 3).keys.foreach(t =>
      assert(got.contains(t), s"heavy type $t missing from $got"))
    got.foreach { case (t, (est, err)) =>
      val tr = truth(t)
      assert(est >= tr && est - err <= tr, s"$t est=$est err=$err true=$tr")
    }
  }

  test("session windows produce per-user sessions") {
    val streamed = EventStream.userSessions(
      EventStream.read(spark, sf0001))
    val got = EventStream.runToMemory(spark, streamed, "sessions_test")
    assert(got.count() > 0)
  }

  test("streaming dedup drops within-watermark duplicates") {
    import graft.io.IO
    val dir = java.nio.file.Files.createTempDirectory("graft_dup").toString
    val once = Tables.events(spark, sf0001).limit(200)
    // duplicate every event, write as a file-source the stream can read
    IO.writeSingleFile(
      once.unionByName(once)
        .withColumn("ts", org.apache.spark.sql.functions.expr(
          "CAST(unix_micros(ts) * 1000 AS BIGINT)")), // back to long nanos shape
      s"$dir/events.parquet", "parquet")
    val deduped = EventStream.dedupedStream(
      EventStream.read(spark, dir), Seq("event_id"))
    val got = EventStream.runToMemory(spark, deduped, "dedup_stream_test")
    assert(got.count() == 200)
  }

  test("stream-static enrichment matches the batch join exactly") {
    import org.apache.spark.sql.functions._
    val dim = spark.range(0, 150)
      .select(col("id").as("user_id"), (col("id") % 3).as("segment"))
    val streamed = EventStream.enriched(EventStream.read(spark, sf0001), dim)
    val got = EventStream.runToMemory(spark, streamed, "enriched_test")
    val batch = Tables.events(spark, sf0001).join(dim, Seq("user_id"), "left")
    assert(got.count() == batch.count())
    assert(got.filter(col("segment").isNull).count() ==
      batch.filter(col("segment").isNull).count())
  }

  test("stream-stream interval join (click→purchase ≤1h) matches the batch equivalent") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.clickPurchaseJoin(EventStream.read(spark, sf0001))
    val got = EventStream.runToMemory(spark, streamed, "click_purchase_test")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sf0001)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p,
      col("user_id") === col("pu") && col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 60 MINUTES"))
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join: golden fixture pins the boundary semantics") {
    import org.apache.spark.sql.functions._
    // committed handcrafted timeline (fixtures/stream_events.csv) — unlike
    // the generated-data twin above, this pins the exact boundary rules:
    //   pair (1,2): purchase AT the click instant       → included (>=)
    //   pair (1,3): purchase at click + 60min exactly   → included (<=)
    //   event 4:    purchase at click + 60min + 1s      → excluded
    //   event 5:    purchase 1s BEFORE the click        → excluded
    //   event 8:    user with no click                  → excluded
    //   event 7:    one purchase matched by TWO clicks (6 and 9) — m:n
    //   event 10:   past both clicks' windows           → excluded
    val base = 1704067200L // 2024-01-01T00:00:00Z
    val fixtures = getClass.getResource("/fixtures").getPath
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$fixtures/stream_events.csv")
    val events = csv.select(
      col("event_id").cast("long").as("event_id"),
      ((col("ts_s").cast("long") + base) * 1000000000L).as("ts"), // nanos
      col("user_id").cast("long").as("user_id"),
      col("event_type"),
      col("value").cast("double").as("value"),
      lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_golden").toString
    graft.io.IO.writeSingleFile(events, s"$dir/events.parquet", "parquet")
    val streamed = EventStream.clickPurchaseJoin(EventStream.read(spark, dir))
    val got = EventStream.runToMemory(spark, streamed, "click_purchase_golden")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (6L, 7L), (9L, 7L)), got)
  }

  test("stateful sessionization (flatMapGroupsWithState) closes gap-separated sessions") {
    val streamed = EventStream.sessionizeStateful(
      EventStream.read(spark, sf0001), gapMinutes = 30).toDF()
    val got = EventStream.runToMemory(spark, streamed, "stateful_sessions_test")
      .collect()
    assert(got.nonEmpty)
    // every emitted session respects the gap invariant and has ≥1 event
    assert(got.forall { r =>
      r.getAs[Long]("session_end") >= r.getAs[Long]("session_start") &&
        r.getAs[Long]("n_events") >= 1
    })
    // sessions for the same user must be separated by more than the gap
    val byUser = got.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { ss =>
      val sorted = ss.sortBy(_.getAs[Long]("session_start"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("session_start") - a.getAs[Long]("session_end") > 30 * 60)
        case _ =>
      }
    }
  }

  test("stateful EWMA (mapGroupsWithState) matches the scalar fold per event type") {
    val streamed = EventStream.ewmaStateful(
      EventStream.read(spark, sf0001), alpha = 0.3).toDF()
    val got = EventStream.runToMemory(spark, streamed, "ewma_stateful_test",
      outputMode = "update")
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("ewma"), r.getAs[Long]("n_events"))).toMap
    // reference: same (ts, value)-ordered left fold over the batch read
    val ref = Tables.events(spark, sf0001)
      .selectExpr("event_type", "ts", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1)
      .map { case (k, rows) =>
        val sorted = rows.sortBy(e => (e._2, e._3))
        k -> (sorted.tail.foldLeft(sorted.head._3)((s, e) => 0.3 * e._3 + 0.7 * s),
          sorted.length.toLong)
      }
    assert(got.keySet == ref.keySet)
    got.foreach { case (k, (ewma, n)) =>
      assert(n == ref(k)._2, s"$k count")
      assert(math.abs(ewma - ref(k)._1) < 1e-9, s"$k ewma $ewma vs ${ref(k)._1}")
    }
  }

  test("stateful Holt smoother (mapGroupsWithState) matches the scalar two-state fold") {
    val streamed = EventStream.holtStateful(
      EventStream.read(spark, sf0001)).toDF()
    val got = EventStream.runToMemory(spark, streamed, "holt_stateful_test",
      outputMode = "update")
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Long]("n_events"))).toMap
    val ref = Tables.events(spark, sf0001)
      .selectExpr("event_type", "ts", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1)
      .map { case (k, rows) =>
        val sorted = rows.sortBy(e => (e._2, e._3))
        val (l, t) = sorted.tail.foldLeft((sorted.head._3, 0.0)) {
          case ((l0, t0), e) =>
            val lvl = 0.5 * e._3 + 0.5 * (l0 + t0)
            (lvl, 0.25 * (lvl - l0) + 0.75 * t0)
        }
        k -> (l, t, sorted.length.toLong)
      }
    assert(got.keySet == ref.keySet)
    got.foreach { case (k, (l, t, n)) =>
      assert(n == ref(k)._3, s"$k count")
      assert(math.abs(l - ref(k)._1) < 1e-9, s"$k level $l vs ${ref(k)._1}")
      assert(math.abs(t - ref(k)._2) < 1e-9, s"$k trend $t vs ${ref(k)._2}")
    }
  }

  test("streaming DSIR scorer matches batch dsir_ppm bit-for-bit under a frozen lambda") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf0001)
    val tgt = col("source").isin("src1", "src2", "src3")
    val lam = Sampling.dsirLambdaPpm(docs, tgt)
    val streamed = EventStream.dsirScoredDocuments(
      EventStream.readDocuments(spark, sf0001), lam)
    val got = EventStream.runToMemory(spark, streamed, "dsir_stream_test")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dsir_ppm")).toMap
    val batch = Sampling.dsirWeights(docs, tgt)
      .select("doc_id", "dsir_ppm")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // token-free docs score 0 in the stream (no features) and are absent
    // from the batch output — every batch-scored doc must match exactly
    batch.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: stream ${got(id)} vs batch $w")
    }
  }

  test("streaming 1-NN probes against the static IVF index match the batch path") {
    // online retrieval: probes stream in, route map-only through a
    // literal centroid argmax, stream-static join the persisted index,
    // per-probe argmax in update mode — and the answers must equal the
    // same function run over the probes as a batch
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    val centroidsDf = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val cents: Seq[(Int, Seq[Double])] = centroidsDf
      .select(col("cell_id"), col("centroid").cast("array<double>"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ivf").toString
    Similarity.buildIvfIndex(emb, centroidsDf, s"$dir/ivf")
    val index = spark.read.parquet(s"$dir/ivf")
    val streamed = Similarity.nearest1NNRouted(
      EventStream.readEmbeddings(spark, sf0001).filter(col("vec_id") < 20),
      index, cents)
    val got = EventStream.runToMemory(spark, streamed, "ann_stream_test",
      outputMode = "update")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = Similarity.nearest1NNRouted(
      emb.filter(col("vec_id") < 20), index, cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == 20)
    assert(got == batch)
  }

  test("streaming mixture gate with frozen rates matches the batch sampler row set") {
    // the deployable streaming shape: rates snapshotted from the corpus
    // (mixtureRatesPpm — the periodic-refresh producer), then a stateless
    // map-only gate over the stream. Given the SAME snapshot, the stream
    // must select the bit-identical row set the batch sampler selects.
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf0001)
    val shares = Map("en" -> 70, "de" -> 30)
    val rates = Sampling.mixtureRatesPpm(docs, "lang", shares, outPct = 40)
    // unlisted domains carry rate 0 (the batch inner join + zero gate drop
    // them identically); the shared domains must carry a real rate
    assert(rates("en") > 0L && rates("de") > 0L)
    assert(rates.filterNot(kv => shares.contains(kv._1)).values.forall(_ == 0L))
    val streamed = Sampling.mixtureGate(
      EventStream.readDocuments(spark, sf0001), rates, "lang", "doc_id")
      .select("doc_id", "lang")
    val got = EventStream.runToMemory(spark, streamed, "mixture_gate_test")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Sampling.sampleToMixture(docs, "lang", "doc_id", shares,
      outPct = 40)
      .select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming BPE encoder with frozen merges matches the batch encoder") {
    import org.apache.spark.sql.functions._
    // train batch-side, freeze the merge table, encode the same docs as
    // a stream through the compiled replace chain — per-doc stats must
    // be identical to the inline train-then-encode tier
    val docs = Tables.documents(spark, sf0001)
    val merges = graft.ops.TextAnalysis.bpeTrainMerges(docs, rounds = 4)
      .orderBy("merge_round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 4)
    val streamed = EventStream.bpeEncodedDocuments(
      EventStream.readDocuments(spark, sf0001), merges)
    val got = EventStream.runToMemory(spark, streamed, "bpe_stream_test")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val batch = graft.ops.TextAnalysis.bpeEncodedLengths(docs, rounds = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.nonEmpty)
    assert(got == batch,
      s"first diff: ${(got.toSet -- batch.toSet).take(2)} vs ${(batch.toSet -- got.toSet).take(2)}")
  }

  test("streaming drift monitor: upserted counts reproduce the batch q132 relation") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    // 4 files → 4 micro-batches whose category counts merge incrementally
    val docs = Tables.documents(spark, sf0001)
    docs.select("doc_id", "lang").repartition(4)
      .write.parquet(s"$dir/src")
    val streamed = spark.readStream
      .schema("doc_id LONG, lang STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/src")
    val q = EventStream.categoryCountMonitor(streamed, "lang",
      s"$dir/counts").start()
    q.processAllAvailable(); q.stop()
    assert(q.recentProgress.length >= 4)
    // stored snapshot == batch counts of everything seen
    val stored = spark.read.parquet(s"$dir/counts")
    val storedMap = stored.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(storedMap == exact)
    // drift scored from the stored counts == the inline batch drift
    val ref = docs.filter(col("doc_id") % 2 === 0).select("lang")
    val refCounts = ref.groupBy(col("lang")).agg(count(lit(1)).as("n_v1"))
    val fromStore = graft.ops.Diff.distributionDriftFromCounts(refCounts,
      stored.select(col("lang"), col("n").as("n_v2")), "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    val inline = graft.ops.Diff.distributionDrift(ref, docs.select("lang"),
      "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(fromStore == inline)
  }

  test("streaming boilerplate scrub matches batch removal text for text") {
    // frozen snapshot from the batch corpus; 2-token chunks at minDocFreq 2
    // so the word-soup fixture actually yields a non-empty boiler set
    val docs = Tables.documents(spark, sf0001)
    val frozen = graft.ops.Dedup.boilerplateChunkHashes(docs,
      chunkTokens = 2, minDocFreq = 2)
    assert(frozen.nonEmpty, "fixture produced no boilerplate — test is vacuous")
    val streamed = EventStream.cleanedDocuments(
      EventStream.readDocuments(spark, sf0001), frozen.toSeq, chunkTokens = 2)
    val got = EventStream.runToMemory(spark, streamed, "boiler_stream_test")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val ref = graft.ops.Dedup.boilerplateRemove(docs, chunkTokens = 2,
      minDocFreq = 2)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == ref.size && got.nonEmpty)
    assert(got == ref)
    // the scrub actually removed something on this fixture
    val original = docs.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.exists { case (id, t) => t != original(id) })
    // the JOIN path (decision set stays a DataFrame side input — the
    // web-scale shape, no driver literal): foreachBatch scrub against
    // boilerplateChunkSet matches the batch operator text for text
    val dest = java.nio.file.Files
      .createTempDirectory("graft_scrub_stream").toString + "/out"
    val boilerSet = graft.ops.Dedup.boilerplateChunkSet(docs,
      chunkTokens = 2, minDocFreq = 2)
    val q = EventStream.scrubbedDocuments(
      EventStream.readDocuments(spark, sf0001), boilerSet, dest,
      chunkTokens = 2).start()
    q.processAllAvailable(); q.stop()
    val joined = spark.read.parquet(dest)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(joined == ref)
  }

  test("streaming frame sampling and resize plans match the batch twins") {
    val mediaBatch = graft.ops.Multimodal.synthesize(spark,
      Tables.documents(spark, sf0001).select("doc_id"), "doc_id")
    val gotFrames = EventStream.runToMemory(spark,
      EventStream.mediaFrames(EventStream.readDocuments(spark, sf0001)),
      "frames_stream_test")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getSeq[Double](3))).toMap
    val refFrames = graft.ops.Multimodal.frameSample(mediaBatch, 30.0, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getSeq[Double](3))).toMap
    assert(gotFrames.size == refFrames.size && gotFrames.nonEmpty)
    assert(gotFrames == refFrames)
    val gotPlans = EventStream.runToMemory(spark,
      EventStream.mediaResizePlans(EventStream.readDocuments(spark, sf0001)),
      "resize_stream_test")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val refPlans = graft.ops.Multimodal.resizePlan(mediaBatch, 256)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(gotPlans == refPlans && gotPlans.nonEmpty)
  }

  test("streaming PII scrub matches the batch scrub row for row") {
    // Redact.scrub is stateless map-only, so the stream twin must equal
    // the batch output EXACTLY (same regex chain, same counts) — append
    // mode, no watermark, no state store
    val streamed = EventStream.scrubbedDocuments(
      EventStream.readDocuments(spark, sf0001))
    val got = EventStream.runToMemory(spark, streamed, "scrub_stream_test")
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    val ref = graft.ops.Redact.scrub(Tables.documents(spark, sf0001), "text")
      .select("doc_id", "redacted", "n_emails", "n_ips", "n_phones")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got.size == ref.size && got.nonEmpty)
    assert(got == ref)
  }

  test("checkpointed file-sink stream resumes exactly-once across restarts") {
    import org.apache.spark.sql.functions.col
    // two source files landing in two waves; the SAME checkpoint dir
    // across restarts must yield every row exactly once — the
    // fault-tolerance contract a 100 TB ingest pipeline leans on
    val base = "/tmp/graft_restart_" + System.nanoTime()
    val src = s"$base/src"; val dest = s"$base/dest"; val chk = s"$base/chk"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "n_chars")
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(src)
    def run() = spark.readStream
      .schema("doc_id LONG, n_chars LONG").parquet(src)
      .writeStream.format("parquet")
      .option("path", dest).option("checkpointLocation", chk)
      .start()
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    val firstWave = spark.read.parquet(dest).count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write
      .mode("append").parquet(src)
    val q2 = run(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(dest)
    assert(firstWave == 250L)
    assert(out.count() == docs.count()) // nothing lost, nothing doubled
    assert(out.select("doc_id").distinct().count() == docs.count())
    // a third restart with NO new files appends nothing (offsets held)
    val q3 = run(); q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(dest).count() == docs.count())
  }

  test("streaming langid confusion cells equal the batch confusion") {
    // prediction is stateless; the confusion count is a mergeable
    // aggregate — complete mode over the bounded doc fixture must land on
    // exactly the batch (lang, lang_pred, n) relation
    val streamed = EventStream.langIdConfusion(
      EventStream.readDocuments(spark, sf0001))
    val got = EventStream
      .runToMemory(spark, streamed, "langid_conf_stream", "complete")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ref = graft.ops.TextAnalysis
      .languageIdDf(Tables.documents(spark, sf0001))
      .groupBy("lang", "lang_pred")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got == ref)
  }

  test("streaming calibration monitor matches the batch reliability bins") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val streamed = EventStream.calibrationMonitor(
      EventStream.readDocuments(spark, sf0001))
    val got = EventStream
      .runToMemory(spark, streamed, "calib_stream", "complete")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val ref = graft.ops.TextAnalysis.calibrationBins(
      graft.ops.TextAnalysis.qualityLogistic(
          Tables.documents(spark, sf0001), carryCols = Seq("lang"))
        .withColumn("is_en", (col("lang") === "en").cast("int")),
      "quality_prob", "is_en")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.nonEmpty && got == ref)
  }

  test("streaming split assigner matches batch assignment under a frozen rep table") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val reps = graft.ops.Dedup.clusterNearDups(
      graft.ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8))
    val streamed = EventStream.splitAssignedDocuments(
      EventStream.readDocuments(spark, sf0001), reps)
    val got = EventStream.runToMemory(spark, streamed, "split_stream_test")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val ref = graft.ops.Sampling.assignSplits(docs, reps)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.nonEmpty && got == ref)
    // near-dup pair endpoints agree — the leakage guarantee, on-stream
    val somePair = graft.ops.Dedup.minhashNearDupPairs(docs, "doc_id",
      "text", shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
      .select(col("id_a"), col("id_b")).head()
    assert(got(somePair.getLong(0)) == got(somePair.getLong(1)))
  }

  test("streaming length-drift monitor equals the batch KS vs the frozen reference") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val docs = Tables.documents(spark, sf0001)
    val dest = "/tmp/graft_drift/lengths_" + System.nanoTime()
    val q = EventStream.valueCountMonitor(
        EventStream.readDocuments(spark, sf0001), "n_chars", dest)
      .start()
    q.processAllAvailable(); q.stop()
    // reference = the even-doc slice's histogram (frozen batch-side)
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("n_chars")).agg(count(lit(1)).as("n"))
    val streamed = EventStream.lengthDriftFromStore(spark, dest, ref,
      "n_chars").collect().head
    val batch = graft.ops.Quantiles.ksFromCounts(
      docs.groupBy(col("n_chars")).agg(count(lit(1)).as("n")),
      ref, "n_chars", "n").collect().head
    assert(streamed.getLong(2) == batch.getLong(2))
    assert(streamed.getLong(0) == batch.getLong(0)) // full corpus seen
  }

  test("streaming packing plan from the token-count snapshot equals the batch plan") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val dest = "/tmp/graft_drift/toks_" + System.nanoTime()
    val q = EventStream.valueCountMonitor(
        EventStream.readDocuments(spark, sf0001)
          .select(graft.functions.tokenCount(col("text")).cast("long")
            .as("n_toks")),
        "n_toks", dest)
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = EventStream
      .packingPlanFromStore(spark, dest, "n_toks", 256)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Packing.complementPackingPlan(
      docs.select(graft.functions.tokenCount(col("text")).cast("long")
        .as("n_toks")),
      "n_toks", 256).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming ROC monitor equals the batch q242 report after batched upserts") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val dest = "/tmp/graft_drift/roc_" + System.nanoTime()
    EventStream.upsertScoreCounts(docs.filter(col("doc_id") % 2 === 0), dest)
    EventStream.upsertScoreCounts(docs.filter(col("doc_id") % 2 =!= 0), dest)
    val streamed = EventStream.rocFromStore(spark, dest).collect().head
    val batch = graft.ops.TextAnalysis.rocPrReport(
      graft.ops.TextAnalysis.qualityLogistic(docs, carryCols = Seq("lang"))
        .withColumn("is_en", (col("lang") === "en").cast("int")),
      "quality_prob", "is_en").collect().head
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.getAs[Long]("n_pos") + streamed.getAs[Long]("n_neg")
      == docs.count())
  }

  test("streaming preference leaderboard equals the batch q301 fold " +
    "after batched upserts (matchup counts merge by sum)") {
    import org.apache.spark.sql.functions.col
    // deterministic comparison log: within each order, higher summed
    // quantity beats lower (the q301 construction)
    val li = Tables.lineitem(spark, sf0001)
    val items = li
      .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .agg(org.apache.spark.sql.functions.sum(col("l_quantity")).as("q"))
    val a = items.select(col("ok"), col("pk").as("pk_a"), col("q").as("q_a"))
    val b = items.select(col("ok"), col("pk").as("pk_b"), col("q").as("q_b"))
    val cmp = a.join(b, Seq("ok"))
      .filter(col("pk_a") < col("pk_b") && col("q_a") =!= col("q_b"))
      .select(
        org.apache.spark.sql.functions
          .when(col("q_a") > col("q_b"), col("pk_a")).otherwise(col("pk_b"))
          .as("winner"),
        org.apache.spark.sql.functions
          .when(col("q_a") > col("q_b"), col("pk_b")).otherwise(col("pk_a"))
          .as("loser"))
      .localCheckpoint()
    val dest = "/tmp/graft_drift/pref_" + System.nanoTime()
    // two arbitrary delivery halves — mergeable matchup integers must
    // make the split invisible
    EventStream.upsertMatchups(cmp.filter(col("winner") % 2 === 0), dest)
    EventStream.upsertMatchups(cmp.filter(col("winner") % 2 =!= 0), dest)
    val streamed = EventStream.leaderboardFromStore(spark, dest)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Preference.leaderboard(cmp)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the SAME matchup snapshot serves the Bradley-Terry fit (q316):
    // wins and game counts per pair are all the MM recursion reads
    val btS = EventStream.bradleyTerryFromStore(spark, dest, rounds = 2)
      .collect().map(_.toSeq).toSet
    val btB = graft.ops.Preference.bradleyTerryFit(cmp, rounds = 2)
      .collect().map(_.toSeq).toSet
    assert(btS.nonEmpty && btS == btB)
  }

  test("streaming collocation board equals the batch q304 PPMI after " +
    "batched upserts (pair counts are the complete mergeable state)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val dest = "/tmp/graft_drift/cooc_" + System.nanoTime()
    EventStream.upsertCooccurrence(docs.filter(col("doc_id") % 2 === 0), dest)
    EventStream.upsertCooccurrence(docs.filter(col("doc_id") % 2 =!= 0), dest)
    val streamed = EventStream.ppmiFromStore(spark, dest, minCount = 3, k = 3)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.TextAnalysis
      .windowedPpmi(docs, window = 4, minCount = 3, k = 3)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the SAME count snapshot serves the power-iteration direction
    // (q317): PPMI weights and the matvec both derive from the counts
    val piS = EventStream.ppmiPowerIterationFromStore(spark, dest,
        minCount = 2, rounds = 2)
      .collect().map(_.toSeq).toSet
    val piB = graft.ops.TextAnalysis
      .ppmiPowerIteration(docs, window = 4, minCount = 2, rounds = 2)
      .collect().map(_.toSeq).toSet
    assert(piS.nonEmpty && piS == piB)
    // the rank-2 deflated fit rides the same snapshot through the same
    // shared fold — multi-batch ≡ one-shot for BOTH directions
    val tdS = EventStream.ppmiTopDirectionsFromStore(spark, dest,
        minCount = 2, rounds = 2, k = 2)
      .collect().map(_.toSeq).toSet
    val tdB = graft.ops.TextAnalysis
      .ppmiTopDirections(docs, window = 4, minCount = 2, rounds = 2, k = 2)
      .collect().map(_.toSeq).toSet
    assert(tdS.nonEmpty && tdS == tdB)
  }

  test("streaming cross-corpus KN scorer equals the batch q332 chain " +
    "off a frozen reference snapshot; micro-batch split is invisible") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    // batch-side: persist the reference count snapshot (the periodic
    // refresh a curation pipeline runs); the stream reads the frozen
    // copy — the dsirScorePpm/mixtureGate discipline
    val dest = "/tmp/graft_drift/kncounts_" + System.nanoTime()
    graft.io.IO.writeDir(
      graft.ops.TextAnalysis.knReferenceCounts(even, order = 4), dest)
    val batch = graft.ops.TextAnalysis
      .refNgramKnCrossEntropy(odd, even, order = 4)
      .collect().map(_.toSeq).toSet
    // two arbitrary micro-batches against the SAME snapshot: per-doc
    // scores depend only on the snapshot, so the union equals the
    // one-shot statistic exactly
    val streamed = (EventStream.refKnScoredDocuments(spark,
        odd.filter(col("doc_id") % 4 === 1), dest, order = 4)
      .collect() ++
      EventStream.refKnScoredDocuments(spark,
        odd.filter(col("doc_id") % 4 === 3), dest, order = 4)
        .collect()).map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming blocklist board equals the batch q309 census after " +
    "batched upserts (per-phrase counts are the complete mergeable state)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val phrases = Seq("big table", "slow scan", "quantum leap")
    val dest = "/tmp/graft_drift/blockl_" + System.nanoTime()
    // two arbitrary delivery halves — mergeable phrase counts must make
    // the split invisible (zero-hit phrases still row per batch, so the
    // doc denominator accumulates on every phrase)
    EventStream.upsertBlocklistCounts(
      docs.filter(col("doc_id") % 2 === 0), dest, phrases)
    EventStream.upsertBlocklistCounts(
      docs.filter(col("doc_id") % 2 =!= 0), dest, phrases)
    val streamed = EventStream.blocklistCensusFromStore(spark, dest)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.TextAnalysis.blocklistCensus(docs, phrases)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming privacy cells serve all three audits: k-anonymity, " +
    "l-diversity and t-closeness equal their batch statistics") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars DIV 200").as("len_bucket"))
    val qi = Seq("source", "len_bucket")
    val dest = "/tmp/graft_drift/priv_" + System.nanoTime()
    // two arbitrary delivery halves — the cell counts must make the
    // split invisible to every derived audit
    EventStream.upsertPrivacyCells(
      docs.filter(col("doc_id") % 2 === 0), dest, qi, "lang")
    EventStream.upsertPrivacyCells(
      docs.filter(col("doc_id") % 2 =!= 0), dest, qi, "lang")
    val kS = EventStream.kAnonymityFromStore(spark, dest, qi)
      .collect().map(_.toSeq).toSet
    val kB = graft.ops.Redact.kAnonymityReport(
      docs.select(qi.map(col): _*), qi).collect().map(_.toSeq).toSet
    assert(kS.nonEmpty && kS == kB)
    val lS = EventStream.lDiversityFromStore(spark, dest, qi, "lang")
      .collect().map(_.toSeq).toSet
    val lB = graft.ops.Redact.lDiversityReport(docs, qi, "lang")
      .collect().map(_.toSeq).toSet
    assert(lS.nonEmpty && lS == lB)
    val tS = EventStream.tClosenessFromStore(spark, dest, qi, "lang")
      .collect().map(_.toSeq).toSet
    val tB = graft.ops.Redact.tClosenessReport(docs, qi, "lang")
      .collect().map(_.toSeq).toSet
    assert(tS.nonEmpty && tS == tB)
  }

  test("streaming release-gate scorecard equals the batch q312 report " +
    "after batched upserts (cell counts are the complete mergeable state)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    val phrases = Seq("big table", "slow scan", "quantum leap")
    val dest = "/tmp/graft_drift/relgate_" + System.nanoTime()
    EventStream.upsertReleaseGateCells(
      docs.filter(col("doc_id") % 2 === 0), dest, phrases)
    EventStream.upsertReleaseGateCells(
      docs.filter(col("doc_id") % 2 =!= 0), dest, phrases)
    val streamed = EventStream.releaseGateFromStore(spark, dest)
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Redact.releaseGateReport(docs, phrases)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming CUSUM monitor equals the batch statistic after batched upserts") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sf0001)
    val dest = "/tmp/graft_drift/cusum_" + System.nanoTime()
    // two arbitrary delivery halves — mergeable integer day state must
    // make the split invisible
    EventStream.upsertDayCents(events.filter(col("event_id") % 2 === 0), dest)
    EventStream.upsertDayCents(events.filter(col("event_id") % 2 =!= 0), dest)
    val streamed = EventStream.cusumFromStore(spark, dest)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    val batch = graft.ops.Resample
      .cusumAlarm(events, "event_type", "ts", "value")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming PSI monitor equals the batch statistic vs the frozen reference") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val docs = Tables.documents(spark, sf0001)
    val dest = "/tmp/graft_drift/psi_" + System.nanoTime()
    // same ingest loop as the KS monitor — one snapshot, two statistics
    val q = EventStream.valueCountMonitor(
        EventStream.readDocuments(spark, sf0001), "n_chars", dest)
      .start()
    q.processAllAvailable(); q.stop()
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("n_chars")).agg(count(lit(1)).as("n"))
    val streamed = EventStream.psiDriftFromStore(spark, dest, ref,
      "n_chars").collect().head
    val batch = graft.ops.Quantiles.psiFromCounts(
      docs.groupBy(col("n_chars")).agg(count(lit(1)).as("n")),
      ref, "n_chars", "n").collect().head
    assert(streamed.getAs[Double]("psi") == batch.getAs[Double]("psi"))
    assert(streamed.getLong(1) == docs.count()) // full corpus seen
    // the even-doc reference vs the full corpus are near-identical
    // distributions — PSI must sit near 0 (sanity that the statistic
    // is scaled sensibly, not that it is exactly 0)
    assert(streamed.getAs[Double]("psi") < 0.1)
  }

  test("streaming winsorizer matches the batch clamp under frozen fences; " +
    "unknown segments pass through") {
    import org.apache.spark.sql.functions.{col, greatest, least, when, lit, typedlit}
    val events = Tables.events(spark, sf0001)
    val fences = graft.ops.Quantiles
      .winsorFences(events, "event_type", "value")
    val streamed = EventStream.winsorizedValues(
      EventStream.read(spark, sf0001), fences)
    val got = EventStream.runToMemory(spark, streamed, "winsor_stream_test")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("value_winsorized"))
      .toMap
    // batch reference: same frozen snapshot, same clamp expression
    val loM = typedlit(fences.map { case (k, v) => k -> v._1 })
    val hiM = typedlit(fences.map { case (k, v) => k -> v._2 })
    val ref = events.select(col("event_id"),
        greatest(loM(col("event_type")),
          least(hiM(col("event_type")), col("value"))).as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == ref.size && got.nonEmpty)
    assert(got == ref)
    // a segment missing from the snapshot is left unclamped
    val loose = EventStream.winsorizedValues(events.limit(5),
      Map("nonexistent" -> (0.0, 1.0)))
    loose.collect().foreach { r =>
      assert(r.getAs[Double]("value_winsorized") == r.getAs[Double]("value"))
    }
  }

  test("upsertDecodeCensus: two micro-batches merge to the one-shot " +
    "census — the live quarantine-rate monitor never drifts from batch") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    def decoded(lo: Long, hi: Long) = {
      val ids = Tables.documents(spark, sf0001)
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select("doc_id")
      // image lane + VIDEO lane (per-video rollup of the frame relation)
      // through the same modality-generic upsert — the live monitor
      // covers every codec tier
      graft.ops.Multimodal.imageQualityRaw(
        graft.ops.Multimodal.withCorruptedBlobs(
          graft.ops.Multimodal.synthesizePng(spark, ids, "doc_id"),
          everyNth = 5))
        .select(lit("image").as("modality"), col("decode_error"))
        .unionAll(graft.ops.Multimodal.decodeAviFrames(
          graft.ops.Multimodal.withCorruptedBlobs(
            graft.ops.Multimodal.synthesizeAvi(spark, ids, "doc_id"),
            everyNth = 5))
          .groupBy(col("media_id"))
          .agg(max(col("decode_error")).as("decode_error"))
          .select(lit("video").as("modality"), col("decode_error")))
    }
    def snap(dest: String) = spark.read.parquet(dest)
      .as[(String, Long, Long, Long)].collect().toSet
    val twoDir = java.nio.file.Files
      .createTempDirectory("graft_census2").toString + "/c"
    EventStream.upsertDecodeCensus(decoded(0, 150), twoDir)
    EventStream.upsertDecodeCensus(decoded(150, 400), twoDir)
    val oneDir = java.nio.file.Files
      .createTempDirectory("graft_census1").toString + "/c"
    EventStream.upsertDecodeCensus(decoded(0, 400), oneDir)
    assert(snap(twoDir) == snap(oneDir) && snap(oneDir).nonEmpty)
    // the snapshot agrees with the batch census over the same corpus
    val batch = graft.ops.Multimodal.decodeCensus(decoded(0, 400),
      groupCols = Seq("modality"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(snap(oneDir) == batch)
    assert(batch.head._4 > 0, "fixture must quarantine some blobs")
  }

  test("ingest-to-index capstone: multi-batch ingest converges to one-shot; batch replay is a no-op") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // corpus with embeddings riding each doc (doc_id aligns with vec_id
    // at every sf); seed = standing corpus the indexes are built over,
    // the rest arrives as micro-batches
    val docs = Tables.documents(spark, sf0001)
      .join(spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val seed = docs.filter(col("doc_id") < 200)
    val seedEmb = seed.select(col("doc_id"), col("embedding"))
    val cellCentroids = seedEmb.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val codebook = seedEmb
      .filter(col("doc_id") % 37 === 0 && col("doc_id") / 37 < 16)
      .select((col("doc_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    def setup(tag: String, numBuckets: Int = 32)
        : (EventStream.IngestIndexes, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_capstone_$tag").toString
      graft.ops.Dedup.buildNearDupIndex(seed, s"cap_nd_$tag", s"$root/nd",
        "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
        numBuckets = numBuckets)
      graft.ops.TextAnalysis.buildContaminationIndex(seed,
        s"cap_ct_$tag", s"$root/ct", "doc_id", "text", k = 5, w = 8,
        shingleHash = graft.functions.md5Hash31(_), numBuckets = numBuckets)
      graft.ops.TextAnalysis.buildBm25Index(seed, s"cap_bm_$tag",
        s"$root/bm", numBuckets = numBuckets)
      graft.ops.Similarity.buildIvfPqIndex(seedEmb, cellCentroids,
        codebook, s"$root/ivf", m = 4, idCol = "doc_id")
      graft.ops.Similarity.buildBinaryQuantIndex(seedEmb, s"$root/bq",
        idCol = "doc_id")
      // the standing pair-cluster relation the loop keeps fresh (v12):
      // seeded over the seed corpus with IDS-ONLY pairs, same LSH params
      graft.ops.Dedup.ensurePairClusters(spark, s"$root/cl", "doc_id")(
        graft.ops.Dedup.minhashNearDupPairs(seed, "doc_id", "text",
          shingleK = 2, numPerm = 32, bands = 8, threshold = 0.8)
          .select("id_a", "id_b"))
      (EventStream.IngestIndexes(s"cap_nd_$tag", s"cap_ct_$tag",
        s"cap_bm_$tag", s"$root/bm", ivfPath = Some(s"$root/ivf"),
        binQuantPath = Some(s"$root/bq"),
        clustersPath = Some(s"$root/cl"),
        shingleK = 2, numPerm = 32, bands = 8), s"$root/kept")
    }
    def indexState(ix: EventStream.IngestIndexes) = (
      spark.table(s"${ix.ndName}_sig").collect().toSet,
      spark.table(s"${ix.ndName}_shingles")
        .select("doc_id", "__n").collect().toSet,
      spark.table(ix.contamName).collect().toSet,
      spark.table(s"${ix.bm25Name}_postings").collect().toSet,
      spark.table(s"${ix.bm25Name}_meta").collect().toSeq,
      spark.read.parquet(s"${ix.ivfPath.get}/codes")
        .select("doc_id", "cell_id").collect().toSet,
      spark.read.parquet(s"${ix.binQuantPath.get}/codes").collect().toSet,
      graft.ops.Dedup.cachedClusters(spark, ix.clustersPath.get)
        .as[(Long, Long)].collect().toSet)
    def keptIds(dest: String) = spark.read.parquet(dest)
      .select("doc_id").as[Long].collect().toSet
    // A: two micro-batches through the loop
    val (ixA, destA) = setup("inc")
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 350), ixA, destA)
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 350), ixA, destA)
    // B: the same slice as ONE batch
    val (ixB, destB) = setup("one")
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 200), ixB, destB)
    // convergence: identical emitted survivors, identical index contents
    assert(keptIds(destA).nonEmpty)
    assert(keptIds(destA) == keptIds(destB))
    assert(indexState(ixA) == indexState(ixB))
    // C: the two micro-batches over indexes built with 8 buckets — the
    // loop's default-argument appends take the catalog's spec
    val (ixC, destC) = setup("b8", numBuckets = 8)
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 350), ixC, destC)
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 350), ixC, destC)
    assert(keptIds(destC) == keptIds(destA))
    assert(indexState(ixC) == indexState(ixA))
    // the cluster relation did NOT go stale under streaming ingest:
    // ingested docs' near-dup edges landed in the standing clusters
    assert(graft.ops.Dedup.cachedClusters(spark, ixA.clustersPath.get)
      .filter(col("doc_id") >= 200).count() > 0,
      "ingested batches must appear in the standing cluster relation")
    // the composed loop searches identically through both histories
    def bm25(ix: EventStream.IngestIndexes) = graft.ops.TextAnalysis
      .bm25SearchIndexed(spark, ix.bm25Name, Seq("dup", "vector"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm25(ixA) == bm25(ixB) && bm25(ixA).nonEmpty)
    // replay idempotence (micro-batch re-delivery): every standing index
    // holds, and the emitted DISTINCT set holds (the emit append itself
    // is at-least-once by contract)
    val before = indexState(ixA)
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 350), ixA, destA)
    assert(indexState(ixA) == before)
    assert(keptIds(destA) == keptIds(destB))
    Seq("cap_nd_inc_sig", "cap_nd_inc_shingles", "cap_ct_inc",
      "cap_bm_inc_postings", "cap_bm_inc_docstats", "cap_bm_inc_meta",
      "cap_nd_one_sig", "cap_nd_one_shingles", "cap_ct_one",
      "cap_bm_one_postings", "cap_bm_one_docstats", "cap_bm_one_meta",
      "cap_nd_b8_sig", "cap_nd_b8_shingles", "cap_ct_b8",
      "cap_bm_b8_postings", "cap_bm_b8_docstats", "cap_bm_b8_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("media ingest loop: two ordered batches converge to one-shot " +
    "(emitted reps, index contents, live census); replayed batch is a " +
    "no-op against the index rows it wrote first time") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // patternMod=45 (≡ 0 mod 3, so id and id+45 share kind AND pattern):
    // seed images carry pids {0,3,..,27}; batch1 (ids 30–59) brings five
    // NEW pids {30..42} and five seed dups; batch2 (ids 60–89) is ALL
    // dups of seed or batch1. Every 7th blob is garbage (ids 42/63/84)
    // → quarantined, never indexed, so pid 42's clean copy (id 87)
    // surfaces in batch2.
    def media(lo: Long, hi: Long) = graft.ops.Multimodal.withCorruptedBlobs(
      graft.ops.Multimodal.synthesizePng(spark,
        Tables.documents(spark, sf0001)
          .filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id"), "doc_id", patternMod = 45), everyNth = 7)
    def setup(tag: String, numBuckets: Int = 32)
        : (EventStream.MediaIngestIndexes, String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_mingest_$tag").toString
      graft.ops.Multimodal.buildAHashIndex(media(0, 30), s"mi_$tag",
        s"$root/ah", numBuckets = numBuckets)
      (EventStream.MediaIngestIndexes(s"mi_$tag",
        censusDest = Some(s"$root/census")), s"$root/kept", s"$root/census")
    }
    val (ixA, destA, cenA) = setup("inc")
    EventStream.ingestMediaBatch(media(30, 60), ixA, destA)
    EventStream.ingestMediaBatch(media(60, 90), ixA, destA)
    val (ixB, destB, cenB) = setup("one")
    EventStream.ingestMediaBatch(media(30, 90), ixB, destB)
    def kept(dest: String) = spark.read.parquet(dest)
      .select("media_id").as[Long].collect().toSet
    def bands(name: String) = spark.table(s"${name}_bands")
      .collect().toSet
    def census(c: String) = spark.read.parquet(c)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(kept(destA) == kept(destB) && kept(destA).nonEmpty)
    // {30,33,36,39} = batch1's genuinely-new pids; 45/66/87 = clean
    // copies of pids whose ONLY earlier copy (ids 0/21/42, ≡ 0 mod 7)
    // was garbage and therefore never indexed — quarantined blobs must
    // not "occupy" a pattern slot
    assert(kept(destA) == Set(30L, 33L, 36L, 39L, 45L, 66L, 87L),
      s"new pids keep their lowest clean id: ${kept(destA)}")
    assert(bands("mi_inc") == bands("mi_one"))
    assert(census(cenA) == census(cenB))
    // 20 image rows crossed the loop, 3 quarantined (42, 63, 84)
    assert(census(cenA) == Set(("image", 20L, 17L, 3L)), census(cenA))
    // the same two batches over an index built with 8 buckets
    val (ixC, destC, _) = setup("b8", numBuckets = 8)
    EventStream.ingestMediaBatch(media(30, 60), ixC, destC)
    EventStream.ingestMediaBatch(media(60, 90), ixC, destC)
    assert(kept(destC) == kept(destA))
    assert(bands("mi_b8") == bands("mi_inc"))
    // replay: the re-delivered batch dedups to nothing; census counts
    // it again (at-least-once, the documented contract)
    val bandsBefore = bands("mi_inc")
    EventStream.ingestMediaBatch(media(60, 90), ixA, destA)
    assert(bands("mi_inc") == bandsBefore)
    assert(kept(destA) == kept(destB))
    Seq("mi_inc_bands", "mi_one_bands", "mi_b8_bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ingest loop layout upkeep: with zOrderCols set the emitted dest " +
    "stays a clustered managed z-ordered table across batches — appends " +
    "land unclustered, the in-loop sweep restores the layout, no rows " +
    "are lost or duplicated") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val docs = Tables.documents(spark, sf0001)
    val seed = docs.filter(col("doc_id") < 200)
    val root = java.nio.file.Files
      .createTempDirectory("graft_zingest").toString
    graft.ops.Dedup.buildNearDupIndex(seed, "zing_nd", s"$root/nd",
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
    graft.ops.TextAnalysis.buildContaminationIndex(seed, "zing_ct",
      s"$root/ct", "doc_id", "text", k = 5, w = 8,
      shingleHash = graft.functions.md5Hash31(_))
    graft.ops.TextAnalysis.buildBm25Index(seed, "zing_bm", s"$root/bm")
    val ix = EventStream.IngestIndexes("zing_nd", "zing_ct", "zing_bm",
      s"$root/bm", shingleK = 2, numPerm = 32, bands = 8,
      // threshold 0: EVERY batch's append triggers the sweep, so the
      // lifecycle (append → unclustered → re-cluster) runs per batch
      zOrderCols = Seq("doc_id", "n_chars"), zMaxUnclusteredPpm = 0L,
      zNumFiles = 4, zBits = 8)
    val dest = s"$root/kept"
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 350), ix, dest)
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 350), ix, dest)
    // compare against the SAME loop without layout management: identical
    // emitted rows (the sweep is content-preserving)
    graft.ops.Dedup.buildNearDupIndex(seed, "zref_nd", s"$root/nd2",
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
    graft.ops.TextAnalysis.buildContaminationIndex(seed, "zref_ct",
      s"$root/ct2", "doc_id", "text", k = 5, w = 8,
      shingleHash = graft.functions.md5Hash31(_))
    graft.ops.TextAnalysis.buildBm25Index(seed, "zref_bm", s"$root/bm2")
    val ixRef = EventStream.IngestIndexes("zref_nd", "zref_ct", "zref_bm",
      s"$root/bm2", shingleK = 2, numPerm = 32, bands = 8)
    val destRef = s"$root/kept2"
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 350), ixRef, destRef)
    EventStream.ingestBatch(docs.filter(col("doc_id") >= 350), ixRef, destRef)
    val got = spark.read.parquet(dest).select("doc_id").as[Long]
      .collect().sorted.toSeq
    val ref = spark.read.parquet(destRef).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(got == ref && got.nonEmpty)
    // the layout is CLUSTERED after the loop: everything in the manifest
    // (a follow-up sweep measures zero unclustered bytes and stays quiet)
    val quiet = graft.ops.Maintenance.maintainZOrderedTable(spark, dest,
      Seq("doc_id", "n_chars"), maxUnclusteredPpm = 0L, numFiles = 4,
      bits = 8)
    assert(!quiet.rewritten && quiet.unclusteredPpm == 0L, s"$quiet")
    Seq("zing_nd_sig", "zing_nd_shingles", "zing_ct", "zing_bm_postings",
      "zing_bm_docstats", "zing_bm_meta", "zref_nd_sig",
      "zref_nd_shingles", "zref_ct", "zref_bm_postings",
      "zref_bm_docstats", "zref_bm_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
