package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Plan-quality gates: the optimizations the library depends on at scale
  * must actually appear in the physical plans (SURVEY.md §4). These catch
  * regressions like a lost broadcast hint or a filter that stopped pushing
  * into the Parquet scan.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def planString(df: DataFrame): String = plan(df).toString

  test("q03 filter pushes predicates into the parquet scan") {
    val s = planString(SparkEntry.queries("q03_filter")(spark, sf0001))
    assert(s.contains("PushedFilters: ["))
    assert(s.contains("GreaterThan(l_quantity,45"), s)
  }

  test("q284/q285 layout read-back: point/range predicates push into the " +
    "scan over the z-ordered and bloom-filtered tables") {
    val sz = planString(SparkEntry.queries("q284_zorder_scan")(spark, sf0001))
    assert(sz.contains("LessThan(l_partkey,50)"), sz)
    assert(sz.contains("LessThan(l_suppkey,5)"), sz)
    val sb = planString(SparkEntry.queries("q285_bloom_lookup")(spark, sf0001))
    assert(sb.contains("EqualTo(l_orderkey,1)"), sb)
  }

  test("q02 projection prunes the read schema to selected columns") {
    val s = planString(SparkEntry.queries("q02_projection")(spark, sf0001))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_shipdate"), readSchema) // unused col not scanned
  }

  test("q04 joins the dimension tables via broadcast, not shuffle") {
    val s = planString(SparkEntry.queries("q04_regional_revenue")(spark, sf0001))
    assert(s.contains("BroadcastHashJoin"))
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q09 top-k plans as TakeOrderedAndProject, not a global sort") {
    val s = planString(SparkEntry.queries("q09_topk_orders")(spark, sf0001))
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("q01 aggregation is partial+final hash aggregate (map-side combine)") {
    val s = planString(SparkEntry.queries("q01_pricing_summary")(spark, sf0001))
    assert("HashAggregate".r.findAllIn(s).length >= 2, s)
  }

  test("q26 minhash signatures are a map-only plan: no exchange at all") {
    val s = planString(SparkEntry.queries("q26_minhash_sigs")(spark, sf0001))
    assert(!s.contains("Exchange"), s)
  }

  test("q14 bbox enrichment broadcasts the dim and never shuffles the fact side") {
    val s = planString(SparkEntry.queries("q14_add_country")(spark, sf0001))
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("ShuffleExchange"), s)
  }

  test("q32 embedding near-dup has no nested-loop join or full-corpus broadcast") {
    val s = planString(SparkEntry.queries("q32_embedding_neardup")(spark, sf0001))
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q48 pushes the shipdate range into the parquet scan; nations broadcast") {
    val s = planString(SparkEntry.queries("q48_volume_shipping")(spark, sf0001))
    val pushed = s.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("l_shipdate"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("q49 EXISTS plans as a semi join with the date filter pushed down") {
    val s = planString(SparkEntry.queries("q49_order_priority")(spark, sf0001))
    assert(s.contains("Semi"), s)
    val pushed = s.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("o_orderdate"), s)
  }

  test("q22 cosine top-k uses the native dot_product expression in codegen") {
    val df = SparkEntry.queries("q22_cosine_topk")(spark, sf0001)
    assert(planString(df).contains("dot_product"), planString(df))
    assert(planString(df).contains("TakeOrderedAndProject"))
  }

  test("date-partitioned writes enable partition pruning at read time") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val events = Tables.events(spark, sf0001)
      .withColumn("event_date", to_date(col("ts")))
    graft.io.IO.writeDir(events, s"$dir/events_by_date",
      partitionBy = Seq("event_date"))
    val pruned = spark.read.parquet(s"$dir/events_by_date")
      .filter(col("event_date") === "2024-01-05")
    val s = planString(pruned)
    val pf = s.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_date"), s) // filter lands on the partition column
    assert(pruned.count() > 0)
  }

  test("runtime bloom filter prunes the fact side of a selective non-broadcast join") {
    // at 100 TB a selective dim filter can't broadcast past the threshold;
    // Spark's runtime bloom filter (InjectRuntimeFilter) still prunes fact
    // rows before the shuffle — gate that the engine's plans get it
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtimeFilter.number.threshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // the 10GB default assumes production scans; the sf0.01 fixture is tiny
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
      val d = "/root/testdata/sf0.01"
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val o = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
      val s = planString(j)
      // InjectRuntimeFilter: fact rows meet a might_contain(bloom of the
      // filtered dim keys) BEFORE the join's shuffle
      assert(s.contains("might_contain"), s)
      assert(s.contains("bloom_filter_agg"), s)
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    graft.io.IO.writeBucketed(
      Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity"),
      "t_li_bucketed", s"$dir/li", Seq("l_orderkey"), 8, Seq("l_orderkey"))
    graft.io.IO.writeBucketed(
      Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice"),
      "t_or_bucketed", s"$dir/or", Seq("o_orderkey"), 8, Seq("o_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val j = spark.table("t_li_bucketed")
        .join(spark.table("t_or_bucketed"), col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val s = j.queryExecution.executedPlan.toString
      assert(!s.contains("Exchange"), s) // bucketing replaced the shuffle
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
      spark.sql("DROP TABLE IF EXISTS t_or_bucketed")
    }
  }

  test("persisted LSH signature index: probe shuffles ONLY the batch side") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    graft.ops.Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 250),
      "t_neardup_idx", dir, "doc_id", "text", shingleK = 2, numPerm = 64, bands = 8)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cands = graft.ops.Dedup.indexCandidates(docs.filter(col("doc_id") >= 250),
        "t_neardup_idx", "doc_id", "text", shingleK = 2, numPerm = 64, bands = 8)
      cands.collect()
      val p = cands.queryExecution.executedPlan
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.length == 1, p.toString) // the index side reads in place
      val scans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.bucketedScan), p.toString)
      // full probe through the index returns exactly the inline path's rows
      val indexed = graft.ops.Dedup.nearDupNewOnlyIndexed(
        docs.filter(col("doc_id") >= 250), "t_neardup_idx", "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 8, threshold = 0.8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val inline = graft.ops.Dedup.nearDupNewOnly(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", shingleK = 2, numPerm = 64, bands = 8, threshold = 0.8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(indexed == inline)
      assert(indexed.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS t_neardup_idx_sig")
      spark.sql("DROP TABLE IF EXISTS t_neardup_idx_shingles")
    }
  }

  test("persisted IVF index: probe scan prunes to the nProbe cell partitions") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    graft.ops.Similarity.buildIvfIndex(emb, centroids, s"$dir/ivf")
    val probe = graft.ops.Similarity.ivfTopKIndexed(
      spark, s"$dir/ivf", centroids, queryId = 1L, k = 10, nProbe = 2)
    assert(probe.count() > 0)
    val s = planString(probe)
    val pruned = s.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pruned.contains("cell_id"), s) // static pruning reached the scan
  }

  test("persisted IVF-PQ index: search prunes to nProbe cells, recomputes nothing") {
    // the round-6 'weak' fix: the search plan must read the STORED codes
    // (partition-pruned), never re-run cell assignment (assignCells'
    // argmax aggregate) or re-encode the corpus — the only touch of the
    // raw embeddings table is the 1-row query lookup
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val codebook = emb
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    graft.ops.Similarity.buildIvfPqIndex(emb, cellCentroids, codebook,
      s"$dir/pq", m = 4)
    val probe = graft.ops.Similarity.ivfPqTopKIndexed(
      spark, s"$dir/pq", emb, queryId = 1L, k = 10, nProbe = 2)
    assert(probe.count() == 10)
    val s = planString(probe)
    val pruned = s.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pruned.contains("cell_id"), s) // static pruning reached the codes scan
    // no assignCells in the search path (its argmax internals would appear)
    assert(!s.contains("negcell"), s)
    // the raw corpus is scanned exactly once — the pushed-down query lookup
    val embScans = s.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("embeddings")).toSeq
    assert(embScans.size == 1, s)
    assert(s.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,1)"), s)
  }

  test("batch ANN probes: one plan whose scan count is probe-count-independent") {
    // 50 probes must not mean 50 jobs or 50 scans: the batch tier is ONE
    // declarative plan; growing the probe set changes only a pushed-down
    // filter constant, never the plan shape. Candidates come from a
    // BROADCAST of the routing table — the corpus side never shuffles
    // for the join.
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    def scans(n: Int): Int = planString(
      graft.ops.Similarity.ivfTopKBatch(emb, centroids,
        col("vec_id") < n, k = 3, nProbe = 2))
      .linesIterator.count(_.contains("FileScan"))
    assert(scans(10) == scans(50))
    val s = planString(graft.ops.Similarity.ivfTopKBatch(emb, centroids,
      col("vec_id") < 50, k = 3, nProbe = 2))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(s.contains("GroupedTopK"), s) // bounded-buffer finish, no window sort
    assert(!s.contains("Window"), s)
  }

  test("AQE skew join splits the hot partition at runtime (skew marker in final plan)") {
    // the runtime half of the skew-tool story (ops/Salting is the static
    // half): with adaptive skew-join on, a sort-merge join whose build of
    // one shuffle partition dwarfs the rest must be re-planned with the
    // hot partition split — visible as the skew marker on the final
    // adaptive plan. Thresholds are lowered so the fixture-sized hot key
    // (one key carrying ~40k padded rows vs ~20 for the rest) trips the
    // same detection that fires at 100 TB defaults.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
      // payload must be INCOMPRESSIBLE-ish: skew detection reads compressed
      // map-output sizes, and a constant pad deflates the hot partition
      // right back under the byte threshold (md5 hex ≈ random → ~1 B/char)
      val left = ((1 to 40000).map(i => (0L, i.toLong)) ++
          (1L to 200L).flatMap(k => (0 until 20).map(i => (k, i.toLong))))
        .toDF("k", "rid")
        .withColumn("payload", concat(
          md5(concat(col("k").cast("string"), lit("_"), col("rid").cast("string"))),
          md5(concat(col("rid").cast("string"), lit("_"), col("k").cast("string")))))
        .drop("rid")
      val right = (0L to 200L).toDF("k")
        .withColumn("dim", concat(lit("d"), col("k").cast("string")))
      val joined = left.join(right, "k")
      // execute THIS dataframe's own QueryExecution (count()/agg() build a
      // different one — the join's plan would never finalize)
      assert(joined.collect().length == 40000 + 200 * 20)
      val s = joined.queryExecution.executedPlan.toString
      assert(s.contains("skew=true") || s.contains("skewed"),
        s"no skew split in the final adaptive plan:\n$s")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("termFrequencies tokenizes once: one Generate over one file scan") {
    // the round-4/5 single-tokenize contract, plan-gated: the shared
    // (doc, term, tf) relation reads the text column exactly once — a
    // reintroduced per-branch tokenize would show a second Generate/scan
    val tf = graft.ops.TextAnalysis.termFrequencies(
      Tables.documents(spark, sf0001), "doc_id", "text", materialize = false)
    val s = planString(tf)
    assert("Generate".r.findAllIn(s).length == 1, s)
    assert("FileScan".r.findAllIn(s).length == 1, s)
  }

  test("q81/q96 plans have no Window over the token stream and no re-tokenize") {
    // the hot-token skew fix: df/vocab counts come from map-side-combinable
    // groupBy aggregates joined back, never a count-window partitioned by
    // term/token (one n_docs-sized sort buffer on one task at 100 TB);
    // downstream of the materialized tf relation nothing re-explodes
    Seq("q81_tfidf_top_terms", "q96_unigram_lm_score").foreach { q =>
      val s = planString(SparkEntry.queries(q)(spark, sf0001))
      assert(!s.contains("Window"), s"$q plans a Window:\n$s")
      assert(!s.contains("Generate"), s"$q re-tokenizes:\n$s")
    }
  }

  test("q107 repetition flags: no corpus Window, bigram agg is partial+final") {
    // the metrics must come from (doc,bigram)-keyed aggregates (every key
    // contains the doc id — no corpus-wide hot key), never a count-window
    val s = planString(SparkEntry.queries("q107_repetition_flags")(spark, sf0001))
    assert(!s.contains("Window ["), s"q107 plans a Window:\n$s")
    assert(s.contains("partial_count"), s)
  }

  private def withoutAqe[A](body: => A): A = {
    // AQE hides the operator tree behind query stages; plan-structure
    // gates inspect the static plan (same pattern as the contamination
    // index gate below)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try { spark.conf.set("spark.sql.adaptive.enabled", "false"); body }
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q108 mixture sampling: rate gate is map-only on the corpus side") {
    // rates derive from a domain-count aggregate broadcast back; the
    // corpus itself must reach its gate join un-shuffled and un-sorted
    val p = withoutAqe {
      plan(SparkEntry.queries("q108_mixture_sample")(spark, sf0001))
    }
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, p.toString)
    // the streamed (corpus) side of the rates join: no exchange below it
    val streamed = joins.map(j =>
      if (j.buildSide.toString.contains("Right")) j.left else j.right)
    streamed.foreach { side =>
      val ex = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(ex.isEmpty, s"corpus side shuffles before the rate gate:\n$p")
    }
  }

  test("q109 budget trim: the only Window runs over the histogram, inside the broadcast") {
    val p = withoutAqe {
      plan(SparkEntry.queries("q109_token_budget_trim")(spark, sf0001))
    }
    val semis = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType.toString.contains("Semi") => j
    }
    assert(semis.nonEmpty, p.toString)
    semis.foreach { j =>
      val corpus = if (j.buildSide.toString.contains("Right")) j.left else j.right
      // the corpus probe side must be sort- and window-free: the budget
      // cutoff was computed on the (domain, bucket) histogram only
      assert(corpus.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"corpus side windows:\n$p")
      assert(corpus.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"corpus side shuffles before the semi-join:\n$p")
    }
  }

  test("q176 containment candidates: no array column crosses any Exchange") {
    // the scale contract for containmentPairs' candidate stage: shingle
    // arrays must NOT ride the corpus-shingle-sized explode — every
    // shuffle in the candidate sub-plan carries (key, id) scalars only;
    // arrays are fetched per surviving pair afterwards
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val base = graft.ops.Dedup.containmentBase(docs, "doc_id", "text", k = 3)
    val p = withoutAqe {
      val cands = graft.ops.Dedup.containmentCandidates(base,
        anchorCount = 1, maxBucket = 10000)
      cands.collect()
      plan(cands)
    }
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, p.toString)
    shuffles.foreach { e =>
      val arrayCols = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"array-typed column(s) ${arrayCols.map(_.name).mkString(",")} cross an Exchange:\n$p")
    }
  }

  test("q235 binary-quant ANN: no array column crosses any ShuffleExchange") {
    // the scale contract: the corpus lane shuffles (id, lo, hi) codes —
    // 24 bytes/vector — and the re-rank fetches raw arrays against a
    // BROADCAST shortlist; embeddings never ride a shuffle Exchange
    val p = withoutAqe {
      val df = SparkEntry.queries("q235_binary_quant_topk")(spark, sf0001)
      df.collect()
      plan(df)
    }
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val arrayCols = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"array-typed column(s) ${arrayCols.map(_.name).mkString(",")} cross an Exchange:\n$p")
    }
  }

  test("q236 snake shards: the corpus rank window is bucket-partitioned; only the bucket-count frame windows unpartitioned") {
    val p = withoutAqe {
      val df = SparkEntry.queries("q236_balanced_shards")(spark, sf0001)
      df.collect()
      plan(df)
    }
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p.toString)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.output.exists(_.name == "__t"),
        s"unpartitioned window over a non-bucket frame:\n$p")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty), p.toString)
  }

  test("q233 packing: the corpus cumsum window is bucket-partitioned; only the bucket-total frame windows unpartitioned") {
    val p = withoutAqe {
      val df = SparkEntry.queries("q233_sequence_packing")(spark, sf0001)
      df.collect()
      plan(df)
    }
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p.toString)
    // a global single-partition window over the corpus is the scale-killer
    // this operator exists to avoid: any unpartitioned window must be the
    // bucket-base frame (<= `buckets` rows, identified by the __t
    // bucket-total column it windows over)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.output.exists(_.name == "__t"),
        s"unpartitioned window over a non-bucket frame:\n$p")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty), p.toString)
  }

  test("q242 roc report: the cumulative window runs over the bounded " +
    "distinct-score aggregate, never corpus rows") {
    val p = withoutAqe {
      val df = SparkEntry.queries("q242_quality_roc_report")(spark, sf0001)
      df.collect()
      plan(df)
    }
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p.toString)
    // every (necessarily unpartitioned) cumulative window must sit above
    // the per-distinct-score aggregate — its input carries the aggregate's
    // n_pos/n_neg columns, not raw corpus rows; the score domain bounds it
    windows.foreach { w =>
      assert(w.child.output.exists(_.name == "n_pos") &&
        w.child.output.exists(_.name == "n_neg"),
        s"cumulative window not over the distinct-score aggregate:\n$p")
    }
  }

  test("q244 rank-sum matrix: every support window is pair-partitioned") {
    val p = withoutAqe {
      val df = SparkEntry.queries("q244_ranksum_pairs")(spark, sf0001)
      df.collect()
      plan(df)
    }
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p.toString)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"global window in the pair fan-out:\n$p"))
  }

  test("q245 PSI: bin edges broadcast back, no window anywhere") {
    val p = withoutAqe {
      val df = SparkEntry.queries("q245_psi_drift")(spark, sf0001)
      df.collect()
      plan(df)
    }
    assert(p.toString.contains("BroadcastHashJoin"), p.toString)
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"PSI should be window-free:\n$p")
  }

  test("q230 matryoshka eval: query side broadcasts, embedding arrays never cross a shuffle") {
    val p = withoutAqe {
      val df = SparkEntry.queries("q230_matryoshka_recall")(spark, sf0001)
      df.collect()
      plan(df)
    }
    // the query sample rides a broadcast; the corpus is scanned in place
    assert(p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, p.toString)
    // the rank/aggregate shuffles carry (query, id, sim, sim) scalars only
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, p.toString)
    shuffles.foreach { e =>
      val arrayCols = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"array-typed column(s) ${arrayCols.map(_.name).mkString(",")} cross an Exchange:\n$p")
    }
  }

  test("q183 persisted containment index: probe reads the key table in place") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_contidx_gate").toString
    val name = "t_cont_idx_gate"
    graft.ops.Dedup.buildContainmentIndex(docs.filter(col("doc_id") < 250),
      name, dir, "doc_id", "text", k = 3)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val batchBase = graft.ops.Dedup.containmentBase(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", k = 3)
      val cands = graft.ops.Dedup.containmentCandidatesIndexed(batchBase,
        name, anchorCount = 1, maxBucket = 10000)
      cands.collect()
      val p = cands.queryExecution.executedPlan
      // the index side is bucketed by the join key: read in place
      val scans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.bucketedScan), p.toString)
      // every shuffle is on the batch side: the probe join's index-scan
      // subtree must be exchange-free (the bucket layout IS the join
      // partitioning)
      val joins = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, p.toString)
      val indexSides = joins.flatMap(j => Seq(j.children.head, j.children(1)))
        .filter(_.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.bucketedScan => f
        }.nonEmpty)
      assert(indexSides.nonEmpty, p.toString)
      indexSides.foreach { side =>
        assert(side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty, s"index side shuffles:\n$p")
      }
      // and no shuffle anywhere in the probe carries an array column
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        assert(!e.output.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"array crosses an Exchange:\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql(s"DROP TABLE IF EXISTS ${name}_keys")
      spark.sql(s"DROP TABLE IF EXISTS ${name}_shingles")
    }
  }

  test("q100 dedup shuffles the content hash, never the cleaned text") {
    val s = planString(SparkEntry.queries("q100_training_pipeline")(spark, sf0001))
    val exchanges = s.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s)
    exchanges.foreach(l =>
      assert(!l.contains("clean_text"), s"exchange keyed on text:\n$l"))
  }

  test("q103 SQL NOT EXISTS over a windowed subquery plans as an anti join") {
    val s = planString(SparkEntry.queries("q103_exists_windowed_anti")(spark, sf0001))
    assert(s.contains("Anti"), s)
  }

  test("q104 SQL row_number top-1 replans as GroupedTopK (rewrite fired)") {
    // q104 installs the rewrite session-wide (its production deployment
    // shape) — restore afterwards so suite ordering can't silently turn
    // other suites' window-formulation REFERENCE plans into GroupedTopK
    // (GroupedTopKSpec compares the operator against a real WindowExec)
    val prevOpt = spark.experimental.extraOptimizations
    try {
      val df = SparkEntry.queries("q104_sql_top1_per_key")(spark, sf0001)
      val s = planString(df)
      assert(s.contains("GroupedTopK"), s)
      assert(!s.contains("Window"), s)
    } finally spark.experimental.extraOptimizations = prevOpt
  }

  test("q281 co-occurrence baskets: the hot-key cap is a bounded-state " +
    "GroupedTopK pre-cut UNDER the basket aggregate (no unbounded " +
    "collect_set buffer)") {
    // VERDICT r11: slice(sort_array(collect_set)) capped the pair
    // explosion but materialized ALL distinct items of a hot key in one
    // aggregation buffer first. The pre-cut must appear as the partial+
    // final GroupedTopK pair feeding the collect aggregate.
    val df = SparkEntry.queries("q281_copurchase_partners")(spark, sf0001)
    val s = planString(df)
    assert(s.contains("GroupedTopKPartial"), s)
    assert(s.contains("GroupedTopKFinal"), s)
    assert(!s.contains("collect_set"), s)
    // r12 verdict: the symmetrize must NOT self-union (that plans the
    // mining subtree twice) — one subtree + a both-directions explode
    assert(!s.contains("Union"), s)
    assert(s.contains("Generate explode"), s)
  }

  test("contamination fingerprint index: probe reads the index in place") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_contam_idx").toString
    graft.ops.TextAnalysis.buildContaminationIndex(
      docs.filter(col("doc_id") < 250), "t_contam_idx", dir,
      "doc_id", "text", k = 3, w = 4,
      shingleHash = graft.functions.md5Hash31, numBuckets = 8)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val flags = graft.ops.TextAnalysis.contaminationFlagsIndexed(
        docs.filter(col("doc_id") >= 250), "t_contam_idx", "doc_id", "text",
        k = 3, w = 4, shingleHash = graft.functions.md5Hash31)
      flags.collect()
      val p = flags.queryExecution.executedPlan
      val scans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.bucketedScan), p.toString) // index read in place
      // zero exchange on the index SIDE of the probe semi-join: the join
      // input that holds the bucketed scan reaches the join with no
      // shuffle between them (bucket layout = join key); only the batch
      // side moves. Downstream shuffles (distinct, flag join) are fine.
      val semis = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType.toString.contains("Semi") => j
      }
      assert(semis.nonEmpty, p.toString)
      def bucketedIn(sp: SparkPlan): Boolean = sp.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan => f
      }.nonEmpty
      semis.filter(j => bucketedIn(j.right) || bucketedIn(j.left)).foreach { j =>
        val idxSide = if (bucketedIn(j.right)) j.right else j.left
        val shufflesOnIdx = idxSide.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(shufflesOnIdx.isEmpty, s"shuffle on the index side:\n$p")
      }
      // tier equivalence: the persisted index flags exactly the inline rows
      val indexed = flags.collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      val inline = graft.ops.TextAnalysis.contaminationFlags(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "doc_id", "text", k = 3, w = 4,
        shingleHash = graft.functions.md5Hash31)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(indexed == inline)
      assert(indexed.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS t_contam_idx")
    }
  }

  test("q112 PII scrub is a map-only projection (no exchange, no UDF)") {
    // the whole scrub — counts + three sequential regexp_replaces — must
    // stay a single codegen'd projection over the scan: any Exchange or
    // BatchEvalPython here would mean the operator broke out of the
    // scan-speed tier it is documented to run in at 100 TB
    val s = planString(graft.ops.Redact.scrub(
      Tables.documents(spark, sf0001), "text"))
    assert(!s.contains("Exchange"), s"q112 scrub shuffles:\n$s")
    assert(!s.contains("Eval"), s"q112 scrub leaves codegen:\n$s")
    // executedPlan.toString renders codegen stages as "*(n)" prefixes
    assert(s.contains("*(1) Project"), s)
  }

  test("q113 bigram LM: single tokenize, no Window, counts are partial+final") {
    // same contract as the q81/q96 gates: the un-materialized
    // (doc, bigram, tf) relation reads+explodes the text exactly once...
    val tfPlan = graft.ops.TextAnalysis.bigramFrequencies(
      Tables.documents(spark, sf0001), "doc_id", "text", materialize = false)
    val ts = planString(tfPlan)
    assert("Generate".r.findAllIn(ts).length == 1, ts)
    assert("FileScan".r.findAllIn(ts).length == 1, ts)
    assert(ts.contains("partial_count"), ts)
    // ...and downstream of the materialized relation nothing re-explodes
    // and no corpus count comes from a window partitioned by bigram
    // (hot-bigram partition = one sort-buffering task at 100 TB)
    val s = planString(SparkEntry.queries("q113_bigram_lm_score")(spark, sf0001))
    assert(!s.contains("Window ["), s"q113 plans a Window:\n$s")
    assert(!s.contains("Generate"), s"q113 re-tokenizes:\n$s")
    assert(s.contains("partial_sum"), s)
  }

  test("q115 logistic quality scorer is a map-only projection") {
    // "model inference" must compile to arithmetic inside the scan's
    // codegen stage — no shuffle, no UDF eval node
    val s = planString(graft.ops.TextAnalysis.qualityLogistic(
      Tables.documents(spark, sf0001)))
    assert(!s.contains("Exchange"), s"q115 shuffles:\n$s")
    assert(!s.contains("Eval"), s"q115 leaves codegen:\n$s")
  }

  test("q134 chunk dedup: keep decision is partial+final on the hash; no re-tokenize") {
    // the chunked relation is checkpointed once — both the keeper
    // aggregate and the reassembly must read the checkpoint (no parquet
    // FileScan, no second Generate/explode), and the min-keeper aggregate
    // must partial-combine map-side so a hot boilerplate chunk collapses
    // before its exchange
    val q = SparkEntry.queries("q134_chunk_dedup")(spark, sf0001)
    val s = planString(q)
    assert(!s.contains("FileScan"), s"chunk dedup re-scanned parquet:\n$s")
    assert(!s.contains("Generate"), s"chunk dedup re-tokenized:\n$s")
    assert("partial_min".r.findAllIn(s).nonEmpty ||
      "HashAggregate".r.findAllIn(s).length >= 4, s)
  }

  test("q264 corpus health: all five monitor branches read the one " +
    "checkpointed base — a single corpus scan, not five") {
    // the dashboard previously opened a FileScan per monitor family
    // (dup rate, PSI, quality, concentration, novelty); the shared base
    // is now checkpointed once (q207 discipline), so the composed plan
    // must contain ZERO parquet FileScans — every branch reads the
    // checkpoint blocks
    val q = SparkEntry.queries("q264_corpus_health")(spark, sf0001)
    val s = planString(q)
    assert(!s.contains("FileScan"),
      s"corpus-health dashboard re-scanned parquet:\n$s")
  }

  test("q153 duplicate spans: single tokenize, broadcast-anti hot-gram cap") {
    // the positional-gram relation is checkpointed once — the droplist
    // aggregate and both self-join sides must read the checkpoint (no
    // parquet FileScan, no second Generate), and the hot-gram cap must be
    // a broadcast ANTI join (the droplist is small by construction; a
    // shuffle here would re-exchange the whole gram relation a third time).
    // Gate the PRODUCER directly: the q153 entry now reads the
    // session-cached span relation, so its own plan is just a scan
    val q = graft.ops.Dedup.duplicateSpans(
      Tables.documents(spark, sf0001), k = 3, minRun = 2, maxOcc = 20,
      shingleHash = graft.functions.md5Hash31(_))
    val s = planString(q)
    assert(!s.contains("FileScan"), s"duplicate spans re-scanned parquet:\n$s")
    assert(!s.contains("Generate"), s"duplicate spans re-tokenized:\n$s")
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftAnti"),
      s"hot-gram cap is not a broadcast anti join:\n$s")
  }

  test("q158 source gate: corpus never shuffles, verdict applies by broadcast semi") {
    // the scored relation is checkpointed (one tokenize); the per-source
    // mean shuffles #sources-sized partials only, and the keep decision
    // must come back as a broadcast LEFT SEMI — any hashpartitioning on
    // doc_id would mean the corpus itself got exchanged
    val q = SparkEntry.queries("q158_source_quality_gate")(spark, sf0001)
    val s = planString(q)
    assert(!s.contains("FileScan"), s"source gate re-scanned parquet:\n$s")
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s"source verdict is not a broadcast semi join:\n$s")
    assert(!s.contains("hashpartitioning(doc_id"),
      s"corpus rows were shuffled by doc_id:\n$s")
  }

  test("q138 rotated PQ encode never shuffles the corpus (broadcast-only plan)") {
    val s = planString(SparkEntry.queries("q138_rotated_pq")(spark, sf0001))
    // the ONLY permitted shuffle is the 16-row codebook assembly (keyed
    // on cid, inside a broadcast subtree); the corpus side (vec_id) must
    // stay map-only
    assert(!s.contains("hashpartitioning(vec_id"), s)
    assert(!s.contains("Exchange rangepartitioning"), s)
    assert(s.contains("mat_vec"), s) // rotation is ONE native expression
  }

  test("batch IVF-PQ probe: routing is a per-row projection, the routed " +
    "probes are the only broadcast, the codes never cross an exchange") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val codebook = emb
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_batch").toString
    graft.ops.Similarity.buildIvfPqIndex(emb, cellCentroids, codebook,
      s"$dir/pq", m = 4, residual = true)
    val p = withoutAqe {
      plan(graft.ops.Similarity.ivfPqTopKBatch(spark, s"$dir/pq", emb,
        col("vec_id") < 50, k = 10))
    }
    val s = p.toString
    assert(!s.contains("NestedLoopJoin") && !s.contains("CartesianProduct"), s)
    // the only broadcast relation is the routed probes (also the codes
    // scan's dynamic partition pruning); centroids and codebook are plan
    // constants, not relations
    val broadcasts = p.collectWithSubqueries { case b: BroadcastExchangeExec => b.child.toString }
    assert(broadcasts.nonEmpty, s)
    assert(broadcasts.forall(b => b.contains("Generate explode") && !b.contains("codes")), s)
    // the only shuffle is GroupedTopK's, by probe: no routing exchange
    val shuffleKeys = p.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.map(_.sql).mkString(",")
        case other => other.toString
      }
    }
    assert(shuffleKeys.size == 1 && shuffleKeys.head.startsWith("probe_id"), s)
  }

  test("q139 refined search: shortlist from the index, floats only for the fetch") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val codebook = emb
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_ref2").toString
    graft.ops.Similarity.buildIvfPqIndex(emb, cellCentroids, codebook,
      s"$dir/pq", m = 4)
    val refined = graft.ops.Similarity.ivfPqTopKRefined(
      spark, s"$dir/pq", emb, queryId = 1L, k = 10, rerank = 50, nProbe = 2)
    val s = planString(refined)
    // no assignCells argmax; every embeddings scan except the semi-join
    // fetch is a pushed-down 1-row query lookup (each stage keeps its own)
    assert(!s.contains("negcell"), s)
    val embScans = s.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("embeddings")).toSeq
    // a point lookup pushes EqualTo(vec_id,1); the fetch side pushes
    // Not(EqualTo(...)), which contains the same substring — strip it first
    val nonPoint = embScans.filterNot(
      _.replace("Not(EqualTo(vec_id,1))", "").contains("EqualTo(vec_id,1)"))
    assert(nonPoint.size == 1, s"expected 1 non-lookup embeddings scan:\n$s")
    assert(s.contains("LeftSemi, BuildRight") || s.contains("BroadcastHashJoin"),
      s"fetch is not a broadcast semi-join:\n$s")
    assert(s.contains("TakeOrderedAndProject"), s) // re-rank is top-k, no sort
  }

  test("q167 rolling distinct users: fan-out over the DEDUPED relation, no Window") {
    // the ≤7× explode must sit above the (day, user) dedup aggregate,
    // never above raw events; and the rolling count is an aggregate, not
    // a window over the corpus
    val s = planString(
      SparkEntry.queries("q167_rolling_active_users")(spark, sf0001))
    assert(!s.contains("Window"), s"rolling count planned as a Window:\n$s")
    assert(!s.contains("CartesianProduct"), s)
    // the Generate's immediate child must be the (day, user) dedup
    // aggregate — exploding raw events would fan out the full log
    val lines = s.linesIterator.toIndexedSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0 && genIdx + 1 < lines.size &&
      lines(genIdx + 1).contains("HashAggregate(keys=[__day"),
      s"explode is not directly above the (day, user) dedup aggregate:\n$s")
  }

  test("q169 DSIR scoring: lambda table applies by broadcast, corpus side map-only") {
    // after the checkpointed (doc, bucket, count) relation, the λ join
    // must be a BroadcastHashJoin (≤ buckets rows) — a sort-merge join
    // would mean the feature relation got re-sorted/shuffled per query.
    // Gate the PRODUCER directly: the q169 entry now reads the
    // session-cached weight relation, so its own plan is just a scan
    val q = graft.ops.Sampling.dsirWeights(
      Tables.documents(spark, sf0001),
      org.apache.spark.sql.functions.col("source")
        .isin("src1", "src2", "src3"))
    val s = planString(q)
    assert(s.contains("BroadcastHashJoin"),
      s"λ table did not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"feature relation shuffled:\n$s")
    assert(!s.contains("Window"), s)
  }

  test("q173 temperature mixture: rate table broadcasts, corpus never shuffles pre-gate") {
    val q = SparkEntry.queries("q173_temperature_mixture")(spark, sf0001)
    val s = planString(q)
    assert(s.contains("BroadcastHashJoin"), s"rates did not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("hashpartitioning(doc_id"),
      s"corpus rows were shuffled by doc_id before the gate:\n$s")
  }

  test("metadata-only multimodal scan does not read the blob column") {
    val media = graft.ops.Multimodal.synthesize(
      spark, Tables.documents(spark, sf0001).select("doc_id"), "doc_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    media.write.mode("overwrite").parquet(s"$dir/media")
    val scan = graft.ops.Multimodal.metadataScan(spark.read.parquet(s"$dir/media"))
    val readSchema = planString(scan).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("content"), readSchema)
  }

  test("q189 data card: the text column never crosses an Exchange") {
    // the dup-rate lane hashes text to md5-31 BEFORE any shuffle — the
    // corpus-heavy string must stay inside its scan stage; only hashes,
    // ids, and the tiny (source, lang) strings may ride a shuffle
    withoutAqe {
      val q = SparkEntry.queries("q189_data_card")(spark, sf0001)
      val shuffles = plan(q).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        // r16: the conditional Spread round-robin rebalance directly
        // after an under-split scan (one row group = one core) is the
        // ONE place text may ride an exchange — it moves the
        // pre-expansion input once, the guide-§2.5 small-input remedy,
        // and vanishes on any multi-split (production) input. Text on a
        // HASH/RANGE exchange (a join/agg key shuffle) stays forbidden.
        val roundRobin = e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
        val textCols = e.output.filter(_.name == "text")
        assert(roundRobin || textCols.isEmpty,
          s"text crossed a keyed Exchange:\n${plan(q)}")
      }
    }
  }

  test("q191 audience overlap: per-type tables broadcast, no cartesian pair join") {
    val q = SparkEntry.queries("q191_audience_overlap")(spark, sf0001)
    val s = planString(q)
    // the co-presence join is a keyed equi-join on user, never a product
    assert(!s.contains("CartesianProduct"), s)
    // types-sized count/sketch relations ride broadcast joins
    assert(s.contains("BroadcastHashJoin"), s"per-type tables did not broadcast:\n$s")
  }

  test("q186 lexical diversity: single tokenize (one Generate, one scan)") {
    val q = SparkEntry.queries("q186_lexical_diversity")(spark, sf0001)
    val s = planString(q)
    assert("Generate".r.findAllIn(s).length == 1, s"re-tokenized:\n$s")
    assert("Scan parquet".r.findAllIn(s).length == 1, s)
    // the doc-keyed aggregate is map-side combinable
    assert("HashAggregate".r.findAllIn(s).length >= 2, s)
  }

  test("q198 cross-source dups: text reduces to hashes before any Exchange") {
    withoutAqe {
      val q = SparkEntry.queries("q198_cross_source_dups")(spark, sf0001)
      val shuffles = plan(q).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        assert(!e.output.exists(_.name == "text"),
          s"text crossed an Exchange:\n${plan(q)}")
      }
    }
  }

  test("q203 quantile normalization: ONE shuffle serves both windows") {
    // rank and count windows share the same partitioning — a second
    // Exchange would mean the window specs drifted apart
    withoutAqe {
      val q = SparkEntry.queries("q203_quantile_normalize")(spark, sf0001)
      val shuffles = plan(q).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.length == 1, s"expected 1 Exchange:\n${plan(q)}")
      assert(planString(q).contains("Window"), planString(q))
    }
  }

  test("q201 mutual kNN: block pairs broadcast; top-k is the bounded-heap operator") {
    // gate the PAIR pipeline (the census side is behind clusterNearDups'
    // checkpoint, which cuts the visible plan at an ExistingRDD scan)
    val pairs = graft.ops.Similarity.mutualKnnPairs(
      Tables.embeddings(spark, sf0001), k = 5)
    val s = planString(pairs)
    // the block-pair frame rides a broadcast join, never a shuffle
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    // per-vector top-k runs on GroupedTopK (partial heap + final), not a
    // Window sort over the full pair relation
    assert(s.contains("GroupedTopKPartial"), s)
    assert(s.contains("GroupedTopKFinal"), s)
  }

  test("q214 indexed BM25: postings scan prunes to the query terms' buckets") {
    val docs = Tables.documents(spark, sf0001)
    graft.ops.TextAnalysis.ensureBm25Index(docs, "bm25_plangate",
      "/tmp/graft_bm25/plangate")
    val q = graft.ops.TextAnalysis.bm25SearchIndexed(spark,
      "bm25_plangate", Seq("dup", "vector", "scan"), topK = 20)
    val s = planString(q)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(s)
    assert(sel.isDefined, s"no bucket pruning on the postings scan:\n$s")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"bucket pruning selected everything: ${sel.get.matched}")
    // the search path never re-reads the documents table
    assert(!s.contains("documents.parquet"), s)
  }

  test("q196 leakage-safe split: the doc text never crosses an Exchange") {
    // the LSH pair pipeline, CC loop, and census all shuffle ids/hashes
    // only; localCheckpoint inside clusterNearDups cuts the plan, so the
    // gate runs on the pair pipeline itself
    withoutAqe {
      val pairs = graft.ops.Dedup.minhashNearDupPairs(
        Tables.documents(spark, sf0001), "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
      val shuffles = plan(pairs).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        assert(!e.output.exists(_.name == "text"),
          s"text crossed an Exchange:\n${plan(pairs)}")
      }
    }
  }

  test("windowedPpmi: bounded GroupedTopK rank (no window sort), " +
    "array-side pair generation (no self-join on a pair relation)") {
    val docs = Tables.documents(spark, sf0001)
    val s = planString(
      graft.ops.TextAnalysis.windowedPpmi(docs, window = 4, minCount = 2,
        k = 3))
    assert(s.contains("GroupedTopK"), s) // bounded buffers per word
    assert(!s.contains("Window"), s)
    // pair generation is the exploded array, not a positions self-join:
    // the only joins are the vocabulary-sized marginal lookups (both
    // broadcast) + the 1-row N ride — none between pair-sized relations
    assert(s.contains("Generate explode"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q309 blocklist census: text consumed in one map-only projection " +
    "(one scan, text pruned in, one rollup shuffle, no sort join)") {
    val s = planString(SparkEntry.queries("q309_blocklist_census")(
      spark, sf0001))
    assert("Scan parquet|FileScan".r.findAllIn(s).length == 1, s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("source"),
      readSchema) // only the text column reaches the scan
    // the sole shuffle is the |phrases|-sized rollup; the doc count rides
    // a 1-row broadcast
    assert(!s.contains("SortMergeJoin"), s)
    assert("HashAggregate".r.findAllIn(s).length >= 2, s) // partial+final
  }

  test("q312 release gate: the corpus text is scanned exactly ONCE " +
    "(single aggregation chain, no second branch off the cells)") {
    val s = planString(SparkEntry.queries("q312_release_gate")(
      spark, sf0001))
    assert("Scan parquet|FileScan".r.findAllIn(s).length == 1, s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q313 k-center: each greedy round is a TakeOrdered(1) over the " +
    "pool, never a global sort") {
    // the op loops on the driver; gate the per-round argmax shape on the
    // pool relation directly
    import org.apache.spark.sql.functions.{col, desc}
    val emb = Tables.embeddings(spark, sf0001)
    val pool = emb.select(col("vec_id"), col("embedding"))
    val s = planString(pool.orderBy(desc("vec_id")).limit(1))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(!s.contains("Exchange rangepartitioning"), s)
  }

  test("q314/q318/q320 are map-only plans: no exchange before the " +
    "output-sized projection") {
    // the pHash codec tier, the URL canonicalizer and the sequency
    // audio fingerprint are all one whole-stage projection (plus the
    // codec mapPartitions span) — a shuffle appearing here means a
    // regression broke the map-only contract
    for (q <- Seq("q314_image_phash", "q318_url_canonicalize",
        "q320_audio_spectral_fp", "q325_main_content")) {
      val s = planString(SparkEntry.queries(q)(spark, sf0001))
      // r16: the ONE allowed exchange is Spread's round-robin rebalance
      // of an under-split scan (q189 gate rationale) — it carries the
      // pre-synthesis id rows and vanishes on multi-split inputs; any
      // KEYED exchange still fails the map-only contract
      val keyed = "Exchange (hashpartitioning|rangepartitioning)".r
      assert(keyed.findFirstIn(s).isEmpty &&
          !s.contains("SinglePartition"),
        s"$q grew a keyed shuffle:\n$s")
    }
  }

  test("q308 t-closeness: the QI-group-cardinality relation never " +
    "crosses a BroadcastExchange and no join is keyed on the QI") {
    import org.apache.spark.sql.functions._
    // 10^5 QI groups × 2 sensitive values — the relation the old forced
    // broadcast(groupTotals) would have shipped driver-side (r13 verdict:
    // OOM at crawl-scale fine-grained QI, the audit's own sweet spot)
    val df = spark.range(200000L)
      .select((col("id") % 100000L).as("g"),
        (col("id") % 2L).cast("string").as("s"))
    val (p, nRows) = withoutAqe {
      val rep = graft.ops.Redact.tClosenessReport(df, Seq("g"), "s")
      val n = rep.collect().map(_.getAs[Long]("n_rows")).max
      (plan(rep), n)
    }
    assert(nRows == 200000L)
    val s = p.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"t-closeness grew a QI-keyed shuffle join:\n$s")
    val bx = p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bx.nonEmpty, s) // value marginals + 1-row total still broadcast
    bx.foreach { b =>
      assert(!b.output.exists(_.name == "g"),
        s"QI-group-cardinality relation crossed a BroadcastExchange:\n$s")
    }
  }

  test("minhashNearDupPairs verify join: no corpus-derived side crosses a " +
    "BroadcastExchange (the 100x soak's broadcast-build failure mode)") {
    // At test scale the shingle relation is tiny, so WITHOUT the merge
    // pin the planner elects a broadcast here (default 10 MB threshold
    // left in force on purpose) — this gate fails the moment the pin is
    // lost. The shingle relation grows with the corpus: a broadcast of
    // it succeeds at sf0.001 and OOMs any driver at some corpus size.
    withoutAqe {
      val pairs = graft.ops.Dedup.minhashNearDupPairs(
        Tables.documents(spark, sf0001), "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
      val bx = plan(pairs).collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(bx.isEmpty,
        s"corpus-derived relation crossed a BroadcastExchange:\n${plan(pairs)}")
      assert(planString(pairs).contains("SortMergeJoin"), planString(pairs))
    }
  }

  test("nearDupMatchesIndexed: the stored shingle table never broadcasts; " +
    "only batch-derived sides may") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_bgate").toString
    graft.ops.Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 250),
      "t_ndbx_idx", dir, "doc_id", "text", shingleK = 2, numPerm = 64, bands = 8)
    try {
      val m = withoutAqe {
        plan(graft.ops.Dedup.nearDupMatchesIndexed(
          docs.filter(col("doc_id") >= 250), "t_ndbx_idx", "doc_id", "text",
          shingleK = 2, numPerm = 64, bands = 8, threshold = 0.8))
      }
      val bx = m.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      // the stored shingle arrays (corpus-sized, array payloads) must not
      // appear under any broadcast build
      bx.foreach { b =>
        assert(!b.output.exists(_.name == "__sh___cid"),
          s"stored shingle table crossed a BroadcastExchange:\n$m")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_ndbx_idx_sig")
      spark.sql("DROP TABLE IF EXISTS t_ndbx_idx_shingles")
    }
  }

  test("hash-set index probe: the sig table reads in place (bucketed, " +
    "zero exchange on the index side) like the text family") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rel = (0L until 400L).map(i =>
      (i, Seq(i % 7, i % 11, i % 13, i % 17).map(_ * 1000L + i % 5)))
      .toDF("id", "hs")
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_idx").toString
    graft.ops.Dedup.buildHashSetIndex(rel.filter(col("id") < 200),
      "t_hs_idx", dir, "id", "hs", numPerm = 32, bands = 8, numBuckets = 8)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val m = graft.ops.Dedup.hashSetMatchesIndexed(
        rel.filter(col("id") >= 200), "t_hs_idx", "id", "hs",
        numPerm = 32, bands = 8, threshold = 0.5)
      m.collect()
      val p = m.queryExecution.executedPlan
      val scans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.bucketedScan), p.toString)
      val bx = p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(bx.isEmpty, s"index probe grew a broadcast:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS t_hs_idx_sig")
      spark.sql("DROP TABLE IF EXISTS t_hs_idx_shingles")
    }
  }

  test("clusterNearDups: no CC round broadcasts the nodes-sized label " +
    "relation (executed-plan capture across the whole loop)") {
    import spark.implicits._
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a 2-component graph with a chain long enough for several rounds;
      // tiny relations on purpose: the optimizer WOULD broadcast every
      // labels join absent the merge pins
      val pairs = (1L to 40L).sliding(2).map(w => (w.head, w.last)).toSeq
        .++(Seq((100L, 101L))).toDF("id_a", "id_b")
      graft.ops.Dedup.clusterNearDups(pairs).collect()
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBusEmpty(spark)
      val plans = captured.toArray(Array.empty[String])
      assert(plans.nonEmpty)
      // the capture must actually include the round joins (not just the
      // scalar label-sum aggregates) or this gate is vacuous
      assert(plans.exists(_.contains("SortMergeJoin")),
        s"no captured plan contains the round joins:\n${plans.mkString("\n---\n")}")
      val offenders = plans.filter(_.contains("BroadcastExchange"))
      assert(offenders.isEmpty, s"a CC round broadcast a nodes-sized " +
        s"relation:\n${offenders.headOption.getOrElse("")}")
    } finally spark.listenerManager.unregister(listener)
  }
}
