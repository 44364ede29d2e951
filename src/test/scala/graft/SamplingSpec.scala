package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sampling}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)

  test("unimax waterfill caps small sources and recycles their leftover") {
    // tokens a=10, b=10, c=100; budget = 100% of 120; cap = 2 epochs.
    // Ascending visit: a takes min(20, 120/3)=20; b min(20, 100/2)=20;
    // c min(200, 80/1)=80 — the capped leftovers recycled into c's share.
    def doc(id: Long, src: String, n: Int) = (id, src, ("x " * n).trim)
    val d = Seq(doc(1, "a", 10), doc(2, "b", 10), doc(3, "c", 100))
      .toDF("doc_id", "source", "text")
    val got = Sampling.unimaxAllocation(d, budgetFactorPct = 100,
        maxEpochs = 2)
      .orderBy("source").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 10L, 20L, 2000000L, 166666L),
      ("b", 10L, 20L, 2000000L, 166666L),
      ("c", 100L, 80L, 800000L, 666666L)))
    // allocation exhausts the budget when caps allow it
    assert(got.map(_._3).sum == 120L)
  }

  test("hash sample is deterministic and invariant under repartitioning") {
    val a = Sampling.hashSample(docs, "doc_id", 10).select("doc_id")
      .as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(13), "doc_id", 10).select("doc_id")
      .as[Long].collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("sample rate lands near the requested percent") {
    val n = docs.count().toDouble
    val s = Sampling.hashSample(docs, "doc_id", 20).count().toDouble
    assert(math.abs(s / n - 0.20) < 0.10, s"rate ${s / n}") // small-n tolerance
  }

  test("growing percent only ADDS rows (stable split boundary)") {
    val p5 = Sampling.hashSample(docs, "doc_id", 5).select("doc_id").as[Long].collect().toSet
    val p20 = Sampling.hashSample(docs, "doc_id", 20).select("doc_id").as[Long].collect().toSet
    assert(p5.subsetOf(p20))
  }

  test("Column-rate overload raises on a per-row rate outside [0, 100]") {
    // the Int overloads require() at call time; the Column overload can only
    // check per row — a silently-empty or silently-full stratum is the bug
    val bad = Sampling.hashSamplePortable(docs, "doc_id",
      when(col("lang") === "en", -5).otherwise(50))
    val e = intercept[Exception](bad.count())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("percent must be in [0, 100]")), e)
    // valid per-row rates still work (0 and 100 are legal boundary values)
    val ok = Sampling.hashSamplePortable(docs, "doc_id",
      when(col("lang") === "en", 0).otherwise(100))
    assert(ok.filter(col("lang") === "en").count() == 0)
    assert(ok.filter(col("lang") =!= "en").count() ==
      docs.filter(col("lang") =!= "en").count())
  }

  test("splitLabel partitions every row into exactly one split") {
    val labeled = docs.select(col("doc_id"),
      Sampling.splitLabel(col("doc_id"), 10).as("split"))
    assert(labeled.filter(!col("split").isin("train", "heldout")).count() == 0)
    assert(labeled.count() == docs.count())
    assert(labeled.filter(col("split") === "heldout").count() > 0)
  }

  test("weighted sample favors heavy rows, is repartition-invariant, zero weight loses") {
    import spark.implicits._
    // 10 rows with weight 10000 among 500 of weight 1: every heavy key is
    // u^(1/10000) ≈ 1, so all 10 must land in a top-50 sample
    val rows = (1L to 500L).map(i => (i, if (i <= 10) 10000 else 1)) :+ (501L, 0)
    val df = rows.toDF("id", "w")
    val a = Sampling.weightedSample(df, "id", "w", 50)
      .select("id").as[Long].collect().toSet
    assert((1L to 10L).toSet.subsetOf(a))
    assert(!a.contains(501L)) // zero weight → key 0, never ahead of positives
    val b = Sampling.weightedSample(df.repartition(13), "id", "w", 50)
      .select("id").as[Long].collect().toSet
    assert(a == b) // deterministic under repartitioning
  }

  test("sampleToMixture: under-represented domain capped at 100%, rates data-derived") {
    // A has 80 rows, B has 20; targets 50/50 of a 50%-of-corpus output
    // → target_n = 25 each → B's rate caps at 100% (keep all 20), A keeps
    // roughly 25/80 ≈ 31%
    val df = ((1L to 80L).map(i => (i, "A")) ++ (81L to 100L).map(i => (i, "B")))
      .toDF("id", "dom")
    val kept = Sampling.sampleToMixture(df, "dom", "id",
      Map("A" -> 50, "B" -> 50), outPct = 50)
      .select("id", "dom").as[(Long, String)].collect()
    val byDom = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byDom("B") == (81L to 100L).toSet) // capped: every B row kept
    val nA = byDom.getOrElse("A", Set.empty).size
    assert(nA > 10 && nA < 45, s"A kept $nA") // ≈25 expected, hash-gated
    // deterministic + repartition-invariant
    val again = Sampling.sampleToMixture(df.repartition(7), "dom", "id",
      Map("A" -> 50, "B" -> 50), outPct = 50)
      .select("id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)
    // a domain absent from the share map is dropped entirely
    val withC = df.union(Seq((200L, "C")).toDF("id", "dom"))
    val keptC = Sampling.sampleToMixture(withC, "dom", "id",
      Map("A" -> 50, "B" -> 50), outPct = 50)
      .filter(col("dom") === "C").count()
    assert(keptC == 0)
  }

  test("budgetTrim keeps best-score buckets whole until the budget is crossed") {
    // dom X: three buckets (score 30/20/10 → buckets 3/2/1), 5 tokens per
    // doc. Budget 8: bucket 3 (cumBefore 0) and bucket 2 (cumBefore 5)
    // kept, bucket 1 (cumBefore 10 ≥ 8) dropped — at most one
    // boundary-crossing bucket is kept whole
    val df = Seq(
      (1L, "X", 30L), (2L, "X", 20L), (3L, "X", 10L),
      (4L, "Y", 30L)
    ).toDF("id", "dom", "score")
    val kept = Sampling.budgetTrim(df, "dom", "score", bucketWidth = 10L,
      tokenCount = lit(5L), budgetTokens = 8L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
    // schema passes through untouched (internal columns dropped)
    assert(Sampling.budgetTrim(df, "dom", "score", 10L, lit(5L), 8L)
      .columns.toSeq == Seq("id", "dom", "score"))
  }

  test("sampleToTemperature flattens the head domain, keeps tails whole") {
    // A: 900 rows, B: 100. α=1/2 shares: 30000/40000 vs 10000/40000 →
    // A's rate = (600k·0.75)/900 = 50%, B's = (600·0.25)/100 capped at
    // 100% — the tail domain survives whole, the head is flattened
    val df = ((0L until 900L).map(i => (i, "A")) ++
      (1000L until 1100L).map(i => (i, "B"))).toDF("id", "dom")
    val kept = Sampling.sampleToTemperature(df, "dom", "id", outPct = 60)
      .groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(kept("B") == 100L)
    // head keep-rate strictly below its plain-mixture 60% and nontrivial
    assert(kept("A") > 300L && kept("A") < 540L)
    // deterministic under repartitioning (hash-gated, not sampled)
    val again = Sampling.sampleToTemperature(df.repartition(7), "dom", "id",
      outPct = 60).groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(again == kept)
    // schema passes through untouched
    assert(Sampling.sampleToTemperature(df, "dom", "id").columns.toSeq ==
      Seq("id", "dom"))
  }

  test("sampleToTemperature: dominant-domain corpus does not overflow int64") {
    // 7M rows in one domain: the naive rate product 10^6·budget·s_d
    // ≈ 1.1e19 exceeds int64 (ANSI ARITHMETIC_OVERFLOW); the
    // share-in-ppm-first reduction keeps every factor pair ≤ n·10^6.
    // Single domain → share_ppm = 10^6 → rate = budget/n = 60% exactly
    import org.apache.spark.sql.functions._
    val df = spark.range(7000000L)
      .select(col("id"), lit("head").as("dom"))
    val n = Sampling.sampleToTemperature(df, "dom", "id", outPct = 60).count()
    // hash gate at exactly 600000 ppm: binomial around 0.6·7M, ±0.5%
    assert(math.abs(n - 4200000L) < 35000L, s"kept $n")
  }

  test("dsirWeights: target-distinctive n-grams score high, weights are exact integer sums") {
    // target docs speak "alpha beta", raw-only docs speak "gamma delta";
    // doc 20 mixes both, doc 21 is token-free (absent from output)
    val docs = (
      (0L until 5L).map(i => (i, "alpha beta alpha", true)) ++
      (5L until 10L).map(i => (i, "gamma delta gamma", false)) :+
      (20L, "alpha beta gamma delta", false) :+ (21L, "   ", false))
      .toDF("doc_id", "text", "tgt")
    val w = Sampling.dsirWeights(docs, col("tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!w.contains(21L))
    // n_feats = tokens + bigrams (3 + 2 per pure doc, 4 + 3 for doc 20)
    assert(w(0L)._1 == 5L && w(5L)._1 == 5L && w(20L)._1 == 7L)
    // target-speak outranks raw-only speak; the mixed doc lands between
    assert(w(0L)._3 > w(20L)._3 && w(20L)._3 > w(5L)._3)
    // weight is an exact integer invariant: identical under repartition
    val again = Sampling.dsirWeights(docs.repartition(7), col("tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(again == w)
  }

  test("repeatEpochs: small source repeats up to the clamp, big source " +
    "caps at 1 epoch, shares are exact integer ppm") {
    // big = 100 tokens across 2 docs, small = 4 tokens in 1 doc
    // total = 104, budget = 4·104 = 416, share = 416 DIV 2 = 208
    // big: 208 DIV 100 = 2 epochs; small: 208 DIV 4 = 52 → clamp 8
    val df = Seq(
      ("big", ("t " * 50).trim), ("big", ("t " * 50).trim),
      ("small", "a b c d")
    ).toDF("source", "text")
    val rows = Sampling.repeatEpochs(df, budgetFactor = 4, maxEpochs = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    val big = rows("big")
    assert(big.getAs[Long]("n_docs") == 2L)
    assert(big.getAs[Long]("n_tokens") == 100L)
    assert(big.getAs[Long]("epochs") == 2L)
    assert(big.getAs[Long]("contributed_tokens") == 200L)
    // 250000·2·100 DIV 104 = 480769 ppm
    assert(big.getAs[Long]("budget_share_ppm") == 480769L)
    val small = rows("small")
    assert(small.getAs[Long]("epochs") == 8L) // clamp binds (52 → 8)
    assert(small.getAs[Long]("contributed_tokens") == 32L)
    // 250000·8·4 DIV 104 = 76923 ppm
    assert(small.getAs[Long]("budget_share_ppm") == 76923L)
    // realized shares can never exceed the budget
    val totPpm = rows.values.map(_.getAs[Long]("budget_share_ppm")).sum
    assert(totPpm <= 1000000L)
  }

  test("repeatEpochs rejects a budgetFactor that does not divide 10^6") {
    val df = Seq(("s", "a")).toDF("source", "text")
    intercept[IllegalArgumentException] {
      Sampling.repeatEpochs(df, budgetFactor = 3)
    }
  }

  test("leakageSafeSplit keeps every cluster whole and counts every doc") {
    // pairs chain 1-2-3 into one cluster and 10-11 into another; 20 is a
    // singleton — 6 docs, 3 clusters
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val census = Sampling.leakageSafeSplit(docs, pairs)
    assert(census.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) == 6L)
    assert(census.agg(org.apache.spark.sql.functions.sum("n_clusters"))
      .head().getLong(0) == 3L)
    // the leakage guarantee itself: re-derive each doc's split through the
    // SAME census math and check both endpoints of every pair agree
    val clusters = Dedup.clusterNearDups(pairs)
    val rep = clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def splitOf(id: Long): String = {
      val r = rep.getOrElse(id, id)
      val h = graft.functions.md5Hash31Local(r.toString) % 100
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b), s"pair ($a,$b) straddles splits")
    }
  }

  test("splitLeakage counts exactly the pairs whose NAIVE splits differ") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    def naive(id: Long): String = {
      val h = graft.functions.md5Hash31Local(id.toString) % 100
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    val expected = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .map { case (a, b) =>
        val (sa, sb) = (naive(a), naive(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Sampling.splitLeakage(pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("incrementalSplitAssign inherits the matched corpus cluster's split") {
    // corpus: 1,2 near-dups (rep 1), 3 distinct; batch: 10 matches the
    // 1-2 cluster (via 1), 11 matches nothing
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text about distributed query engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today ok"),
      (11L, "unrelated fresh content nothing matches this at all"))
      .toDF("doc_id", "text")
    val reps = Dedup.clusterNearDups(Dedup.minhashNearDupPairs(corpus,
      "doc_id", "text", shingleK = 2, numPerm = 64, bands = 16,
      threshold = 0.8))
    val out = Sampling.incrementalSplitAssign(corpus, batch, reps)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(10L)._1 == 1L) // inherited the cluster rep, not its own id
    assert(out(11L)._1 == 11L) // singleton hashes as itself
    // the inherited split is EXACTLY what the full re-split gives docs of
    // that cluster — no drift between incremental and batch assignment
    def splitOf(key: Long): String = {
      val h = graft.functions.md5Hash31Local(key.toString) % 100
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    assert(out(10L)._2 == splitOf(1L))
    assert(out(11L)._2 == splitOf(11L))
  }

  test("clusterKFold keeps clusters whole and partitions all docs") {
    val docs6 = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val census = Sampling.clusterKFold(docs6, pairs, folds = 3)
    assert(census.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) == 6L)
    assert(census.agg(org.apache.spark.sql.functions.sum("n_clusters"))
      .head().getLong(0) == 3L)
    val folds = census.select("fold").collect().map(_.getInt(0)).toSet
    assert(folds.subsetOf(Set(0, 1, 2)))
  }

  test("epochShuffle: reproducible, epoch-distinct, contiguous per shard") {
    val a1 = Sampling.epochShuffle(docs, "doc_id", epoch = 1, shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val a2 = Sampling.epochShuffle(docs.repartition(7), "doc_id",
        epoch = 1, shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(a1 == a2) // repartition-invariant
    val b = Sampling.epochShuffle(docs, "doc_id", epoch = 2, shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(a1 != b) // a different epoch is a different order
    assert(a1.keySet == b.keySet) // ...over the same rows
    // positions are 1..n within every shard (contiguous, no gaps)
    a1.values.groupBy(_._1).foreach { case (_, g) =>
      val ps = g.map(_._2).toSeq.sorted
      assert(ps == (1L to ps.size))
    }
  }

  test("curriculumInterleave: every round-1 doc precedes every round-2 doc") {
    val df = Seq(
      ("a", 1L, 100L), ("a", 2L, 90L), ("a", 3L, 80L),
      ("b", 4L, 5L), ("b", 5L, 3L),
      ("c", 6L, 1L)).toDF("source", "doc_id", "n_chars")
    val out = Sampling.curriculumInterleave(df, "source", "n_chars",
        "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // round 1 = each source's best by n_chars: 1 (a), 4 (b), 6 (c)
    assert(Seq(1L, 4L, 6L).forall(out(_)._1 == 1L))
    // slots within round 1 follow source order a, b, c
    assert(out(1L) == ((1L, 1L)) && out(4L) == ((1L, 2L)) &&
      out(6L) == ((1L, 3L)))
    // source c is exhausted after round 1; round 2 slots re-pack to a, b
    assert(out(2L) == ((2L, 1L)) && out(5L) == ((2L, 2L)))
    assert(out(3L) == ((3L, 1L)))
  }

  test("embargoSplit holds the gap out of both train and test") {
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00")
    // days 1..10, one event/user per day; split at day 8, embargo 2
    val ev = (1 to 10).map(d => (ts(d), d.toLong)).toDF("ts", "user_id")
    val split = ev.agg(
      ((max(unix_timestamp(date_trunc("day", col("ts")))) / 86400L)
        .cast("long") - lit(2L)).as("__split")) // max day - 2 = day 8
    val rows = Sampling.embargoSplit(ev, "ts", "user_id", split,
        embargoDays = 2).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4) - r.getLong(3))).toMap
    // train days 1-5, embargo 6-7, test 8-10
    assert(rows("train") == ((5L, 5L, 4L)))
    assert(rows("embargo") == ((2L, 2L, 1L)))
    assert(rows("test") == ((3L, 3L, 2L)))
    // zero embargo → the band vanishes, nothing is dropped
    val noGap = Sampling.embargoSplit(ev, "ts", "user_id", split,
        embargoDays = 0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!noGap.contains("embargo"))
    assert(noGap("train") == 7L && noGap("test") == 3L)
  }

  test("embargoSplitByGroup partitions the global embargo census exactly") {
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00")
    // two groups with different day coverage: g1 spans 1..10, g2 only
    // 1..6 (g2 contributes no test rows — visible per group, invisible
    // in the global census)
    val ev = ((1 to 10).map(d => (ts(d), d.toLong, "g1")) ++
      (1 to 6).map(d => (ts(d), 100L + d, "g2")))
      .toDF("ts", "user_id", "grp")
    val split = ev.agg(
      ((max(unix_timestamp(date_trunc("day", col("ts")))) / 86400L)
        .cast("long") - lit(2L)).as("__split"))
    val byGroup = Sampling.embargoSplitByGroup(ev, "ts", "user_id", "grp",
        split, embargoDays = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // same gate as the global census: per-segment sums must agree
    val global = Sampling.embargoSplit(ev, "ts", "user_id", split,
        embargoDays = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val summed = byGroup.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    assert(summed == global)
    // g2 went quiet before the boundary: it has NO test row, while g1
    // does — exactly the per-source visibility the operator exists for
    assert(!byGroup.contains(("g2", "test")))
    assert(byGroup(("g1", "test")) == 3L)
    assert(byGroup(("g2", "train")) == 5L && byGroup(("g2", "embargo")) == 1L)
  }

  test("split functions reject degenerate percent layouts") {
    val docs = Seq(1L).toDF("doc_id")
    val pairs = Seq((1L, 1L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(docs, pairs, trainPct = 90, valPct = 10)
    }
    intercept[IllegalArgumentException] {
      Sampling.splitLeakage(pairs, trainPct = 0, valPct = 10)
    }
  }

  test("greedySourceCoverage: marginal-max order, lexicographic ties, " +
    "zero-marginal sources never picked") {
    // shingleK=1 -> shingles are distinct tokens. A covers 4, C adds 2,
    // B would add 0 after A (subset) -> the greedy stops at 2 rounds
    val docs = Seq(
      ("A", "x1 x2 x3 x4"), ("B", "x3 x4"), ("C", "x5 x6")
    ).toDF("source", "text")
    val got = Sampling.greedySourceCoverage(docs, shingleK = 1, rounds = 5)
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(got == Seq((1, "A", 4L, 4L), (2, "C", 2L, 6L)))
    // equal marginals: the lexicographically smaller source wins
    val tied = Seq(("b", "t1 t2"), ("a", "t3 t4")).toDF("source", "text")
    val t = Sampling.greedySourceCoverage(tied, shingleK = 1, rounds = 2)
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(t == Seq((1, "a", 2L, 2L), (2, "b", 2L, 4L)))
    // degenerate inputs: no docs, and every text shorter than shingleK —
    // the source universe is empty, so empty in gives empty out
    val empty = docs.limit(0)
    assert(Sampling.greedySourceCoverage(empty, shingleK = 1).count() == 0L)
    val short = Seq(("A", "x1 x2"), ("B", "y1")).toDF("source", "text")
    assert(Sampling.greedySourceCoverage(short, shingleK = 3).count() == 0L)
  }

  test("groupSample: exact n per group (whole group when smaller), " +
    "deterministic across runs, disjoint-group independence") {
    val d = docs.select(col("source"), col("doc_id"))
    val got = Sampling.groupSample(d, "source", "doc_id", n = 7)
    val perGroup = got.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val sizes = d.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(perGroup.keySet == sizes.keySet)
    perGroup.foreach { case (s, n) =>
      assert(n == math.min(7L, sizes(s)), s"source=$s")
    }
    // reproducible: the same pick set on a re-run
    val again = Sampling.groupSample(d, "source", "doc_id", n = 7)
      .as[(String, Long)].collect().toSet
    assert(got.as[(String, Long)].collect().toSet == again)
  }

  test("systematicWeightedSample: hand-computed integer pick set; heavy " +
    "rows emit once; selection count tracks k") {
    // weights 5,1,1,1,1,1 → ΣW=10, k=2 → step=5; multiples {0, 5}:
    // doc 1 [0,5) holds 0, doc 2 [5,6) holds 5, nothing else selected
    val w = Seq((1L, 5L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("doc_id", "w")
    val got = Sampling.systematicWeightedSample(w, "w", k = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 5L, 0L), (2L, 1L, 5L)))
    // one row heavier than several steps still emits ONCE
    val heavy = Seq((1L, 100L), (2L, 1L)).toDF("doc_id", "w")
    val h = Sampling.systematicWeightedSample(heavy, "w", k = 5)
      .as[(Long, Long, Long)].collect()
    assert(h.count(_._1 == 1L) == 1)
    // ~k selected on real data (step floor can pick a few extra)
    val n = Sampling.systematicWeightedSample(
      docs.select(col("doc_id"), col("n_chars")), "n_chars", k = 50).count()
    assert(n >= 45 && n <= 60, s"expected ~50, got $n")
  }
}
