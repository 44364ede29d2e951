package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)), // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)), // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f)), // opposite
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine column functions compute exact values") {
    val row = vecs.filter($"vec_id" === 2L)
      .select(
        dotProduct(col("embedding"), array(lit(0.0), lit(2.0), lit(0.0))).as("dot"),
        l2Norm(col("embedding")).as("n"))
      .collect().head
    assert(row.getAs[Double]("dot") == 2.0)
    assert(row.getAs[Double]("n") == 1.0)
  }

  test("brute-force top-k ranks by cosine, deterministic tiebreak") {
    val top = Similarity.cosineTopK(vecs, queryId = 0L, k = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 4L, 2L)) // 0.994 > 0.707 > 0.0
  }

  test("nearest neighbor per probe") {
    val nn = Similarity.nearestNeighbor(vecs, col("vec_id") < 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(nn(0L) == 1L)
    assert(nn(1L) == 0L)
  }

  test("blocked 1-NN matches the broadcast path bit-for-bit on real embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val broadcastPath = Similarity.nearestNeighbor(emb, col("vec_id") < 20)
      .collect().map(_.toString).toSet
    val blockedPath = Similarity.nearestNeighborBlocked(emb, col("vec_id") < 20)
      .collect().map(_.toString).toSet
    assert(blockedPath == broadcastPath)
    assert(blockedPath.nonEmpty)
    // block-count invariance (like the all-pairs join gate)
    val other = Similarity.nearestNeighborBlocked(emb, col("vec_id") < 20,
      probeBlocks = 3, corpusBlocks = 5).collect().map(_.toString).toSet
    assert(other == broadcastPath)
  }

  test("blocked 1-NN never broadcasts the probe relation — only the block grid") {
    val emb = Tables.embeddings(spark, sf0001)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // disable size-based broadcasts so the gate sees the declared shape
      // (at test scale AQE would legally broadcast the tiny probe side),
      // and AQE so BroadcastExchangeExec nodes are directly collectable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Similarity.nearestNeighborBlocked(emb, col("vec_id") < 20)
      df.collect()
      val plan = df.queryExecution.executedPlan
      // every BroadcastExchange must sit over the LocalTableScan grid, and
      // the probe↔corpus scoring join must be a shuffled equi-join
      val bcasts = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(bcasts.nonEmpty)
      bcasts.foreach { b =>
        val leaves = b.collectLeaves().map(_.getClass.getSimpleName).toSet
        assert(leaves.forall(_.contains("LocalTableScan")),
          s"broadcast over non-grid input: $leaves")
      }
      val s = plan.toString
      assert(!s.contains("BroadcastNestedLoopJoin"), s)
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("srp bucket: same direction → same bucket, opposite → different") {
    val b = vecs.select(col("vec_id"),
      Similarity.srpBucket(col("embedding"), dim = 3, numPlanes = 16).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L)) // nearly identical direction
    assert(b(0L) != b(3L)) // antipodal: every SRP bit flips
  }

  test("bucketed top-k finds the near neighbor inside the query bucket") {
    val top = Similarity.cosineTopKBucketed(vecs, queryId = 0L, k = 3,
      dim = 3, numPlanes = 4).select("vec_id").as[Long].collect().toSeq
    assert(top.contains(1L))
    assert(!top.contains(3L))
  }

  test("all-pairs block join matches the brute-force pair set exactly") {
    val n = 40
    val synth = (0L until n).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31.0 + d * 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    val blocked = Similarity.allPairsSimilarityJoin(synth, threshold = 0.2, blocks = 4)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the same dotProduct expression → identical doubles
    val v = synth.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nn", l2Norm(col("e")))
    val brute = v.toDF("id_a", "ea", "na")
      .crossJoin(v.toDF("id_b", "eb", "nb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotProduct(col("ea"), col("eb")) / (col("na") * col("nb"))).as("s"))
      .filter(col("s") >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked == brute)
    assert(brute.nonEmpty) // the gate means something
  }

  test("all-pairs block join is invariant to the block count") {
    val synth = (0L until 35L).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * 17.0 + d * 3.0).toFloat)))
      .toDF("vec_id", "embedding")
    def run(blocks: Int) =
      Similarity.allPairsSimilarityJoin(synth, threshold = 0.3, blocks = blocks)
        .as[(Long, Long, Double)].collect().toSet
    assert(run(1) == run(4))
    assert(run(4) == run(9))
    assert(run(4).nonEmpty)
  }

  test("srp banded near-dup prunes: planted pair found, orthogonal absent") {
    val base = Array.tabulate(8)(d => math.cos(d * 1.3).toFloat)
    val nearDup = base.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }
    val rows = Seq((0L, base), (1L, nearDup)) ++
      (2L until 20L).map(i => (i, Array.tabulate(8)(d => math.sin(i * 97.0 + d * 13.0).toFloat)))
    val pairs = Similarity.srpBandedNearDupPairs(rows.toDF("vec_id", "embedding"),
      dim = 8, threshold = 0.9, planesPerBand = 4, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    // every reported pair really is ≥ τ (verification step, not just banding)
    val sims = Similarity.srpBandedNearDupPairs(rows.toDF("vec_id", "embedding"),
      dim = 8, threshold = 0.9, planesPerBand = 4, bands = 8)
      .select("cosine_sim").as[Double].collect()
    assert(sims.forall(_ >= 0.9))
  }

  test("IVF cell assignment picks the nearest centroid") {
    val centroids = Seq(
      (0, Array(1.0f, 0.0f, 0.0f)),
      (1, Array(0.0f, 1.0f, 0.0f))
    ).toDF("cell_id", "centroid")
    val cells = Similarity.assignCells(vecs, centroids)
      .select("vec_id", "cell_id").as[(Long, Int)].collect().toMap
    assert(cells(0L) == 0 && cells(1L) == 0)
    assert(cells(2L) == 1)
  }

  test("IVF-SQ8 recall: quantized probe recovers the exact top-k neighbors") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val centroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val k = 10
    val exact = Similarity.cosineTopK(emb, queryId = 1L, k = k)
      .select("vec_id").as[Long].collect().toSet
    // same routing as q37's IVF; only the candidate scoring is quantized —
    // so any recall lost vs plain IVF is the int8 rounding alone
    val ivf = Similarity.ivfTopK(emb, centroids, queryId = 1L, k = k, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    val sq8 = Similarity.ivfTopKSq8(emb, centroids, queryId = 1L, k = k, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(sq8.size == k)
    // int8 rounding must not change what the probe recovers: near-total
    // agreement with plain IVF. Recall vs EXACT search is bounded by IVF's
    // own cell routing (~0.4 on these uniform random embeddings at
    // nProbe=2) — sq8 may not degrade it beyond one swap.
    val recallVsIvf = (sq8 intersect ivf).size.toDouble / k
    assert(recallVsIvf >= 0.9, s"sq8 lost ${ivf -- sq8} vs plain IVF")
    val ivfVsExact = (ivf intersect exact).size.toDouble / k
    val sq8VsExact = (sq8 intersect exact).size.toDouble / k
    assert(sq8VsExact >= ivfVsExact - 0.101,
      s"sq8 recall $sq8VsExact dropped below IVF's $ivfVsExact")
  }

  test("semanticDedupFlags: keep-first within cell, cross-cell twins unflagged") {
    // centroids along +x and +y; ids 1,2 are near-identical +x vectors
    // (same cell → 2 flagged, 1 kept), id 3 is +y (own cell, unflagged),
    // id 4 is +x-ish but NUDGED into the +y cell? no — keep it clean:
    // id 4 duplicates id 3's direction in the OTHER cell: flagged there
    val emb = Seq(
      (1L, Seq(1.0, 0.01)), (2L, Seq(1.0, 0.02)),   // cell x: dup pair
      (3L, Seq(0.01, 1.0)), (4L, Seq(0.02, 1.0))    // cell y: dup pair
    ).toDF("vec_id", "embedding")
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val got = Similarity.semanticDedupFlags(emb, centroids, tau = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L)._2 == 0 && got(2L)._2 == 1) // lowest id is the keeper
    assert(got(3L)._2 == 0 && got(4L)._2 == 1)
    assert(got(1L)._1 == 0 && got(3L)._1 == 1)  // assigned to nearest centroid
    // cluster confinement: drop centroid y → everyone lands in cell x;
    // 3 and 4 (cosine ≈ 0 to the x pair) stay unflagged vs 1/2 but flag
    // against each other
    val oneCell = Similarity.semanticDedupFlags(emb,
      centroids.filter(col("cell_id") === 0), tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(oneCell == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1))
  }

  test("ensureIvfIndex builds once per session, probe works off the ensured index") {
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val path = java.nio.file.Files.createTempDirectory("graft_ens_ivf")
      .toString + "/ivf"
    assert(Similarity.ensureIvfIndex(emb, centroids, path))  // builds
    assert(!Similarity.ensureIvfIndex(emb, centroids, path)) // session skip
    val probed = Similarity.ivfTopKIndexed(spark, path, centroids,
      queryId = 1L, k = 5, nProbe = 2)
    assert(probed.count() == 5)
  }

  test("int8 quantization: max element saturates, zero vector → scale 0, mse bounded") {
    val emb = Seq(
      (1L, Seq(12.7, -6.35, 0.05)), // scale 0.1 → q = (127, -64, 1)
      (2L, Seq(0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(math.abs(r1.getDouble(1) - 0.1) < 1e-12) // scale = 12.7/127
    assert(r1.getLong(2) == 127L - 64L + 1L) // q_sum: round(-63.5) = -64 (half away from zero)
    assert(r1.getLong(3) == 127L * 127 + 64L * 64 + 1L)
    assert(r1.getInt(4) == 1) // only the max element saturates
    // recon error per element ≤ (scale/2)² → mse ≤ scale²/4
    assert(r1.getDouble(5) <= 0.1 * 0.1 / 4 + 1e-12)
    val r2 = got(2L)
    assert(r2.getDouble(1) == 0.0 && r2.getLong(2) == 0L &&
      r2.getLong(3) == 0L && r2.getInt(4) == 0 && r2.getDouble(5) == 0.0)
  }

  test("PQ encode: hand-computed codes and ADC on a 4-dim m=2 toy codebook") {
    // codebook per subspace (2 dims each): cid 0 = [0,0|0,0], cid 1 = [1,1|2,2]
    val centroids = Seq(
      (0, Seq(0.0, 0.0, 0.0, 0.0)),
      (1, Seq(1.0, 1.0, 2.0, 2.0))).toDF("cid", "centroid")
    val emb = Seq(
      (1L, Seq(0.1, 0.1, 1.9, 1.9)),  // sub0 → cid 0 (0.02 < 1.62); sub1 → cid 1 (0.02 < 7.22)
      (2L, Seq(1.0, 1.0, 0.0, 0.0)),  // sub0 → cid 1 (exact); sub1 → cid 0 (exact)
      (3L, Seq(0.5, 0.5, 1.0, 1.0))   // equidistant in BOTH subspaces → cid 0 via tiebreak
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqEncodeAdc(emb, centroids, probeId = 1L, m = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got(1L)._1 == 0 && got(1L)._2 == 1)
    assert(got(2L)._1 == 1 && got(2L)._2 == 0)
    assert(got(3L)._1 == 0 && got(3L)._2 == 0) // [d, cid] min tiebreak
    // ADC(probe=vec1, codes of vec2) = dist(probe_sub0, c1) + dist(probe_sub1, c0)
    //   = (0.9²+0.9²) + (1.9²+1.9²) = 1.62 + 7.22 = 8.84
    assert(math.abs(got(2L)._3 - 8.84) < 1e-9)
    // ADC of the probe against its own codes = its reconstruction error
    assert(math.abs(got(1L)._3 - (0.02 + 0.02)) < 1e-9)
  }

  test("residual IVF-PQ: hand-computed residual codes and per-cell ADC") {
    // one cell at c=[1,0,0,0]; query q=[1,0,2,0] → r_q=[0,0,2,0];
    // residual codebook cid0=[0,0,0,0], cid1=[0,1,1,1] (m=2, sub=2)
    //   vec2=[1,0,1,1] → r=[0,0,1,1] → codes (0,1) → ADC = 0 + ((2-1)²+(0-1)²) = 2
    //   vec3=c         → r=[0,0,0,0] → codes (0,0) → ADC = 0 + (2²+0²)        = 4
    val cellCentroids = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("cell_id", "centroid")
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 2.0, 0.0)),
      (2L, Seq(1.0, 0.0, 1.0, 1.0)),
      (3L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val codebook = Seq(
      (0, Seq(0.0, 0.0, 0.0, 0.0)),
      (1, Seq(0.0, 1.0, 1.0, 1.0))).toDF("cid", "centroid")
    val got = Similarity.ivfPqResidualTopK(emb, cellCentroids, codebook,
      queryId = 1L, k = 10, nProbe = 1, m = 2)
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 2.0), (3L, 4.0)))
    // and the residual of the vector equal to its centroid is exactly zero
    val r3 = Similarity.cellResiduals(emb, cellCentroids)
      .filter(col("vec_id") === 3L).select("residual")
      .head().getSeq[Double](0)
    assert(r3 == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("PQ codebook validation: gapped or duplicate cids fail loudly") {
    // positional centroid lookup silently mis-scores (or null-ranks-first)
    // on a non-0..k-1 codebook — the guard must throw instead
    val emb = Seq((1L, Seq(0.1, 0.1, 1.9, 1.9))).toDF("vec_id", "embedding")
    for (badCids <- Seq(Seq(0, 2), Seq(1, 2), Seq(0, 0))) {
      val cb = badCids.map(c => (c, Seq(0.0, 0.0, 0.0, 0.0)))
        .toDF("cid", "centroid")
      val ex = intercept[Exception] {
        Similarity.pqEncodeAdc(emb, cb, probeId = 1L, m = 2).collect()
      }
      assert(ex.getMessage.contains("contiguous") ||
        Option(ex.getCause).exists(_.getMessage.contains("contiguous")),
        s"cids=$badCids threw the wrong error: ${ex.getMessage}")
    }
    // centroids shorter than the vector: zip_with would pad with null and
    // every ADC distance and code would come back NULL without an error
    val short = Seq((0, Seq(0.0, 0.0)), (1, Seq(1.0, 1.0)))
      .toDF("cid", "centroid")
    val ex = intercept[Exception] {
      Similarity.pqEncodeAdc(emb, short, probeId = 1L, m = 2).collect()
    }
    assert(ex.getMessage.contains("codebook centroids") ||
      Option(ex.getCause).exists(_.getMessage.contains("codebook centroids")),
      s"short codebook threw the wrong error: ${ex.getMessage}")
  }

  // ------------------------------------------------ persisted IVF-PQ index

  /** q124/q126's deterministic demo centroids + codebook derivations. */
  private def ivfPqFixtures() = {
    val emb = Tables.embeddings(spark, sf0001)
    val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val rawCodebook = emb
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    (emb, cellCentroids, rawCodebook)
  }

  test("persisted IVF-PQ index: indexed search equals inline search, builds once") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val resid = Similarity.cellResiduals(emb, cellCentroids).localCheckpoint()
    val resCodebook = resid
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("residual").as("centroid"))
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    // raw-coded tier ≡ ivfPqTopK
    assert(Similarity.ensureIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/raw", m = 4))
    assert(!Similarity.ensureIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/raw", m = 4)) // session skip
    val rawIndexed = Similarity.ivfPqTopKIndexed(spark, s"$base/raw", emb,
      queryId = 1L, k = 10, nProbe = 2).as[(Long, Double)].collect().toSeq
    val rawInline = Similarity.ivfPqTopK(emb, cellCentroids, rawCodebook,
      queryId = 1L, k = 10, nProbe = 2, m = 4)
      .as[(Long, Double)].collect().toSeq
    assert(rawIndexed == rawInline)
    assert(rawIndexed.size == 10)
    // residual-coded tier ≡ ivfPqResidualTopK (meta carries residual=true,
    // so the same search entry point scores against per-cell query residuals)
    assert(Similarity.ensureIvfPqIndex(emb, cellCentroids, resCodebook,
      s"$base/res", m = 4, residual = true))
    val resIndexed = Similarity.ivfPqTopKIndexed(spark, s"$base/res", emb,
      queryId = 1L, k = 10, nProbe = 2).as[(Long, Double)].collect().toSeq
    val resInline = Similarity.ivfPqResidualTopK(emb, cellCentroids,
      resCodebook, queryId = 1L, k = 10, nProbe = 2, m = 4,
      residuals = Some(resid)).as[(Long, Double)].collect().toSeq
    assert(resIndexed == resInline)
    assert(resIndexed.size == 10)
    // the two encodings rank differently (the residual refinement is not a
    // no-op on real data)
    assert(rawIndexed != resIndexed)
  }

  test("appendToIvfPqIndex: build+append equals full build, upsert is idempotent") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_incr").toString
    def codesOf(path: String): Map[Long, (Int, Seq[Int])] =
      spark.read.parquet(s"$path/codes")
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("cell_id"), r.getAs[Seq[Int]]("codes"))).toMap
    // full build = the reference state
    Similarity.buildIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/full", m = 4)
    val full = codesOf(s"$base/full")
    // subset build + incremental append must reproduce it exactly
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 300),
      cellCentroids, rawCodebook, s"$base/incr", m = 4)
    Similarity.appendToIvfPqIndex(spark, s"$base/incr",
      emb.filter(col("vec_id") >= 300))
    assert(codesOf(s"$base/incr") == full)
    // re-appending the same batch is an upsert no-op
    Similarity.appendToIvfPqIndex(spark, s"$base/incr",
      emb.filter(col("vec_id") >= 300))
    assert(codesOf(s"$base/incr") == full)
    // upserting a MODIFIED vector replaces its codes (and possibly its
    // cell) rather than duplicating the id
    val moved = emb.filter(col("vec_id") === 7L)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => -x)
          .as("embedding"))
    Similarity.appendToIvfPqIndex(spark, s"$base/incr", moved)
    val after = codesOf(s"$base/incr")
    assert(after.size == full.size)
    assert(after(7L) != full(7L), "modified vector kept its old codes")
    assert((after - 7L) == (full - 7L), "untouched ids changed")
  }

  test("indexCellStats: drifting appends surface as cell-size skew") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_skew").toString
    Similarity.buildIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/idx", m = 4)
    val before = Similarity.indexCellStats(spark, s"$base/idx/codes")
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    // uniform corpus, sampled centroids: no cell dwarfs the median
    assert(before.values.max < 3.0, s"unexpected initial skew: $before")
    // a drifted ingest: 300 new vectors identical to cell 0's centroid all
    // land in one cell — the staleness signature appends can't fix
    val c0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val drifted = spark.range(10000, 10300).toDF("vec_id")
      .withColumn("embedding", array(c0.map(lit): _*))
    Similarity.appendToIvfPqIndex(spark, s"$base/idx", drifted)
    val after = Similarity.indexCellStats(spark, s"$base/idx/codes")
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(after(0) > 3.0, s"drift not flagged: $after")
    assert(after(0) > before(0) * 2)
  }

  test("compactIvfPqIndex: one file per cell after fragmenting appends, codes unchanged") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_compact").toString
    def codesOf(path: String): Map[Long, (Int, Seq[Int])] =
      spark.read.parquet(s"$path/codes")
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("cell_id"), r.getAs[Seq[Int]]("codes"))).toMap
    def filesPerCell(path: String): Map[String, Int] =
      new java.io.File(s"$path/codes").listFiles()
        .filter(_.getName.startsWith("cell_id="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet") && f.length > 0))
        .toMap
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 200),
      cellCentroids, rawCodebook, s"$base/idx", m = 4)
    Similarity.appendToIvfPqIndex(spark, s"$base/idx",
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 350))
    Similarity.appendToIvfPqIndex(spark, s"$base/idx",
      emb.filter(col("vec_id") >= 350))
    val before = codesOf(s"$base/idx")
    assert(filesPerCell(s"$base/idx").values.exists(_ > 1),
      "appends did not fragment — the fixture no longer exercises compaction")
    Similarity.compactIvfPqIndex(spark, s"$base/idx")
    assert(filesPerCell(s"$base/idx").values.forall(_ == 1),
      s"cells still fragmented: ${filesPerCell(s"$base/idx")}")
    assert(codesOf(s"$base/idx") == before)
    // and the index still searches identically to a full one-shot build
    Similarity.buildIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/full", m = 4)
    val a = Similarity.ivfPqTopKIndexed(spark, s"$base/idx", emb, 1L, 10, 2)
      .as[(Long, Double)].collect().toSeq
    val b = Similarity.ivfPqTopKIndexed(spark, s"$base/full", emb, 1L, 10, 2)
      .as[(Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("batch ANN: one-pass batch tiers match the single-query tiers per probe") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    // flat IVF: ivfTopKBatch ≡ ivfTopK for every probe
    val batch = Similarity.ivfTopKBatch(emb, cellCentroids,
      col("vec_id") < 5, k = 5, nProbe = 2)
      .select("probe_id", "vec_id", "sim")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (-t._3, t._2)).map(t => (t._2, t._3)).toSeq)
      .toMap
    assert(batch.keySet == (0L until 5L).toSet)
    for (qid <- 0L until 5L) {
      val single = Similarity.ivfTopK(emb, cellCentroids, qid, k = 5,
        nProbe = 2).as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single, s"probe $qid diverged")
    }
    // PQ-over-index: ivfPqTopKBatch ≡ ivfPqTopKIndexed for every probe
    val resCodebook = Similarity.cellResiduals(emb, cellCentroids)
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("residual").as("centroid"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_batch")
      .toString + "/res"
    Similarity.buildIvfPqIndex(emb, cellCentroids, resCodebook, path,
      m = 4, residual = true)
    val pqBatch = Similarity.ivfPqTopKBatch(spark, path, emb,
      col("vec_id") < 5, k = 5, nProbe = 2)
      .select("probe_id", "vec_id", "adc_dist")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2)).map(t => (t._2, t._3)).toSeq)
      .toMap
    for (qid <- 0L until 5L) {
      val single = Similarity.ivfPqTopKIndexed(spark, path, emb, qid,
        k = 5, nProbe = 2).as[(Long, Double)].collect().toSeq
      assert(pqBatch(qid) == single, s"PQ probe $qid diverged")
    }
  }

  test("residual PQ recall: residual codes recover exact neighbors at least as well as raw codes") {
    // the residual encoding's reason to exist (Similarity.cellResiduals
    // doc): WHEN the coarse centroids approximate the data, residuals
    // cluster around zero, so the same-size codebook quantizes them with
    // less error → ADC ranking closer to exact. That premise is a property
    // of the DATA: on the uniform unit-sphere embeddings fixture with
    // arbitrary sampled centroids it measurably fails (mean ‖v‖² = 1.0 but
    // mean ‖v − nearest centroid‖² ≈ 1.67 — random unit vectors are
    // near-orthogonal, so subtracting a non-representative centroid GROWS
    // the vector), and residual recall ties/loses there. So the gate runs
    // where the encoding is for — clustered data with centroids at the
    // cluster centers — and pins BOTH the premise (residual norms shrink)
    // and the payoff (recall@k vs exact L2, same cells probed, same (m, k)
    // budget, so any difference is quantization alone). Deterministic
    // trig-generated fixture; summed over one query per cluster.
    val dim = 16
    val groups = 8
    val n = 200
    def center(g: Int): Seq[Double] =
      (0 until dim).map(d => math.sin(g * 31.0 + d * 7.0))
    def vec(i: Int): Seq[Double] = {
      val c = center(i % groups)
      (0 until dim).map(d => c(d) + 0.15 * math.sin(i * 17.3 + d * 2.9))
    }
    val emb = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val cellCentroids = (0 until groups).map(g => (g, center(g)))
      .toDF("cell_id", "centroid")
    // same derivation family as q124/q125: 16 sampled rows as codewords
    val rawCodebook = (0 until 16).map(i => (i, vec(i * 11)))
      .toDF("cid", "centroid")
    val resid = Similarity.cellResiduals(emb, cellCentroids).localCheckpoint()
    val resCodebook = resid.filter(col("vec_id") % 11 === 0 &&
        col("vec_id") / 11 < 16)
      .select((col("vec_id") / 11).cast("int").as("cid"),
        col("residual").as("centroid"))
    // the premise: with representative centroids the residuals SHRINK
    val meanV = emb.select(avg(aggregate(col("embedding"),
      lit(0.0), (a, x) => a + x * x))).head.getDouble(0)
    val meanR = resid.select(avg(aggregate(col("residual"),
      lit(0.0), (a, x) => a + x * x))).head.getDouble(0)
    assert(meanR < meanV / 10,
      s"residuals did not shrink: mean‖r‖²=$meanR vs mean‖v‖²=$meanV")
    val k = 10
    def exactL2TopK(qid: Long): Set[Long] = {
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("__p"))
      emb.filter(col("vec_id") =!= qid)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          aggregate(zip_with(col("embedding"), col("__p"),
            (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    }
    var rawHits = 0
    var resHits = 0
    for (qid <- 1L to groups.toLong) {
      val exact = exactL2TopK(qid)
      val raw = Similarity.ivfPqTopK(emb, cellCentroids, rawCodebook,
        queryId = qid, k = k, nProbe = 2, m = 4)
        .select("vec_id").as[Long].collect().toSet
      val res = Similarity.ivfPqResidualTopK(emb, cellCentroids, resCodebook,
        queryId = qid, k = k, nProbe = 2, m = 4, residuals = Some(resid))
        .select("vec_id").as[Long].collect().toSet
      rawHits += (raw intersect exact).size
      resHits += (res intersect exact).size
    }
    val total = groups * k
    assert(resHits >= rawHits,
      s"residual recall $resHits/$total fell below raw $rawHits/$total")
    // the refinement must be a real improvement here, not a tie of noise
    assert(resHits > rawHits,
      s"residual recall $resHits/$total did not beat raw $rawHits/$total " +
        "on clustered data — the refinement is ornamental")
    assert(resHits > total / 2, s"residual tier weak: $resHits/$total")
  }

  test("randomRotation is orthonormal and preserves exact distances") {
    val dim = 8
    val r = Similarity.randomRotation(dim, seed = 42L)
    // R · Rᵀ = I
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(t => r(i)(t) * r(j)(t)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"R·Rᵀ[$i][$j] = $d")
    }
    // pairwise distance invariance through the Column path
    val d2 = Seq((0L, Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (1L, Array(8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0)))
      .toDF("vec_id", "embedding")
    val rotated = d2.select(col("vec_id"),
      Similarity.rotate(col("embedding"), r).as("embedding"))
    def pairDist(df: org.apache.spark.sql.DataFrame): Double = {
      val rows = df.orderBy("vec_id").collect()
        .map(_.getSeq[Double](1))
      math.sqrt(rows(0).zip(rows(1)).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    assert(math.abs(pairDist(d2.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))) -
      pairDist(rotated)) < 1e-9)
  }

  test("rotated PQ: variance balances across subspaces and recall beats raw " +
    "on decaying-spectrum data") {
    // the OPQ setting (Ge et al. 2013): PCA-ordered anisotropic data —
    // variance halves every two dims, so contiguous subspace 0 dominates
    // and raw PQ wastes three of four codebooks; the seeded rotation
    // spreads the spectrum. Premise AND payoff pinned, like the residual
    // recall gate above.
    val dim = 16; val m = 4; val n = 600; val k = 10
    val rnd = new scala.util.Random(123)
    val sd = (0 until dim).map(i => math.sqrt(16.0 * math.pow(2.0, -i / 2.0)))
    val emb = (0 until n).map(i =>
      (i.toLong, Array.tabulate(dim)(j => rnd.nextGaussian() * sd(j))))
      .toDF("vec_id", "embedding")
      .localCheckpoint()
    val rot = Similarity.randomRotation(dim, seed = 42L)
    val rotated = emb.select(col("vec_id"),
      Similarity.rotate(col("embedding"), rot).as("embedding"))
      .localCheckpoint()
    def subVarRatio(df: org.apache.spark.sql.DataFrame): Double = {
      val sub = dim / m
      val vars = df.select((0 until dim).map(j =>
        variance(element_at(col("embedding").cast("array<double>"), j + 1))
          .as(s"v$j")): _*).collect()(0)
      val sv = (0 until m).map(g => (0 until sub).map(t =>
        vars.getDouble(g * sub + t)).sum)
      sv.max / sv.min
    }
    assert(subVarRatio(emb) > 5.0, "fixture lost its anisotropy")
    assert(subVarRatio(rotated) < 3.0, "rotation failed to balance variance")
    def codebook(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    def exactTopK(qid: Long): Set[Long] = {
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("__p"))
      emb.filter(col("vec_id") =!= qid).crossJoin(broadcast(q))
        .select(col("vec_id"),
          aggregate(zip_with(col("embedding"), col("__p"),
            (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
            .as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    }
    def pqTopK(df: org.apache.spark.sql.DataFrame, qid: Long): Set[Long] =
      Similarity.pqEncodeAdc(df, codebook(df), probeId = qid, m = m)
        .filter(col("vec_id") =!= qid)
        .orderBy(col("adc_dist"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
    var rawHits = 0; var rotHits = 0; val probes = 0L until 24L
    for (q <- probes) {
      val exact = exactTopK(q) // rotation-invariant ground truth
      rawHits += (pqTopK(emb, q) intersect exact).size
      rotHits += (pqTopK(rotated, q) intersect exact).size
    }
    val total = probes.size * k
    assert(rotHits > rawHits,
      s"rotated recall $rotHits/$total did not beat raw $rawHits/$total")
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(emb)
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(rotated)
  }

  test("ivfPqTopKRefined: exact re-rank of the shortlist; recall >= plain PQ") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_ref").toString
    Similarity.buildIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/raw", m = 4)
    val k = 10
    val refined = Similarity.ivfPqTopKRefined(spark, s"$base/raw", emb,
      queryId = 1L, k = k, rerank = 50, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(refined.size == k)
    // ground truth: exact cosine top-k over the SAME candidate scope (the
    // probed cells) — with rerank >= scope the re-rank IS exact there
    val pq = Similarity.ivfPqTopKIndexed(spark, s"$base/raw", emb,
      queryId = 1L, k = k, nProbe = 2).select("vec_id").as[Long].collect().toSet
    val exactAll = Similarity.cosineTopK(emb, queryId = 1L, k = k)
      .select("vec_id").as[Long].collect().toSet
    val refinedHits = (refined.toSet intersect exactAll).size
    val pqHits = (pq intersect exactAll).size
    assert(refinedHits >= pqHits,
      s"refined recall $refinedHits fell below plain PQ $pqHits")
    // the big-rerank limit: refined == exact restricted to probed cells
    val all = Similarity.ivfPqTopKRefined(spark, s"$base/raw", emb,
      queryId = 1L, k = k, rerank = 100000, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    val probedExact = {
      val cells = Similarity.ivfPqTopKRefined(spark, s"$base/raw", emb,
        queryId = 1L, k = 100000, rerank = 100000, nProbe = 2)
        .select("vec_id").as[Long].collect().toSet
      Similarity.cosineTopK(emb, queryId = 1L, k = 100000)
        .filter(col("vec_id").isin(cells.toSeq: _*))
        .limit(k).select("vec_id").as[Long].collect().toSeq
    }
    assert(all == probedExact)
  }

  test("ivfPqTopKBatchRefined per-probe equals the single-probe refined tier") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_bref").toString
    Similarity.buildIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/raw", m = 4)
    val batch = Similarity.ivfPqTopKBatchRefined(spark, s"$base/raw", emb,
      col("vec_id") < 4, k = 3, rerank = 15, nProbe = 2)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2))
        .map(r => (r._2, r._3)).toSeq).toMap
    for (q <- 0L until 4L) {
      val single = Similarity.ivfPqTopKRefined(spark, s"$base/raw", emb,
        queryId = q, k = 3, rerank = 15, nProbe = 2)
        .as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"probe $q: batch=${batch(q)} single=$single")
    }
  }

  test("deleteFromIvfPqIndex: removal equals filtered rebuild; idempotent; empties cells") {
    val (emb, cellCentroids, rawCodebook) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_del").toString
    def codesOf(path: String): Map[Long, (Int, Seq[Int])] =
      spark.read.parquet(s"$path/codes")
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("cell_id"), r.getAs[Seq[Int]]("codes"))).toMap
    Similarity.buildIvfPqIndex(emb, cellCentroids, rawCodebook,
      s"$base/idx", m = 4)
    val full = codesOf(s"$base/idx")
    // reference: a fresh build over the filtered corpus with the SAME
    // centroids/codebook (deletion must never re-encode survivors)
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
      cellCentroids, rawCodebook, s"$base/ref", m = 4)
    import spark.implicits._
    Similarity.deleteFromIvfPqIndex(spark, s"$base/idx",
      emb.filter(col("vec_id") % 5 === 0).select("vec_id"))
    assert(codesOf(s"$base/idx") == codesOf(s"$base/ref"))
    // deleting ids not in the index is a no-op
    Similarity.deleteFromIvfPqIndex(spark, s"$base/idx",
      Seq(999999L, -5L).toDF("vec_id"))
    assert(codesOf(s"$base/idx") == codesOf(s"$base/ref"))
    // emptying a whole cell removes its partition directory
    val someCell = full.values.head._1
    val cellIds = full.collect { case (id, (c, _)) if c == someCell => id }.toSeq
    Similarity.deleteFromIvfPqIndex(spark, s"$base/idx", cellIds.toDF("vec_id"))
    val dirs = new java.io.File(s"$base/idx/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.contains(s"cell_id=$someCell"), s"stale dir for $someCell")
    assert(!codesOf(s"$base/idx").values.exists(_._1 == someCell))
  }

  test("compactIvfIndex: flat index compacts to one file per cell, rows unchanged") {
    val (emb, cellCentroids, _) = ivfPqFixtures()
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    // fragment deliberately: two append writes leave >= 2 files per cell
    // (the external-ingest fragmentation this compaction exists for)
    val assigned = Similarity.assignCells(emb, cellCentroids,
      "embedding", "vec_id").localCheckpoint()
    assigned.filter(col("vec_id") < 250).write
      .partitionBy("cell_id").mode("overwrite").parquet(s"$base/flat")
    assigned.filter(col("vec_id") >= 250).write
      .partitionBy("cell_id").mode("append").parquet(s"$base/flat")
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(assigned)
    def cellFiles(): Map[String, Int] =
      new java.io.File(s"$base/flat").listFiles().filter(_.isDirectory)
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(cellFiles().values.exists(_ > 1), "fixture failed to fragment")
    val before = spark.read.parquet(s"$base/flat")
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    Similarity.compactIvfIndex(spark, s"$base/flat")
    assert(cellFiles().values.forall(_ == 1), cellFiles().toString)
    val after = spark.read.parquet(s"$base/flat")
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before)
  }

  test("mmrSelect with lambda=1 degenerates to plain cosine top-k") {
    val topk = Similarity.cosineTopK(vecs, queryId = 0L, k = 3)
      .select("vec_id").as[Long].collect().toSeq
    val mmr = Similarity.mmrSelect(vecs, queryId = 0L, k = 3, lambda = 1.0,
      poolSize = 4)
      .orderBy("pick").select("vec_id").as[Long].collect().toSeq
    assert(mmr == topk)
  }

  test("mmrSelect penalizes redundancy: near-dup of pick 1 loses to a diverse pick") {
    // 1 and 2 are near-identical and most query-similar; 3 is distinct.
    // Plain top-2 takes (1, 2); MMR at lambda=0.5 must take (1, 3).
    val d = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f, 0.0f)),
      (2L, Array(0.99f, 0.141f, 0.0f)), // near-dup of 1
      (3L, Array(0.7f, 0.0f, 0.7f))
    ).toDF("vec_id", "embedding")
    val plain = Similarity.cosineTopK(d, queryId = 0L, k = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(plain == Set(1L, 2L))
    val mmr = Similarity.mmrSelect(d, queryId = 0L, k = 2, lambda = 0.5,
      poolSize = 3)
      .orderBy("pick").select("vec_id").as[Long].collect().toSeq
    assert(mmr == Seq(1L, 3L), s"got $mmr")
  }

  test("mmrSelect output is (pick, id, score) in selection order, pool released") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Similarity.mmrSelect(vecs, queryId = 0L, k = 2, lambda = 0.7,
      poolSize = 4).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2))
    // scores are non-increasing only under lambda=1; here just finite
    assert(out.forall(r => !r.getDouble(2).isNaN))
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("opqTrain: MSE descends monotonically, beats the random-rotation " +
    "round-1 baseline, and the learned R stays orthonormal") {
    // same decaying-spectrum fixture as the rotated-PQ recall gate: the
    // setting where a LEARNED rotation has something to learn. Round 1 of
    // the alternation IS the random-rotation baseline (rot starts at
    // randomRotation, codebooks trained for it), so mses.head is the RR
    // training MSE and mses.last < mses.head pins OPQ's value claim
    // without a second training run.
    val dim = 16; val m = 4; val n = 600
    val rnd = new scala.util.Random(123)
    val sd = (0 until dim).map(i => math.sqrt(16.0 * math.pow(2.0, -i / 2.0)))
    val emb = (0 until n).map(i =>
      (i.toLong, Array.tabulate(dim)(j => rnd.nextGaussian() * sd(j))))
      .toDF("vec_id", "embedding")
      .localCheckpoint()
    val before = spark.sparkContext.getPersistentRDDs.size
    val (rot, codebooks, mses) =
      Similarity.opqTrain(emb, m = m, k = 16, rounds = 4, lloydRounds = 6)
    assert(mses.size == 4)
    mses.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"MSE rose between rounds: $mses")
    }
    assert(mses.last < mses.head,
      s"OPQ did not improve on the random-rotation baseline: $mses")
    // R·Rᵀ = I (rows orthonormal) — Procrustes + Gram-Schmidt completion
    for (i <- 0 until dim; j <- i until dim) {
      val dot = (0 until dim).map(t => rot(i)(t) * rot(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-6, s"RRt[$i][$j] = $dot")
    }
    assert(codebooks.size == m &&
      codebooks.forall(cb => cb.size == 16 && cb.forall(_.size == dim / m)))
    // training checkpoints all released; only the caller's fixture remains
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(emb)
  }

  test("opqTrain rejects bad config and empty samples") {
    val emb = Seq((0L, Array.fill(8)(0.5))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.opqTrain(emb, m = 3) // 8 % 3 != 0
    }
    intercept[IllegalArgumentException] {
      Similarity.opqTrain(emb.limit(0), m = 2)
    }
  }

  test("rrfFuse: both-list ids beat single-list ids; exact contributions") {
    import spark.implicits._
    // leg A ranks 1,2,3 ; leg B ranks 2,3,4 — doc 2 (ranks 2+1) must win
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rnk")
    val b = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("doc_id", "rnk")
    val out = Similarity.rrfFuse(Seq(a, b), "doc_id", k0 = 60, topK = 10)
      .select("doc_id", "rrf_score", "n_lists")
      .as[(Long, Double, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 1L, 4L)) // fused order
    val byId = out.map(r => r._1 -> r).toMap
    def c(r: Long) = 1.0 / (60.0 + r)
    assert(byId(2L)._2 == math.rint((c(2) + c(1)) * 1e9) / 1e9)
    assert(byId(1L) == ((1L, math.rint(c(1) * 1e9) / 1e9, 1)))
    assert(byId(2L)._3 == 2 && byId(4L)._3 == 1)
  }

  test("linearFuse: per-leg min-max, constant leg normalizes to 1, " +
    "missing leg contributes 0, tie by id") {
    import spark.implicits._
    // leg A scores 10/20/30 (w 0.5) -> 0 / 0.25 / 0.5;
    // leg B constant (w 0.5) -> 0.5 for ids 2 and 4
    val a = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("doc_id", "s")
    val b = Seq((2L, 5.0), (4L, 5.0)).toDF("doc_id", "s")
    val out = Similarity.linearFuse(Seq((a, "s", 0.5), (b, "s", 0.5)),
        "doc_id", topK = 3)
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((2L, 0.75), (3L, 0.5), (4L, 0.5)))
  }

  test("rrfFuse tie-breaks equal scores by id and honors topK") {
    import spark.implicits._
    val a = Seq((7L, 1L), (5L, 1L)).toDF("doc_id", "rnk") // same rank, 2 "legs"
    val out = Similarity.rrfFuse(Seq(a), "doc_id", k0 = 60, topK = 1)
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(5L)) // equal 1/(60+1) → lower id first, topK trims
  }

  test("ranked attaches 1-based ranks by (score desc, id asc)") {
    import spark.implicits._
    val l = Seq((10L, 0.5), (11L, 0.9), (12L, 0.5)).toDF("doc_id", "s")
    val out = Similarity.ranked(l, "s", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(11L -> 1L, 10L -> 2L, 12L -> 3L))
  }

  test("hardNegatives: same-label vectors excluded, wrong-label ranked by sim") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f), 0),  // same label as probe — must not appear
      (3L, Seq(0.8f, 0.2f), 1),
      (4L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, col("vec_id") === 1, k = 2)
      .orderBy(desc("sim")).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 4L))
    assert(out.forall(_.getAs[Int]("neighbor_label") == 1))
    assert(out.head.getAs[Double]("sim") > 0.9)
    assert(out.last.getAs[Double]("sim") == 0.0)
  }

  test("labelCentroidDrift: identical slices cos 1, opposed slices cos −1") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(1.0f, 0.0f), 0),   // a == b
      (2L, Seq(1.0f, 0.0f), 1), (3L, Seq(-1.0f, 0.0f), 1)   // a == −b
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidDrift(emb,
        col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0)
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("drift_cos"))).toMap
    assert(out(0) == ((1L, 1L, 1.0)))
    assert(out(1) == ((1L, 1L, -1.0)))
  }

  test("mutualKnnPairs keeps exactly the reciprocal top-k edges") {
    def unit(deg: Double): Array[Double] = {
      val r = math.toRadians(deg)
      Array(math.cos(r), math.sin(r))
    }
    // two tight pairs and one far singleton; k=1 keeps only reciprocals
    val emb = Seq(
      (1L, unit(0)), (2L, unit(5)), // mutual nearest of each other
      (3L, unit(40)), // nearest is the 'hub' at 20°...
      (4L, unit(20))) // ...whose own nearest is 2 — (3,4) NOT mutual
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualKnnPairs(emb, k = 1, blocks = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    // k=3 on 4 vectors = complete top-k lists → every pair reciprocates
    val all = Similarity.mutualKnnPairs(emb, k = 3, blocks = 4).count()
    assert(all == 6L)
  }

  test("mutualKnnPairsIvf: probing every cell reproduces the exact tier; " +
    "clustered probing keeps high pair recall") {
    // four tight clusters around orthogonal axes — 10 vectors each, with
    // a deterministic per-vector jitter so in-cluster neighbors differ
    val vecs = for {
      c <- 0 until 4
      i <- 0 until 10
    } yield {
      val base = Array.fill(4)(0.02 * ((c * 10 + i) % 5))
      base(c) += 1.0
      base(3 - c) += 0.01 * i
      ((c * 10 + i).toLong, base)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val centroids = Seq(
      (0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)),
      (2, Array(0.0, 0.0, 1.0, 0.0)), (3, Array(0.0, 0.0, 0.0, 1.0))
    ).toDF("cell_id", "centroid")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.mutualKnnPairs(emb, k = 3, blocks = 4))
    // all cells probed = complete candidate set = identical edges
    val full = pairSet(Similarity.mutualKnnPairsIvf(emb, centroids,
      k = 3, nProbe = 4))
    assert(full == exact)
    // nProbe=1 on well-separated clusters: candidates are in-cluster only,
    // and on this fixture the true top-3 neighbors ARE in-cluster
    val ivf1 = pairSet(Similarity.mutualKnnPairsIvf(emb, centroids,
      k = 3, nProbe = 1))
    val recall = (ivf1 intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"pair recall $recall (|exact|=${exact.size})")
    // the IVF tier can only MISS edges, never invent them
    assert((ivf1 -- exact).isEmpty)
    // ...and therefore, at the CLUSTER level (the eval-trio composition
    // q224–q226), a reduced-probe graph can only SPLIT components, never
    // merge them: every nProbe=1 cluster maps whole into ONE full-probe
    // cluster — the clustering eval over an under-probed graph degrades
    // toward finer clusters, it never invents cross-cluster agreement
    def repMap(pairs: Set[(Long, Long)]) = graft.ops.Dedup.clusterNearDups(
      pairs.toSeq.toDF("id_a", "id_b"), idCol = "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullReps = repMap(full)
    val subReps = repMap(ivf1)
    val image = subReps.groupBy(_._2).view
      .mapValues(_.keys.map(fullReps).toSet).toMap
    assert(image.values.forall(_.size == 1),
      s"an under-probed cluster straddles full-probe clusters: $image")
  }

  test("knn-graph index: build+append converges bit-for-bit to the full build; replay is a no-op") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val seed = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_knng").toString
    def topk(path: String) = spark.read.parquet(s"$path/topk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val inc = tmp()
    Similarity.buildKnnGraphIndex(seed, k = 5, inc)
    Similarity.appendToKnnGraphIndex(spark, inc, batch)
    val full = tmp()
    Similarity.buildKnnGraphIndex(emb, k = 5, full)
    // the merge re-cut reproduces the full compute exactly (round-6 sims
    // + deterministic (sim desc, dst) cuts) — directed state AND the
    // derived mutual pairs
    assert(topk(inc) == topk(full) && topk(inc).nonEmpty)
    def pairs(path: String) = Similarity.mutualKnnPairsIndexed(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(inc) == pairs(full))
    // ...and equals the inline tier over the same corpus (tier-equivalence)
    val inline = Similarity.mutualKnnPairs(emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(inc) == inline)
    // replay: re-appending the ingested batch rewrites nothing
    val before = (topk(inc), spark.read.parquet(s"$inc/vectors").count())
    Similarity.appendToKnnGraphIndex(spark, inc, batch)
    assert((topk(inc), spark.read.parquet(s"$inc/vectors").count()) == before)
    // mid-sequence crash window: topk rewritten with the batch lists,
    // vectors append DIDN'T land — recreate that state by rewriting the
    // vectors dir back to the seed, then replay. The stored-topk
    // anti-join on fresh srcs + the distinct-before-cut must reproduce
    // the clean state exactly (no doubled batch lists, no doubled dsts)
    val seedVecs = spark.read.parquet(s"$inc/vectors")
      .join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint()
    graft.io.IO.writeDir(seedVecs, s"$inc/vectors")
    Similarity.appendToKnnGraphIndex(spark, inc, batch)
    assert((topk(inc), spark.read.parquet(s"$inc/vectors").count()) == before)
    assert(pairs(inc) == pairs(full))
    // GDPR delete: erase a slice → bit-for-bit the fresh build over the
    // survivors (affected lists rescore, untouched lists keep verbatim)
    val delIds = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    Similarity.deleteFromKnnGraphIndex(spark, inc, delIds)
    val rebuilt = tmp()
    Similarity.buildKnnGraphIndex(
      emb.join(delIds, Seq("vec_id"), "left_anti"), k = 5, rebuilt)
    assert(topk(inc) == topk(rebuilt) && topk(inc).nonEmpty)
    assert(pairs(inc) == pairs(rebuilt))
    // deleting already-absent ids is a no-op
    val afterDel = (topk(inc), spark.read.parquet(s"$inc/vectors").count())
    Similarity.deleteFromKnnGraphIndex(spark, inc, delIds)
    assert((topk(inc), spark.read.parquet(s"$inc/vectors").count()) == afterDel)
  }

  test("matryoshkaRecall counts prefix-lane overlap with the full-dim top-k") {
    // query 0 = +x. Full-dim top-2 = {1 (identical), 2 (near)} — vector 3
    // diverges in the TAIL dims so its full cos is only 1/sqrt(2). Prefix-2
    // top-2 = {1, 3} (both prefixes are exactly [1,0]; tie broken by id
    // keeps 1 then 3 over 2's 0.9939). Overlap = {1} → recall 0.5.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.1, 0.0)),
      (3L, Seq(1.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRecall(emb,
      emb.filter(col("vec_id") === 0L), prefixDim = 2, k = 2)
      .as[(Long, Int, Int, Double)].collect()
    assert(got.toSeq == Seq((0L, 1, 2, 0.5)))
  }

  test("binaryQuantTopK with a full shortlist equals the exact cosine top-k") {
    // shortlist >= corpus-1 admits every candidate, so the Hamming stage
    // prunes nothing and the re-rank IS the exact brute-force ranking
    // (tier-equivalence, the q37/q77 discipline)
    val emb = (0L until 12L).map { i =>
      (i, (1 to 64).map(j => ((i * 31 + j * 17) % 13 - 6).toDouble).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val got = Similarity.binaryQuantTopK(emb, queries, shortlist = 11, k = 3)
      .select("query_id", "rank", "vec_id", "sim")
    val exact = emb.select(col("vec_id").as("__idc"), col("embedding").as("__vc"))
      .crossJoin(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("__vq")))
      .filter(col("__idc") =!= col("query_id"))
      .select(col("query_id"), col("__idc").as("vec_id"),
        round(graft.functions.cosineSimilarity(col("__vc"), col("__vq")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "rank", "vec_id", "sim")
    val g = got.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val e = exact.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(g.toSeq == e.toSeq)
  }

  test("binary-quant index: build+append ≡ inline tier; replay and crash-window self-heal; delete exact") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val seed = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    val queries = emb.filter(col("vec_id") % 101 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_binq").toString
    def search() = Similarity
      .binaryQuantTopKIndexed(spark, path, queries, shortlist = 40, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSet
    Similarity.buildBinaryQuantIndex(seed, path)
    Similarity.appendToBinaryQuantIndex(spark, path, batch)
    // per-row codes: the grown index is bit-equal to the inline tier
    val inline = Similarity.binaryQuantTopK(emb, queries, 40, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSet
    val grown = search()
    assert(grown == inline && grown.nonEmpty)
    def counts() = (spark.read.parquet(s"$path/vectors").count(),
      spark.read.parquet(s"$path/codes").count())
    val before = counts()
    // replay: both halves anti-join their own stored ids — no growth
    Similarity.appendToBinaryQuantIndex(spark, path, batch)
    assert(counts() == before && search() == inline)
    // crash window: vectors landed, codes didn't — recreate by scrubbing
    // the batch's code rows, then replay: the missing half completes,
    // the present half no-ops
    val seedCodes = spark.read.parquet(s"$path/codes")
      .join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint()
    graft.io.IO.writeDir(seedCodes, s"$path/codes")
    Similarity.appendToBinaryQuantIndex(spark, path, batch)
    assert(counts() == before && search() == inline)
    // GDPR delete ≡ fresh build over the survivors; absent-id no-op
    val delIds = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    Similarity.deleteFromBinaryQuantIndex(spark, path, delIds)
    val survivors = emb.join(delIds, Seq("vec_id"), "left_anti")
    val q2 = queries.join(delIds, Seq("vec_id"), "left_anti")
    val fresh2 = Similarity.binaryQuantTopK(survivors, q2, 40, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSet
    val afterDel = Similarity
      .binaryQuantTopKIndexed(spark, path, q2, shortlist = 40, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSet
    assert(afterDel == fresh2 && afterDel.nonEmpty)
    val cBefore = counts()
    Similarity.deleteFromBinaryQuantIndex(spark, path, delIds)
    assert(counts() == cBefore)
  }

  test("binaryQuantTopK Hamming counts sign disagreements in both halves") {
    // query 0 = all-positive. Vector 1 flips dims 1,2 (lo half → hamming
    // 2); vector 2 flips dim 40 (hi half → hamming 1); vector 3 agrees
    // everywhere (hamming 0, and it ranks first on cosine too).
    def vec(flip: Set[Int]) =
      (1 to 64).map(j => if (flip(j)) -1.0 else 1.0).toSeq
    val emb = Seq(
      (0L, vec(Set.empty)), (1L, vec(Set(1, 2))),
      (2L, vec(Set(40))), (3L, vec(Set.empty))
    ).toDF("vec_id", "embedding")
    val got = Similarity.binaryQuantTopK(emb,
        emb.filter(col("vec_id") === 0L), shortlist = 3, k = 3)
      .select("vec_id", "hamming").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 2L -> 1, 3L -> 0))
  }

  test("labelOutliers surfaces the vector farthest from its label centroid") {
    // label A: three +x vectors and one MISLABELED +y vector; label B: +y
    val emb = Seq(
      (1L, Seq(1.0, 0.0), "A"), (2L, Seq(0.99, 0.1), "A"),
      (3L, Seq(0.98, -0.1), "A"),
      (4L, Seq(0.0, 1.0), "A"), // the mislabel
      (5L, Seq(0.1, 1.0), "B"), (6L, Seq(-0.1, 1.0), "B")
    ).toDF("vec_id", "embedding", "label")
    val top1 = Similarity.labelOutliers(emb, k = 1).collect()
      .map(r => r.getAs[String]("label") -> r.getAs[Long]("vec_id")).toMap
    assert(top1("A") == 4L)
    val a = Similarity.labelOutliers(emb, k = 4)
      .filter(col("label") === "A").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("centroid_cos"))
      .toMap
    // the mislabel's centroid cosine is far below the in-cluster three
    assert(a(4L) < a(1L) && a(4L) < a(2L) && a(4L) < a(3L))
  }

  test("semanticDedupFlags maxCell: the hot-cell cap bounds pair mining " +
    "(lowest ids win) but the flag spine still carries every member") {
    // two well-separated cells; within +x: ids 1,2,7 mutually near-dup
    // (cos ≈ 1 ≥ τ), id 9 distinct (cos < τ to all); within +y: 4,5 dup
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.999, 0.01)), (7L, Seq(0.998, 0.02)),
      (9L, Seq(0.5, -0.86)),
      (4L, Seq(0.0, 1.0)), (5L, Seq(0.01, 0.999))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    def flags(maxCell: Int): Map[Long, (Int, Int)] =
      Similarity.semanticDedupFlags(emb, cents, tau = 0.9, maxCell = maxCell)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cell_id"), r.getAs[Int]("is_semdup")))).toMap
    // exact (no cap): 2 and 7 flag (lower-id 1 at cos ≥ τ); 5 flags via 4
    val exact = flags(0)
    assert(exact == Map(1L -> ((0, 0)), 2L -> ((0, 1)), 7L -> ((0, 1)),
      9L -> ((0, 0)), 4L -> ((1, 0)), 5L -> ((1, 1))))
    // maxCell = 2: cell 0 mines pairs only among its two lowest ids
    // {1, 2} → 7 stops flagging (recall degrades in the capped cell
    // ONLY); every member still appears in the output spine
    val capped = flags(2)
    assert(capped == exact + (7L -> ((0, 0))))
    assert(capped.keySet == exact.keySet)
  }
}
