package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Embedding similarity search (north-star extension; SURVEY.md §2.11).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query vector(s)
  * against a full scan; exact, embarrassingly parallel, the right answer up
  * to the point the scan itself is the bottleneck.
  *
  * Scale path: LSH-bucketed search via signed-random-projection (SRP)
  * hyperplane hashing — probe only the query's bucket(s). At 100 TB the
  * bucketed variant turns a full-corpus scan into a hash-partitioned lookup;
  * recall is tunable by number of hyperplanes / probes.
  */
object Similarity {

  /** Top-k most-similar vectors to ONE query vector, identified by id, from
    * the same table. Plan: scan → broadcast 1-row dim → project sim →
    * TakeOrderedAndProject (Spark plans orderBy+limit as top-k, no full
    * sort). Ties broken by id for determinism.
    */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    emb
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosineSimilarity(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batch 1-NN: for every probe vector (a subset), the single most similar
    * other vector. Probe side broadcasts; corpus side streams — no shuffle
    * of the big table. Norms are precomputed once per row on each side, so
    * the per-pair work is one dot product. REQUIRES the probe set to be
    * broadcast-sized; for large probe batches use
    * [[nearestNeighborBlocked]], which bounds per-task probe memory by
    * blocking instead of broadcasting.
    *
    * The argmax is a single hash aggregation — max(struct(sim, -id)) —
    * instead of a window sort: ~|probes| groups of partial aggregation, no
    * full materialization/sort of the |corpus|×|probes| score matrix.
    * Deterministic: struct comparison is (sim desc → -id desc ⇔ id asc).
    */
  def nearestNeighbor(emb: DataFrame, probeFilter: Column,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withNorm = emb.select(
      col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
    val probes = withNorm.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col("__v").as("__pv"), col("__n").as("__pn"))
    val scored = withNorm
      .crossJoin(broadcast(probes))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        (dotProduct(col("__v"), col("__pv")) / (col("__n") * col("__pn"))).as("sim"))
    scored
      .groupBy(col("probe_id"))
      .agg(max(struct(col("sim"), (-col("neighbor_id")).as("negid"))).as("__b"))
      .select(col("probe_id"), (-col("__b.negid")).as("neighbor_id"),
        col("__b.sim").as("sim"))
  }

  /** Batch 1-NN WITHOUT the broadcast-probe ceiling. `nearestNeighbor`
    * broadcasts the probe set — the right plan while probes fit in a
    * broadcast, but the realistic "re-score yesterday's batch against the
    * corpus" case has millions of probes, and a broadcast build side that
    * size kills executors. This variant is the bipartite analogue of
    * [[allPairsSimilarityJoin]]'s blocked scheme:
    *
    *   - probes are hash-split into `probeBlocks`, corpus into
    *     `corpusBlocks`; the probeBlocks×corpusBlocks pair grid is the only
    *     broadcast (a few hundred int pairs);
    *   - each side joins the grid on its own block id, acquiring the full
    *     (probe-block, corpus-block) key — so the scoring join is a pure
    *     EQUI-join on that pair, one task per grid cell;
    *   - per-task memory is one probe block (|probes|/probeBlocks rows) —
    *     bounded by choosing probeBlocks, independent of total probe count.
    *     Replication is the blocked-matmul trade: corpus ×probeBlocks,
    *     probes ×corpusBlocks rows through the exchange.
    *
    * Same argmax aggregation as `nearestNeighbor` — results are identical
    * (dot products are order-independent per pair), which SimilaritySpec
    * asserts. Choose `nearestNeighbor` when the probe set is broadcast-
    * sized; this when it is not.
    */
  def nearestNeighborBlocked(emb: DataFrame, probeFilter: Column,
                             probeBlocks: Int = 4, corpusBlocks: Int = 8,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val withNorm = emb.select(
      col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
    val grid = (for (p <- 0 until probeBlocks; c <- 0 until corpusBlocks) yield (p, c))
      .toDF("__pb", "__cb")
    val probes = withNorm.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col("__v").as("__pv"), col("__n").as("__pn"),
        pmod(xxhash64(col(idCol)), lit(probeBlocks)).cast("int").as("__pb"))
      .join(broadcast(grid), "__pb") // probe row → one (pb, cb) per corpus block
    val corpus = withNorm
      .withColumn("__cb", pmod(xxhash64(col(idCol)), lit(corpusBlocks)).cast("int"))
      .join(broadcast(grid), "__cb") // corpus row → one (pb, cb) per probe block
    val scored = corpus.join(probes, Seq("__pb", "__cb"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        (dotProduct(col("__v"), col("__pv")) / (col("__n") * col("__pn"))).as("sim"))
    scored
      .groupBy(col("probe_id"))
      .agg(max(struct(col("sim"), (-col("neighbor_id")).as("negid"))).as("__b"))
      .select(col("probe_id"), (-col("__b.negid")).as("neighbor_id"),
        col("__b.sim").as("sim"))
  }

  /** Margin-based cross-corpus pair mining (Artetxe & Schwenk 2019 —
    * the CCMatrix/LASER bitext-mining criterion, public): for every
    * vector in corpus A, its forward top-k candidates in corpus B by
    * rounded cosine; each candidate scored by the RATIO margin —
    * sim(x,y) over the mean of both endpoints' top-k neighborhood
    * averages — which normalizes away hubness (a y that is "everyone's
    * neighbor" has a high denominator and stops winning everything);
    * kept pairs are MUTUAL margin-bests over the candidate relation at
    * `threshold`. The canonical aligned-pair miner for parallel text,
    * caption↔image, or any two embedding spaces sharing a metric.
    *
    * Determinism: cosines round to 6 BEFORE the top-k (ties by id), and
    * everything after is EXACT INTEGER arithmetic in micro-units — a
    * 6-rounded sim is a multiple of 1e-6, so margin = sim / ((s_a/n_a +
    * s_b/n_b)/2) = 2·simµ·n_a·n_b / (s_aµ·n_b + s_bµ·n_a), a quotient
    * of exact int64s both engines turn into the identical double (a
    * float neighborhood AVERAGE would re-round at the 6th digit on sum
    * order — observed, not hypothetical).
    *
    * Shape at 100 TB: the cross-score is the block-grid equi-join of
    * [[nearestNeighborBlocked]] (neither corpus broadcasts; Σ per-grid
    * work, plan has no nested loop); it IS exact all-pairs compute —
    * the oracle-tier contract. At real scale route candidates through
    * the IVF index first ([[ivfTopKBatch]]) and feed the surviving
    * candidate relation to the SAME margin/mutual tail; the miner's
    * statistics are defined on whatever candidate relation it is given.
    * Everything after the scoring join is top-k-sized: GroupedTopK
    * bounded buffers for both kNN directions and both argmax ranks.
    */
  def marginMutualPairs(a: DataFrame, b: DataFrame, k: Int = 4,
                        threshold: Double = 1.0,
                        aBlocks: Int = 8, bBlocks: Int = 8,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && aBlocks >= 1 && bBlocks >= 1,
      s"bad params: k=$k aBlocks=$aBlocks bBlocks=$bBlocks")
    val spark = a.sparkSession
    import spark.implicits._
    val grid = (for (i <- 0 until aBlocks; j <- 0 until bBlocks)
      yield (i, j)).toDF("__gab", "__gbb")
    val av = a.select(col(idCol).cast("long").as("a_id"),
        col(vecCol).cast("array<double>").as("__av"))
      .withColumn("__an", l2Norm(col("__av")))
      .withColumn("__gab",
        pmod(xxhash64(col("a_id")), lit(aBlocks)).cast("int"))
      .join(broadcast(grid), "__gab")
    val bv = b.select(col(idCol).cast("long").as("b_id"),
        col(vecCol).cast("array<double>").as("__bv"))
      .withColumn("__bn", l2Norm(col("__bv")))
      .withColumn("__gbb",
        pmod(xxhash64(col("b_id")), lit(bBlocks)).cast("int"))
      .join(broadcast(grid), "__gbb")
    // two consumers (both kNN directions) — materialize the scored
    // relation once (the termFrequencies discipline)
    val scored = av.join(bv, Seq("__gab", "__gbb"))
      .select(col("a_id"), col("b_id"),
        round(dotProduct(col("__av"), col("__bv")) /
          (col("__an") * col("__bn")), 6).as("sim"))
      .withColumn("__simm", round(col("sim") * 1e6).cast("long"))
      .localCheckpoint()
    val ka = graft.plans.TopK.perGroup(scored, Seq("a_id"),
      Seq(("sim", true), ("b_id", false)), k)
    val kb = graft.plans.TopK.perGroup(scored, Seq("b_id"),
      Seq(("sim", true), ("a_id", false)), k)
    val ax = ka.groupBy(col("a_id"))
      .agg(sum(col("__simm")).as("__sa"), count(lit(1)).as("__na"))
    val by = kb.groupBy(col("b_id"))
      .agg(sum(col("__simm")).as("__sb"), count(lit(1)).as("__nb"))
    val mg = ka.join(ax, "a_id").join(by, "b_id")
      .select(col("a_id"), col("b_id"), col("sim"),
        round((lit(2L) * col("__simm") * col("__na") * col("__nb"))
          .cast("double") /
          (col("__sa") * col("__nb") + col("__sb") * col("__na"))
            .cast("double"), 6)
          .as("margin"))
      .localCheckpoint()
    val bestA = graft.plans.TopK.perGroup(mg, Seq("a_id"),
      Seq(("margin", true), ("b_id", false)), 1)
    val bestB = graft.plans.TopK.perGroup(mg, Seq("b_id"),
      Seq(("margin", true), ("a_id", false)), 1)
    bestA.join(bestB.select(col("a_id"), col("b_id")), Seq("a_id", "b_id"))
      .filter(col("margin") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim").as("cosine_sim"),
        col("margin"))
  }

  // -------------------------------------------- LSH (signed random projection)

  /** Deterministic seeded hyperplanes, generated driver-side and shipped as
    * literal arrays — reproducible across runs/executors, and the per-row
    * work is numPlanes codegen'd dot products (no interpreted HOFs).
    */
  def srpPlanes(dim: Int, numPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextDouble() * 2.0 - 1.0))
  }

  /** Deterministic random orthonormal rotation: seeded Gaussian rows made
    * orthonormal by modified Gram-Schmidt — the "RR" (random rotation)
    * baseline of OPQ (Ge et al., CVPR 2013, public). Rotating embeddings
    * before product quantization spreads anisotropic variance evenly
    * across the m subspaces; on PCA-ordered/decaying-spectrum data this
    * measurably lowers quantization distortion and raises ADC recall at
    * the same (m, k) budget (SimilaritySpec pins both on such a fixture —
    * on already-isotropic data rotation is a no-op by symmetry). Driver-
    * side O(dim³) on a ≤low-thousands dim, shipped as literals like
    * [[srpPlanes]]; rotation is exactly orthonormal so exact distances
    * (and therefore true neighbor sets) are invariant.
    */
  def randomRotation(dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    val r = Array.fill(dim, dim)(rnd.nextGaussian())
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        var d = 0.0
        var t = 0
        while (t < dim) { d += r(i)(t) * r(j)(t); t += 1 }
        t = 0
        while (t < dim) { r(i)(t) -= d * r(j)(t); t += 1 }
      }
      val n = math.sqrt(r(i).map(x => x * x).sum)
      require(n > 1e-12, s"degenerate Gram-Schmidt row $i (seed $seed)")
      var t = 0
      while (t < dim) { r(i)(t) /= n; t += 1 }
    }
    r.toSeq.map(_.toSeq)
  }

  /** Apply a [[randomRotation]] (or any literal matrix) to a vector
    * column through the native MatVec expression — one codegen'd
    * two-loop kernel, matrix shipped once as a reference object.
    * Arithmetic is identical to `array(dotProduct(v, row_i), …)` (same
    * per-row left-to-right accumulation), which the oracle replays as
    * the q121 plane-ordered fold; the composed form at 64×64 would blow
    * the codegen method budget and interpret (see MatVecProduct).
    */
  def rotate(vec: Column, rotation: Seq[Seq[Double]]): Column =
    graft.functions.matVec(vec, rotation)

  /** OPQ — learned rotation for product quantization (Ge et al., CVPR
    * 2013, public; the non-parametric alternation): starting from
    * [[randomRotation]], alternate (a) train per-subspace L2 k-means
    * codebooks on the rotated sample and encode it, with (b) an
    * orthogonal-Procrustes rotation update R = V·Uᵀ from the SVD of
    * Xᵀ·X̂ — each step cannot increase the quantization error, so MSE
    * descends monotonically (gate-tested). Returns (R, codebooks[m][k][sub],
    * mse-per-round) with the codebooks trained for the RETURNED rotation.
    *
    * Scale design: training is SAMPLE-BOUNDED by design (the FAISS
    * discipline — pass a pre-sampled frame; every per-round job is over
    * the sample): rotation/encode are map-only literal-expression
    * projections, Lloyd statistics are (m·k·sub)-group aggregates, and
    * the d×d correlation accumulates via treeAggregate with a primitive
    * double[d²] accumulator — nothing larger than d² ever reaches the
    * driver. Applying the result at corpus scale is [[rotate]] (one
    * codegen'd MatVec) + PQ encode. No SQL oracle: the learned rotation
    * is data-dependent and cannot render into a static oracle — the unit
    * gate pins the value claim instead (the residual-tier precedent).
    */
  def opqTrain(sample: DataFrame, m: Int, k: Int = 16, rounds: Int = 5,
               lloydRounds: Int = 8, seed: Long = 42L,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], Seq[Double]) = {
    require(m > 0 && k > 1 && rounds >= 1 && lloydRounds >= 1,
      s"bad OPQ config (m=$m k=$k rounds=$rounds lloydRounds=$lloydRounds)")
    val release = org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    val v = sample
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__x"))
      .localCheckpoint()
    val dims = v.select(size(col("__x"))).limit(1).collect()
    require(dims.nonEmpty, "empty OPQ training sample")
    val d = dims(0).getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sub = d / m
    var rot = randomRotation(d, seed)
    var codebooks: Seq[Seq[Seq[Double]]] = null
    val mses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val n = v.count().toDouble
    for (round <- 1 to rounds) {
      val rotated = v
        .select(col("__id"), col("__x"), rotate(col("__x"), rot).as("__z"))
        .localCheckpoint()
      // warm-start each round from the previous round's codebooks: after
      // the Procrustes step the old codes remain a FEASIBLE encoding under
      // the new rotation, so assignment+Lloyd can only descend from the
      // previous MSE — the monotonicity claim needs this (a cold re-init
      // may land in a worse local optimum).
      codebooks = (0 until m).map(j =>
        lloydL2(rotated, j, sub, k, lloydRounds,
          Option(codebooks).map(_(j))))
      // encode against literal codebooks; decode to x̂ for MSE + Procrustes
      val xhat = concat((0 until m).map { j =>
        val cbLit = array(codebooks(j).map(c => array(c.map(lit): _*)): _*)
        element_at(cbLit, subCode(col("__z"), j, sub, codebooks(j)) + 1)
      }: _*)
      val scored = rotated.select(col("__x"), col("__z"), xhat.as("__xh"))
      val mse = scored.select(
        aggregate(zip_with(col("__z"), col("__xh"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (s, x) => s + x).as("__e"))
        .agg(coalesce(sum(col("__e")), lit(0.0))).head().getDouble(0) / n
      mses += mse
      if (round < rounds) {
        // M = Xᵀ·X̂ via a primitive-accumulator treeAggregate (d² doubles)
        val mFlat = scored.select(col("__x"), col("__xh")).rdd
          .treeAggregate(new Array[Double](d * d))(
            seqOp = (acc, row) => {
              val x = row.getSeq[Double](0)
              val xh = row.getSeq[Double](1)
              var i = 0
              while (i < d) {
                val xi = x(i); var j = 0
                while (j < d) { acc(i * d + j) += xi * xh(j); j += 1 }
                i += 1
              }
              acc
            },
            combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
        rot = procrustesRotation(mFlat, d)
      }
      release(rotated)
    }
    release(v)
    (rot, codebooks, mses.toSeq)
  }

  /** Per-subspace argmin code against literal centroids: exact min-struct
    * (no rounding — OPQ has no cross-engine oracle to pin).
    */
  private def subCode(z: Column, j: Int, sub: Int,
                      cb: Seq[Seq[Double]]): Column = {
    val seg = slice(z, lit(j * sub + 1), lit(sub))
    least(cb.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      struct((dotProduct(seg, seg) - lit(2.0) * dotProduct(seg, cl) +
        lit(c.map(x => x * x).sum)).as("d"), lit(i).as("i"))
    }: _*).getField("i")
  }

  /** Distributed Lloyd in L2 over subspace `j` of the rotated sample:
    * assignment is a literal-centroid argmin projection, the update is
    * one (cid, dim)-grouped mean — only k·sub scalars return per round.
    * Init = `init` when given (OPQ warm-start), else the k lowest-id
    * rows' sub-vectors (deterministic); a cell that loses every member
    * keeps its previous centroid.
    */
  private def lloydL2(rotated: DataFrame, j: Int, sub: Int, k: Int,
                      iters: Int,
                      init: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    val seg = rotated.select(col("__id"),
      slice(col("__z"), lit(j * sub + 1), lit(sub)).as("__s"))
    var cb: Seq[Seq[Double]] = init.getOrElse(
      seg.orderBy(col("__id")).limit(k)
        .select(col("__s")).collect().map(_.getSeq[Double](0).toSeq).toSeq)
    require(cb.size == k, s"sample smaller than k=$k")
    for (_ <- 1 to iters) {
      val assigned = seg.select(
        least(cb.zipWithIndex.map { case (c, i) =>
          val cl = array(c.map(lit): _*)
          struct((dotProduct(col("__s"), col("__s")) -
            lit(2.0) * dotProduct(col("__s"), cl) +
            lit(c.map(x => x * x).sum)).as("d"), lit(i).as("i"))
        }: _*).getField("i").as("__c"), col("__s"))
      val stats = assigned
        .select(col("__c"), posexplode(col("__s")).as(Seq("__d", "__v")))
        .groupBy(col("__c"), col("__d"))
        .agg(avg(col("__v")).as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cb = cb.indices.map(i => stats.getOrElse(i, cb(i)))
    }
    cb
  }

  /** Orthogonal-Procrustes polar factor from the flat d×d correlation M:
    * eigen-decompose MᵀM (cyclic Jacobi — symmetric PSD), recover the
    * singular bases, return R = V·Uᵀ. Near-zero singular directions are
    * completed by Gram-Schmidt so R stays exactly orthonormal.
    */
  private def procrustesRotation(mFlat: Array[Double], d: Int): Seq[Seq[Double]] = {
    def at(a: Array[Double], i: Int, j: Int) = a(i * d + j)
    // A = MᵀM
    val a = new Array[Double](d * d)
    for (i <- 0 until d; j <- 0 until d) {
      var s = 0.0
      var t = 0
      while (t < d) { s += at(mFlat, t, i) * at(mFlat, t, j); t += 1 }
      a(i * d + j) = s
    }
    // cyclic Jacobi on the symmetric A: A := JᵀAJ, V accumulates J
    val vMat = Array.tabulate(d * d)(idx => if (idx / d == idx % d) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-22) {
      off = 0.0
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        val apq = a(p * d + q)
        off += apq * apq
        if (math.abs(apq) > 1e-18) {
          val app = a(p * d + p); val aqq = a(q * d + q)
          val theta = 0.5 * math.atan2(2.0 * apq, aqq - app)
          val c = math.cos(theta); val s = math.sin(theta)
          var t = 0
          while (t < d) {
            val atp = a(t * d + p); val atq = a(t * d + q)
            a(t * d + p) = c * atp - s * atq
            a(t * d + q) = s * atp + c * atq
            t += 1
          }
          t = 0
          while (t < d) {
            val apt = a(p * d + t); val aqt = a(q * d + t)
            a(p * d + t) = c * apt - s * aqt
            a(q * d + t) = s * apt + c * aqt
            t += 1
          }
          t = 0
          while (t < d) {
            val vtp = vMat(t * d + p); val vtq = vMat(t * d + q)
            vMat(t * d + p) = c * vtp - s * vtq
            vMat(t * d + q) = s * vtp + c * vtq
            t += 1
          }
        }
      }
      sweep += 1
    }
    // U columns: M·v_i / σ_i, Gram-Schmidt completion for tiny σ
    val sigma = (0 until d).map(i => math.sqrt(math.max(0.0, a(i * d + i))))
    val u = Array.fill(d, d)(0.0) // u(col)(row)
    val eps = 1e-9 * (sigma.max + 1e-300)
    for (i <- 0 until d if sigma(i) > eps) {
      for (r <- 0 until d) {
        var s = 0.0
        var t = 0
        while (t < d) { s += at(mFlat, r, t) * vMat(t * d + i); t += 1 }
        u(i)(r) = s / sigma(i)
      }
    }
    val rnd = new scala.util.Random(17)
    for (i <- 0 until d if sigma(i) <= eps) {
      var ok = false
      while (!ok) {
        val cand = Array.fill(d)(rnd.nextGaussian())
        for (jj <- 0 until d if jj != i) {
          var dp = 0.0
          var t = 0
          while (t < d) { dp += cand(t) * u(jj)(t); t += 1 }
          t = 0
          while (t < d) { cand(t) -= dp * u(jj)(t); t += 1 }
        }
        val nn = math.sqrt(cand.map(x => x * x).sum)
        if (nn > 1e-6) {
          for (t <- 0 until d) u(i)(t) = cand(t) / nn
          ok = true
        }
      }
    }
    // R = V·Uᵀ: R[r][c] = Σ_t V[r][t]·U[c][t]  (u(col)(row) layout)
    (0 until d).map { r =>
      (0 until d).map { cix =>
        var s = 0.0
        var t = 0
        while (t < d) { s += vMat(r * d + t) * u(t)(cix); t += 1 }
        s
      }
    }
  }

  /** SRP bucket id: one sign bit per hyperplane, packed into a long.
    * Vectors with the same bucket id are near-duplicates in angle with
    * high probability as numPlanes grows.
    */
  def srpBucket(vec: Column, dim: Int, numPlanes: Int = 16, seed: Long = 42L): Column = {
    val v = vec.cast("array<double>")
    val bits = srpPlanes(dim, numPlanes, seed).zipWithIndex.map { case (plane, i) =>
      when(dotProduct(v, array(plane.map(lit): _*)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Banded-SRP near-dup pairs: OR-construction over `bands` independent
    * SRP hash tables of `planesPerBand` hyperplanes each (band b seeded
    * seed+b), candidate pairs within any shared (band, bucket), then exact
    * cosine verification ≥ threshold. Replaces the all-pairs broadcast
    * formulation: the join is an equi-join on (band, bucket) — no
    * BroadcastNestedLoopJoin, no full-corpus broadcast — and the pair
    * expansion reuses the bucket-capped machinery of the MinHash path.
    *
    * Parameter choice is the collision calculus: P(band match) =
    * (1 − θ/π)^r for angle θ. A LOW threshold (τ=0.4 ⇒ θ/π≈0.37) forces
    * r=2; with b=24 bands the per-pair miss at τ is 0.602^24 ≈ 5e-6 —
    * effectively exhaustive, which is the honest price of low-τ similarity
    * join (no LSH family is selective there). At near-dup thresholds
    * (τ≥0.8) use r=8+, where buckets actually prune.
    */
  def srpBandedNearDupPairs(emb: DataFrame, dim: Int, threshold: Double,
                            planesPerBand: Int = 2, bands: Int = 24,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            seed: Long = 42L, maxBucket: Int = 10000): DataFrame = {
    val banded = emb.select(
      col(idCol),
      posexplode(array((0 until bands).map(b =>
        srpBucket(col(vecCol), dim, planesPerBand, seed + b)): _*))
        .as(Seq("__band", "__bucket")))
    val cands = Dedup.bucketPairs(banded, idCol, maxBucket)
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
    cands
      .join(v.select(col(idCol).as("id_a"), col("__v").as("va"), col("__n").as("na")), "id_a")
      .join(v.select(col(idCol).as("id_b"), col("__v").as("vb"), col("__n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** Bucketed approximate top-k: restrict the scan to the query's SRP
    * bucket, then exact cosine within it. At scale the corpus is written
    * partitioned/bucketed by this id, so the probe reads one bucket.
    */
  def cosineTopKBucketed(emb: DataFrame, queryId: Long, k: Int, dim: Int,
                         numPlanes: Int = 8,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withBucket = emb.withColumn("__bucket", srpBucket(col(vecCol), dim, numPlanes))
    val q = withBucket.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), col("__bucket").as("__qbucket"))
    withBucket
      .crossJoin(broadcast(q))
      .filter(col("__bucket") === col("__qbucket") && col(idCol) =!= queryId)
      .select(col(idCol), cosineSimilarity(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Exact all-pairs cosine self-join ≥ threshold via symmetric block
    * partitioning. Exact low-threshold similarity join is inherently
    * O(n²) in COMPUTE (at τ=0.4 no LSH family prunes — srpBandedNearDupPairs
    * at full recall generated 6× redundant candidates plus a 75M-row
    * distinct), so the scalable shape is to make the quadratic work
    * partition-parallel and memory-bounded rather than pretend to prune:
    *
    *   - each row gets a hash block id in [0, blocks); the driver emits the
    *     blocks(blocks+1)/2 unordered block pairs as a tiny broadcast;
    *   - pair (x, y) is evaluated exactly ONCE — in the task owning its
    *     block pair — so there is no candidate dedup shuffle at all;
    *   - replication is O(n·blocks/2) rows, task memory is two blocks
    *     (n/blocks rows each), and no full-corpus broadcast exists (the
    *     8 GB broadcast death of the naive formulation).
    *
    * At a real near-dup threshold (τ ≥ 0.8) prefer srpBandedNearDupPairs
    * with r=8+, which actually prunes.
    */
  def allPairsSimilarityJoin(emb: DataFrame, threshold: Double, blocks: Int = 32,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
      .withColumn("__blk", pmod(xxhash64(col(idCol)), lit(blocks)).cast("int"))
    val bp = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
      .toDF("__ba", "__bb")
    val a = v.select(col(idCol).as("__ida"), col("__v").as("__va"),
      col("__n").as("__na"), col("__blk").as("__ba"))
    val b = v.select(col(idCol).as("__idb"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("__blk").as("__bb"))
    a.join(broadcast(bp), "__ba")
      .join(b, "__bb")
      // diagonal block: keep one orientation; cross-block: already unique
      .filter(col("__ba") < col("__bb") || col("__ida") < col("__idb"))
      .select(
        least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        (dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids` (broadcast), producing a `cell` column the table can be
    * repartitioned/bucketed by; probes then search only `nProbe` cells.
    * Argmax is a hash aggregation (max over (sim, -cell)), not a window.
    */
  def assignCells(emb: DataFrame, centroids: DataFrame,
                  vecCol: String = "embedding", idCol: String = "vec_id",
                  centIdCol: String = "cell_id", centVecCol: String = "centroid"): DataFrame = {
    // round-before-rank (the pqAdcRank discipline): a 1-ulp Spark/DuckDB
    // divergence in the cosine must not flip a vector's assigned cell
    val scored = emb.crossJoin(broadcast(centroids))
      .withColumn("__sim", round(cosineSimilarity(col(vecCol), col(centVecCol)), 6))
    scored
      .groupBy(col(idCol))
      .agg(
        max(struct(col("__sim"), (-col(centIdCol)).cast("long").as("negcell"))).as("__b"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), (-col("__b.negcell")).cast("int").as(centIdCol))
  }

  /** Spherical k-means centroids for IVF (Lloyd iterations, fully
    * distributed): deterministic hash-sampled init → assign (broadcast
    * centroids) → per-cell elementwise mean via posexplode + (cell, dim)
    * aggregation → L2-normalize. `localCheckpoint` per iteration truncates
    * the growing lineage; centroids collect to the driver only implicitly
    * via the broadcast in `assignCells` — k rows, never the corpus.
    *
    * Init is ONE distributed top-k job (TakeOrdered on a salted hash of the
    * id): deterministic, uniform over the corpus, O(scan) regardless of k.
    * The previous farthest-point scheme ran k−1 sequential full-corpus jobs
    * with a driver `.head()` each — O(k·scan) plus driver latency, a
    * scale-killer at real k (1024+). Hash sampling can seed near-duplicate
    * centroids, but Lloyd iterations + the kept-centroid rule for emptied
    * cells recover cluster spread (ClusterSpec pins separation recall).
    *
    * Two long-session disciplines: (1) EARLY EXIT — Lloyd stops when the
    * total squared centroid movement falls below `tol` (one k-row scalar
    * agg per round, the CC-convergence pattern), so a generous iteration
    * budget doesn't pay full price after convergence; (2) BLOCK RELEASE —
    * each round's superseded centroid checkpoint (and the input
    * materialization, at exit) is explicitly unpersisted once its
    * successor is materialized, so only the RETURNED centroids' blocks
    * outlive the call instead of `iterations + 1` dead ones waiting for
    * driver GC.
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iterations: Int = 5,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      seed: Long = 42L, tol: Double = 1e-9): DataFrame =
    kmeansCentroidsWithRounds(emb, k, iterations, idCol, vecCol, seed, tol)._1

  /** [[kmeansCentroids]] + the number of Lloyd rounds actually run —
    * separated so ClusterSpec can pin the early exit.
    */
  private[graft] def kmeansCentroidsWithRounds(
      emb: DataFrame, k: Int, iterations: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, tol: Double = 1e-9): (DataFrame, Int) = {
    val spark = emb.sparkSession
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .localCheckpoint(true)
    // one TakeOrdered job: k hash-picked rows, collected (k rows only —
    // they are driver-resident by design, as the broadcast side of assign)
    val chosen: Seq[Seq[Double]] = v
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(k)
      .select("__v").collect().toSeq.map(_.getSeq[Double](0))
    var centroids = spark.createDataFrame(
      spark.sparkContext.parallelize(
        chosen.zipWithIndex.map { case (c, i) => org.apache.spark.sql.Row(i, c) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell_id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .localCheckpoint(true)
    var rounds = 0
    var moved = Double.MaxValue
    while (rounds < iterations && moved > tol) {
      val assigned = assignCells(v, centroids, "__v", idCol)
      val means = assigned
        .select(col("cell_id"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy(col("cell_id"), col("__dim"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("__dim"), col("__m")))).as("__s"))
        .select(col("cell_id"),
          transform(col("__s"), s => s.getField("__m")).as("centroid"))
      // L2-normalize so cosine-argmax assignment is scale-free; cells that
      // lost every member keep their previous centroid (no k shrink)
      val normalized = means
        .withColumn("__n", sqrt(dotProduct(col("centroid"), col("centroid"))))
        .select(col("cell_id"),
          when(col("__n") > 0, zip_with(col("centroid"),
            array_repeat(col("__n"), size(col("centroid"))), (x, n) => x / n))
            .otherwise(col("centroid")).as("centroid"))
      val next = centroids.alias("o")
        .join(normalized.alias("m"), Seq("cell_id"), "left")
        .select(col("cell_id"),
          coalesce(col("m.centroid"), col("o.centroid")).as("centroid"))
        .localCheckpoint(true)
      // early exit: total squared centroid movement (k-row join, one
      // scalar to the driver — the Dedup.clusterNearDups convergence
      // pattern). Runs BEFORE the release so both checkpoints are live.
      moved = centroids.alias("a").join(next.alias("b"), Seq("cell_id"))
        .select(aggregate(zip_with(col("a.centroid"), col("b.centroid"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x).as("__d2"))
        .agg(coalesce(sum(col("__d2")), lit(0.0))).head().getDouble(0)
      // the superseded round's centroid blocks are dead — release them now
      // instead of leaving `iterations` checkpoints for driver GC
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(centroids)
      centroids = next
      rounds += 1
    }
    // only the returned centroids' blocks outlive the call
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(v)
    (centroids, rounds)
  }

  /** Exact-arithmetic Lloyd training REPORT — the oracle-checkable twin of
    * [[kmeansCentroids]] (which trains in float for IVF, where last-ULP
    * drift is harmless because a verify step re-ranks): here every
    * quantity is integer, so two engines replaying the same rounds agree
    * bit-for-bit. Coordinates quantize once to int64 micro-units
    * (round(x·10⁶)); distance is exact integer squared-L2; the update is
    * the TRUNCATING element-wise mean sign(s)·(|s| DIV n) — trunc equals
    * floor on |s|, so Spark's DIV and DuckDB's // agree on negative sums;
    * assignment ties go to the lowest cluster id; an emptied cluster
    * keeps its previous centroid (and reports no row — it has no
    * members). Init = the k lowest-id vectors, deterministic by
    * construction (k-means++ would need RNG the oracle can't replay; at
    * scale the init choice is orthogonal to the per-round plan shape).
    *
    * Scale shape: the quantized corpus localCheckpoints once; each round
    * is ONE distributed (cluster, dim)-grouped aggregation (map-side
    * combined, collect_list bounded by dims) and only k×dims ints reach
    * the driver — the next round's broadcast literals, exactly the
    * [[kmeansCentroids]] discipline. Envelope: |coord| ≤ 2²⁰ micro ⇒
    * per-vector distance ≤ dims·2⁴² < 2⁴⁸·dims; the inertia sum is
    * carried in decimal(38,0) and reported as int64 — past ~2⁶³ total
    * (trillions of rows × large dims) report the decimal instead.
    */
  def integerKMeansReport(emb: DataFrame, k: Int, rounds: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad k-means config (k=$k rounds=$rounds)")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol),
          x => round(x.cast("double") * 1000000d).cast("long")).as("__q"))
      .localCheckpoint(true)
    val init: Array[Array[Long]] = v.orderBy(col("__id")).limit(k)
      .select(col("__q")).collect().map(_.getSeq[Long](0).toArray)
    require(init.length == k, s"need at least k=$k vectors, got ${init.length}")
    var cents = init
    def assigned(c: Array[Array[Long]]): DataFrame = {
      val dists = array(c.map { cj =>
        aggregate(zip_with(col("__q"), typedLit(cj.toSeq),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
      }: _*)
      v.select(col("__id"), col("__q"), dists.as("__d"))
        .select(col("__id"), col("__q"),
          (array_position(col("__d"), array_min(col("__d"))) - 1)
            .cast("int").as("__cl"),
          array_min(col("__d")).as("__dist"))
    }
    (1 to rounds).foreach { _ =>
      val updated: Map[Int, Array[Long]] = assigned(cents)
        .select(col("__cl"), posexplode(col("__q")).as(Seq("__i", "__x")))
        .groupBy(col("__cl"), col("__i"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .select(col("__cl"), col("__i"),
          (when(col("__s") < 0, -1L).otherwise(lit(1L)) *
            expr("abs(__s) DIV __n")).as("__m"))
        .groupBy(col("__cl"))
        .agg(array_sort(collect_list(struct(col("__i"), col("__m"))))
          .as("__a"))
        .select(col("__cl"),
          transform(col("__a"), s => s.getField("__m")).as("__c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
      cents = cents.indices.map(j => updated.getOrElse(j, cents(j))).toArray
    }
    val centroidSums = cents.zipWithIndex
      .map { case (c, j) => (j, c.sum) }.toSeq.toDF("cluster", "centroid_sum")
    // the k-row report materializes BEFORE the corpus checkpoint is
    // released (it still reads v for the final assignment pass)
    val report = assigned(cents)
      .groupBy(col("__cl").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("__id")).as("sum_vec_id"),
        sum(col("__dist").cast("decimal(38,0)")).cast("long").as("inertia"))
      .join(broadcast(centroidSums), Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("sum_vec_id"),
        col("inertia"), col("centroid_sum"))
      .localCheckpoint(true)
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(v)
    report
  }

  /** Greedy k-center coreset selection (Gonzalez 1985, the 2-approx
    * farthest-point traversal) — geometric data pruning: pick k vectors
    * such that every pool vector is within the (approximately minimal)
    * covering radius of a pick; the per-pick `min_dist_sq` sequence is
    * non-increasing and its last value IS the covering radius², the
    * "how redundant is this corpus" dial. Exact integer arithmetic
    * end-to-end (micro-unit quantize + integer squared-L2, the
    * [[integerKMeansReport]] conventions), ties to the lowest id, so the
    * oracle replays every greedy round bit-for-bit.
    *
    * Scale: greedy k-center is INHERENTLY k sequential argmax passes —
    * the same pattern [[kmeansCentroidsWithRounds]] evicted from its
    * init because cluster seeding needs k in the thousands. Coreset
    * selection doesn't: k is tens-to-hundreds (the deliverable is the
    * guarantee, not cells), and the passes run over a POOL bounded up
    * front by the portable hash gate (`poolPercent` via md5Hash31, the
    * [[Sampling.hashSamplePortable]] discipline) — each round is one
    * TakeOrdered(1) job over the checkpointed pool, never the corpus.
    */
  def kCenterCoreset(emb: DataFrame, k: Int, poolPercent: Int = 100,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(poolPercent >= 1 && poolPercent <= 100,
      s"poolPercent must be in [1, 100]: $poolPercent")
    val spark = emb.sparkSession
    import spark.implicits._
    val gated =
      if (poolPercent >= 100) emb
      else emb.filter(graft.functions.md5Hash31(col(idCol).cast("string"))
        % 100 < poolPercent)
    val pool = gated.select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol),
          x => round(x.cast("double") * 1000000d).cast("long")).as("__q"))
      .localCheckpoint(true)
    def distTo(c: Array[Long]): Column =
      aggregate(zip_with(col("__q"), typedLit(c.toSeq),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val seed = pool.orderBy(col("__id")).limit(1)
      .select(col("__id"), col("__q")).collect()
    require(seed.nonEmpty, "empty pool — raise poolPercent or check input")
    var selected =
      Vector((seed.head.getLong(0), seed.head.getSeq[Long](1).toArray, 0L))
    (2 to k).foreach { _ =>
      val dists = array(selected.map { case (_, c, _) => distTo(c) }: _*)
      val picked = pool
        .filter(!col("__id").isin(selected.map(_._1): _*))
        .select(col("__id"), col("__q"), array_min(dists).as("__md"))
        .orderBy(desc("__md"), col("__id")).limit(1)
        .collect()
      require(picked.nonEmpty, s"pool smaller than k=$k")
      selected :+= ((picked.head.getLong(0),
        picked.head.getSeq[Long](1).toArray, picked.head.getLong(2)))
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(pool)
    selected.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("selection_rank", idCol, "min_dist_sq")
  }

  /** Persist the IVF index: the assigned cell table written PARTITIONED by
    * cell_id. A probe then reads only its `nProbe` cells' directories —
    * partition pruning turns a corpus scan into a few-cell lookup
    * (plan-gated by PlanShapeSpec). Build once per (corpus, centroids);
    * probes pay only their own cells.
    */
  def buildIvfIndex(emb: DataFrame, centroids: DataFrame, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    // repartition on the partition column before the partitioned write:
    // assignCells leaves the corpus hash-partitioned by id, so every task
    // holds rows of every cell and partitionBy would write tasks×cells
    // files — the small-files explosion at 100 TB. One shuffle keyed on
    // cell_id makes it one file per cell (a monster cell serializing into
    // one task is a centroid-quality problem — see indexCellStats)
    graft.io.IO.writeDir(
      assignCells(emb, centroids, vecCol, idCol).repartition(col("cell_id")),
      path, partitionBy = Seq("cell_id"))

  /** [[buildIvfIndex]] unless THIS SparkSession already built `path`;
    * repeated probes in one session pay the cell-assignment write once.
    * The IVF index is a plain partitioned directory (no catalog entry to
    * key the skip on, unlike the bucketed indexes), so the build-once
    * marker lives in the session's RuntimeConfig — genuinely
    * session-scoped (a second session in the same JVM rebuilds), for the
    * same stale-index-safety reason [[graft.io.IO.ensureBucketed]]
    * scopes its skip to the session catalog. The check-then-build is
    * synchronized per JVM; concurrent sessions racing on the same path
    * at worst both run the idempotent Overwrite build. Returns true iff
    * the build ran.
    */
  def ensureIvfIndex(emb: DataFrame, centroids: DataFrame, path: String,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Boolean =
    Similarity.synchronized {
      val conf = emb.sparkSession.conf
      val key = s"graft.internal.ivfBuilt.$path"
      if (conf.getOption(key).isDefined) false
      else {
        buildIvfIndex(emb, centroids, path, idCol, vecCol)
        conf.set(key, "true")
        true
      }
    }

  /** [[ivfTopK]] against the PERSISTED index: identical semantics, but the
    * cell assignment is read back pruned to the query's `nProbe` cells —
    * the cell ids are collected first (nProbe ints), so the pruning filter
    * is STATIC and lands on the partition column at planning time.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     centroids: DataFrame, queryId: Long, k: Int, nProbe: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val index = spark.read.parquet(indexPath)
    val q = index.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    val probeCells: Seq[Int] = nearestCells(centroids, q, nProbe)
      .collect().toSeq.map(_.getInt(0))
    index
      .filter(col("cell_id").isin(probeCells: _*)) // static partition pruning
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosineSimilarity(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** IVF probe: exact top-k restricted to the query's `nProbe` nearest
    * cells. The cell table (vector → cell) is what you'd persist
    * partitioned by cell at scale ([[buildIvfIndex]] / [[ivfTopKIndexed]]);
    * here it is computed inline. Approximate: recall depends on nProbe /
    * centroid quality.
    */
  def ivfTopK(emb: DataFrame, centroids: DataFrame, queryId: Long, k: Int,
              nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = assignCells(emb, centroids, vecCol, idCol)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    // the query's nProbe nearest cells
    val qCells = nearestCells(centroids, q, nProbe)
    cells
      .join(broadcast(qCells), "cell_id")
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosineSimilarity(col(vecCol), col("__qvec")).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batch IVF top-k: every probe's k nearest neighbors in ONE pass — the
    * shape a real retrieval pipeline needs (thousands of probes per batch),
    * where the single-query tiers ([[ivfTopK]] etc.) would run one Spark
    * job per probe. No per-query work anywhere:
    *
    *   - the corpus is cell-assigned ONCE ([[assignCells]] — one scan);
    *   - ALL probes route together: probes × k-row broadcast centroids,
    *     top-nProbe cells per probe via the bounded-buffer
    *     [[graft.plans.TopK.perGroup]] (no per-probe driver collect — the
    *     routing that [[ivfTopKIndexed]] does driver-side for one query
    *     stays distributed here);
    *   - candidates come from ONE equi-join of the cell table against the
    *     broadcast (probe_id, cell_id, vec) routing table — the corpus
    *     never shuffles, and each candidate row is scored with exactly one
    *     cosine;
    *   - per-probe top-k is GroupedTopK partial/final — no window sort.
    *
    * Same routing/rounding discipline as [[nearestCells]] (round to 6
    * before the (sim, cell) rank). The probe set must be broadcast-sized
    * (Q·nProbe routing rows); for probe sets beyond broadcast, block the
    * probes like [[nearestNeighborBlocked]] does. At scale, point `cells`
    * work at a persisted index ([[buildIvfIndex]]) instead of the inline
    * assignment by reading it before calling — the search body is
    * identical.
    */
  def ivfTopKBatch(emb: DataFrame, centroids: DataFrame, probeFilter: Column,
                   k: Int, nProbe: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfBatchBody(assignCells(emb, centroids, vecCol, idCol), emb, centroids,
      probeFilter, k, nProbe, idCol, vecCol)

  /** [[ivfTopKBatch]] against the PERSISTED flat index
    * ([[buildIvfIndex]]): identical semantics, but the cell table is the
    * stored one — no per-batch corpus assignment. Probes come from the
    * index itself (it carries the vectors); the candidate equi-join on
    * cell_id prunes the index scan dynamically against the broadcast
    * routing table. Completes the tier grid: every search (flat/PQ ×
    * single/batch) now has an indexed form.
    */
  def ivfTopKBatchIndexed(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, centroids: DataFrame,
                          probeFilter: Column, k: Int, nProbe: Int = 2,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val index = spark.read.parquet(indexPath)
    ivfBatchBody(index, index, centroids, probeFilter, k, nProbe,
      idCol, vecCol)
  }

  /** The ONE batch flat-IVF search body (inline and indexed tiers):
    * distributed probe routing, candidate equi-join against the broadcast
    * routing table, GroupedTopK finish.
    */
  private def ivfBatchBody(cells: DataFrame, probeSrc: DataFrame,
                           centroids: DataFrame, probeFilter: Column,
                           k: Int, nProbe: Int,
                           idCol: String, vecCol: String): DataFrame = {
    val probes = probeSrc.filter(probeFilter)
      .select(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("__pv"))
    val routed = probes
      .crossJoin(broadcast(centroids.select(col("cell_id"), col("centroid"))))
      .select(col("probe_id"), col("__pv"), col("cell_id"),
        round(cosineSimilarity(col("centroid"), col("__pv")), 6).as("__csim"))
    val probeCells = graft.plans.TopK.perGroup(routed, Seq("probe_id"),
      Seq(("__csim", true), ("cell_id", false)), nProbe)
      .select("probe_id", "__pv", "cell_id")
    val cands = cells.join(broadcast(probeCells), Seq("cell_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol),
        cosineSimilarity(col(vecCol), col("__pv")).as("sim"))
    graft.plans.TopK.perGroup(cands, Seq("probe_id"),
      Seq(("sim", true), (idCol, false)), k)
  }

  /** IVF-SQ8: IVF probing over int8-quantized vectors — the memory tier
    * production ANN systems ship (corpus held as int8 codes + a per-vector
    * scale: 8× smaller than float64, so 8× more corpus per executor and
    * integer-SIMD-friendly scoring downstream). The probe routes through
    * full-precision centroids (they are k rows — quantizing them saves
    * nothing), scores candidates with the quantized cosine (the max-abs
    * scale cancels in cosine, so codes alone suffice), and top-ks.
    * Scores are approximate by construction → correctness is a RECALL
    * gate against exact search (SimilaritySpec), not an oracle equality.
    */
  def ivfTopKSq8(emb: DataFrame, centroids: DataFrame, queryId: Long, k: Int,
                 nProbe: Int = 2,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // zero vectors are unsupported by the whole similarity family (cosine
    // is 0/0 on them, an ANSI-mode error) — same contract as ivfTopK
    val coded = assignCells(emb, centroids, vecCol, idCol)
      .withColumn("__codes", int8Codes(col(vecCol)).cast("array<double>"))
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    val qCells = nearestCells(centroids, q, nProbe)
    coded
      .join(broadcast(qCells), "cell_id")
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        cosineSimilarity(col("__codes"), col("__qvec")).as("sim_sq8"))
      .orderBy(desc("sim_sq8"), col(idCol))
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    * every embedding to its nearest centroid ([[assignCells]]), then flag
    * a vector as a semantic duplicate iff some SMALLER-id vector in the
    * SAME cell has cosine ≥ tau with it (keep-first rule — the kept
    * representative of a duplicate group is its lowest id, so the kept
    * set is deterministic and stable under repartitioning).
    *
    * Shape at corpus scale — this is exactly why SemDeDup clusters
    * first: the quadratic pair comparison is confined WITHIN cells (an
    * equi-join on cell_id, no nested loop, no corpus broadcast), so cost
    * is Σ|cell|² instead of N². Centroid count controls the cell-size
    * bound; a skewed cell is a centroid-quality problem, fixable by
    * splitting cells, not a join-shape problem. Cosines are rounded to 6
    * decimals BEFORE the threshold compare so an independent engine
    * flags identical rows.
    */
  def semanticDedupFlags(emb: DataFrame, centroids: DataFrame, tau: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxCell: Int = 0): DataFrame = {
    // the assignment (crossJoin + argmax aggregate) is consumed THREE
    // times below (both self-join sides + the output spine) — checkpoint
    // it once rather than trusting exchange reuse to dedupe all three
    // subtrees (same CacheManager-free materialization rationale and
    // elastic-cluster caveat as TextAnalysis.termFrequencies)
    val cells = assignCells(emb, centroids, vecCol, idCol).localCheckpoint()
    // maxCell caps the PAIR-MINING side per cell (lowest ids win,
    // GroupedTopK bounded buffers) — the LSH maxBucket lesson, SemDeDup
    // edition: one degenerate mega-cell (a failed centroid, an
    // all-zeros-embedding bug) must bound the Σ|cell|² join, degrading
    // dup RECALL in that cell only — the flag spine still carries every
    // member. Default 0 stays exact (the oracle-replayable form).
    val mined = if (maxCell <= 0) cells
      else graft.plans.TopK.perGroup(cells, Seq("cell_id"),
        Seq((idCol, false)), maxCell)
    val a = mined.select(col(idCol), col(vecCol).as("__va"), col("cell_id"))
    val b = mined.select(col(idCol).as("__bid"), col(vecCol).as("__vb"),
      col("cell_id").as("__cb"))
    val dups = a.join(b, col("cell_id") === col("__cb") &&
        col("__bid") < col(idCol))
      .filter(round(cosineSimilarity(col("__va"), col("__vb")), 6) >= tau)
      .select(col(idCol)).distinct()
    cells.select(col(idCol), col("cell_id"))
      .join(dups.withColumn("__d", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cell_id"),
        coalesce(col("__d"), lit(0)).as("is_semdup"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * vector-store compression (4-8× smaller than float32/64, SIMD-friendly
    * integer dot products downstream): scale = max|x|/127, q_i =
    * round(x_i/scale) ∈ [-127, 127]; a zero vector quantizes to zeros with
    * scale 0. Map-only per row, so it scales with input splits. Emits
    * scalar summaries of the quantized vector (sum, squared norm,
    * saturation count, reconstruction MSE) rather than the array — the
    * driver compare needs sortable scalar columns, and the summaries pin
    * the exact integer vector: q_sum/q_norm2 are order-insensitive integer
    * folds an independent engine reproduces bit-exactly.
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val amax = array_max(transform(col(vecCol), x => abs(x)))
    val scale = amax / 127.0
    emb
      .select(col(idCol), scale.as("scale"), col(vecCol).as("__v"),
        int8Codes(col(vecCol)).as("__q"))
      .select(col(idCol), col("scale"),
        aggregate(col("__q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("__q"), lit(0L), (a, x) => a + x * x).as("q_norm2"),
        size(filter(col("__q"), x => abs(x) === 127)).as("n_saturated"),
        round(
          aggregate(zip_with(col("__v"), col("__q"),
              (v, qi) => (v - qi * col("scale")) * (v - qi * col("scale"))),
            lit(0.0), (a, x) => a + x) / size(col("__v")), 12)
          .as("recon_mse"))
  }

  /** Shared int8 code rule (q = round(x·127/max|x|), zero vector → zeros)
    * — ONE definition so quantizeInt8 and ivfTopKSq8 cannot drift.
    */
  private def int8Codes(v: Column): Column = {
    val amax = array_max(transform(v, x => abs(x)))
    when(amax === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => round(x / (amax / 127.0), 0).cast("long")))
  }

  // --------------------------------------------------- product quantization

  /** Product-quantization encode + asymmetric-distance scoring — the third
    * FAISS-style compression tier next to IVF (coarse cells, `ivfTopK`) and
    * SQ8 (`quantizeInt8`): the vector is split into `m` sub-vectors, each
    * quantized independently to its nearest codebook centroid, so a
    * d-float vector compresses to m small ints (m·log2 k bits — 64 floats
    * → 4 bytes here) while distances remain computable WITHOUT
    * decompression: ADC (asymmetric distance computation) sums, per
    * subspace, the exact distance from the query's sub-vector to the
    * CENTROID the code names.
    *
    * Scale shape: the codebook (k·d floats) is a one-row broadcast; encode
    * is a pure per-row projection (m·k bounded sub-distance evaluations
    * inside codegen — no shuffle, no UDF), so encoding 10^11 vectors is
    * scan-bound and the stored index is ~25× smaller than the raw floats.
    * At query time a real deployment would precompute the m·k table of
    * query-to-centroid sub-distances once and look codes up in it; here the
    * per-row ADC recomputes it inline (k=16 — the table IS the loop).
    *
    * Portability: sub-distances are left-to-right double folds over the
    * same element order in both engines, argmin compares the 6-rounded
    * distance with the centroid id as tiebreak, and the codebook derives
    * from the data by a deterministic rule the oracle replays — no trained
    * k-means state crosses engines.
    *
    * `centroids`: (cid int ascending 0..k−1, centroid array) — same
    * contract as `ivfTopK`'s cells.
    */
  def pqEncodeAdc(emb: DataFrame, centroids: DataFrame, probeId: Long,
                  m: Int = 4, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(m > 0, "m must be positive")
    val cents = pqCodebook(centroids)
    val probe = emb.filter(col(idCol) === probeId)
      .select(col(vecCol).cast("array<double>").as("__p"))
    val enc = emb
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .crossJoin(broadcast(cents))
      .crossJoin(broadcast(probe))
      .withColumn("__sub", pqSubLen(col("__v"), m, "pqEncodeAdc"))
      .withColumn("__codes", pqCodes(col("__v"), col("__cents"), m, col("__sub")))
    enc.select(
      (Seq(col(idCol)) ++
        (0 until m).map(j => element_at(col("__codes"), j + 1).as(s"c$j")) :+
        round(pqAdc(col("__p"), col("__cents"), col("__codes"), m,
          col("__sub")), 6).as("adc_dist")): _*)
  }

  /** IVF-PQ search — the production FAISS composition: the coarse IVF
    * layer prunes the corpus to the query's nProbe nearest cells (same
    * cosine routing + assignment as [[ivfTopK]]), and candidates are
    * scored by PQ asymmetric distance against their m-subspace codes
    * instead of their raw floats. At corpus scale the searched state is
    * cells × codes: the cell join prunes partitions, the codebook is a
    * one-row broadcast, and ADC reads m small ints per candidate — the
    * raw vectors never leave their executors. (This tier encodes RAW
    * vectors; classic IVF-PQ encodes residuals v − cell_centroid for
    * tighter quantization — same machinery, one extra subtraction, left
    * as the documented refinement.) ADC distances are rounded to 6
    * BEFORE the (distance, id) ranking so the selected top-k is
    * cross-engine deterministic.
    */
  def ivfPqTopK(emb: DataFrame, cellCentroids: DataFrame, codebook: DataFrame,
                queryId: Long, k: Int, nProbe: Int = 2, m: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0, "m must be positive")
    val cells = assignCells(emb, cellCentroids, vecCol, idCol)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"),
        col(vecCol).cast("array<double>").as("__p"))
    val qCells = nearestCells(cellCentroids, q.select(col("__qvec")), nProbe)
    val cands = cells.join(broadcast(qCells), "cell_id")
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .crossJoin(broadcast(q.select(col("__p"))))
    pqAdcRank(cands, "__v", "__p", codebook, m, k, idCol, "ivfPqTopK")
  }

  /** The shared PQ score-and-rank tail — encode the candidate's vector
    * column, ADC against its reference column, round BEFORE the
    * (distance, id) ranking — ONE definition for both PQ search tiers so
    * the scoring/rounding/tiebreak rules cannot drift (the nearestCells
    * discipline, applied to scoring).
    */
  private def pqAdcRank(cands: DataFrame, vecCol: String, refCol: String,
                        codebook: DataFrame, m: Int, k: Int, idCol: String,
                        who: String): DataFrame =
    cands.crossJoin(broadcast(pqCodebook(codebook)))
      .withColumn("__sub", pqSubLen(col(vecCol), m, who))
      .withColumn("__codes",
        pqCodes(col(vecCol), col("__cents"), m, col("__sub")))
      .select(col(idCol),
        round(pqAdc(col(refCol), col("__cents"), col("__codes"), m,
          col("__sub")), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)

  /** Per-vector IVF residual: r = v − centroid(assignedCell(v)) — the
    * quantity classic IVF-PQ encodes (residuals cluster tightly around
    * zero, so a fixed-size codebook quantizes them with far less error
    * than raw vectors). That premise holds iff the centroids actually
    * approximate the data: with representative (k-means-style) centroids
    * on clustered data, E‖r‖² ≪ E‖v‖² and residual codes rank measurably
    * closer to exact search (SimilaritySpec pins both); with arbitrary
    * centroids on uniform unit-sphere data the subtraction GROWS the
    * vector (random unit vectors are near-orthogonal — measured
    * E‖r‖² ≈ 1.67 vs E‖v‖² = 1.0 on the test corpus) and the refinement
    * buys nothing. One explicitly-broadcast equi-join on cell_id against
    * the k-row centroid table; the subtraction is elementwise IEEE
    * double, bit-identical cross-engine.
    */
  def cellResiduals(emb: DataFrame, cellCentroids: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    assignCells(emb, cellCentroids, vecCol, idCol)
      .join(broadcast(cellCentroids.select(col("cell_id"),
        col("centroid").cast("array<double>").as("__cc"))), "cell_id")
      .select(col(idCol), col("cell_id"),
        zip_with(col(vecCol).cast("array<double>"), col("__cc"),
          (a, b) => a - b).as("residual"))

  /** Residual IVF-PQ search — the classic FAISS encoding ([[ivfPqTopK]]
    * codes raw vectors; this tier codes [[cellResiduals]]): candidates'
    * residual codes are ADC-scored against the QUERY'S RESIDUAL IN THE
    * CANDIDATE'S CELL (r_q = q − cell_centroid), so
    * ‖q − (cell_centroid + code_centroid)‖² = ‖r_q − code_centroid‖²
    * decomposes exactly. The per-probed-cell query residuals are an
    * nProbe-row broadcast; everything else is the shared PQ machinery.
    * `codebook` must hold RESIDUAL-space centroids (cid 0..k−1, validated
    * by [[pqCodebook]]).
    */
  def ivfPqResidualTopK(emb: DataFrame, cellCentroids: DataFrame,
                        codebook: DataFrame, queryId: Long, k: Int,
                        nProbe: Int = 2, m: Int = 4,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        residuals: Option[DataFrame] = None): DataFrame = {
    require(m > 0, "m must be positive")
    // callers that already materialized cellResiduals (e.g. to derive the
    // codebook from the same relation) pass it in — otherwise the corpus
    // residual subtree would be built twice in one plan
    val resid = residuals.getOrElse(
      cellResiduals(emb, cellCentroids, idCol, vecCol))
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    val qCells = nearestCells(cellCentroids, q, nProbe)
    val qRes = cellCentroids.join(qCells, "cell_id")
      .crossJoin(broadcast(q))
      .select(col("cell_id"),
        zip_with(col("__qvec").cast("array<double>"),
          col("centroid").cast("array<double>"), (a, b) => a - b).as("__qr"))
    val cands = resid.join(broadcast(qCells), "cell_id")
      .filter(col(idCol) =!= queryId)
      .join(broadcast(qRes), "cell_id")
    pqAdcRank(cands, "residual", "__qr", codebook, m, k, idCol,
      "ivfPqResidualTopK")
  }

  // --------------------------------------------- persisted IVF-PQ index

  /** Persist the IVF-PQ index — the missing lifecycle tier that made
    * [[ivfPqTopK]]/[[ivfPqResidualTopK]] recompute cell assignment and
    * codebook per query. A production ANN deployment searches a PREBUILT
    * coded index: this writes, under `path`,
    *
    *   - `codes/`     — (id, codes) PARTITIONED BY cell_id: the m
    *                    subspace codes per vector (the only corpus-sized
    *                    relation; ~25× smaller than the raw floats), laid
    *                    out so a probe reads only its nProbe cells'
    *                    directories;
    *   - `centroids/` — the k-row coarse-cell table (routing + residual
    *                    reconstruction);
    *   - `codebook/`  — the PQ codebook the codes were quantized with
    *                    (validated 0..k−1 at build; storing it makes the
    *                    index self-contained — search can never score
    *                    against a drifted codebook);
    *   - `meta/`      — one row (m, residual): the index is
    *                    self-describing, so the search tier cannot be
    *                    called with mismatched encode parameters.
    *
    * `residual = true` encodes [[cellResiduals]] (v − cell_centroid) —
    * classic FAISS IVF-PQ — in which case `codebook` must hold
    * residual-space centroids. Encode cost (corpus assign + codegen'd
    * argmin projection) is paid ONCE here, never at query time.
    */
  def buildIvfPqIndex(emb: DataFrame, cellCentroids: DataFrame,
                      codebook: DataFrame, path: String, m: Int = 4,
                      residual: Boolean = false,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    require(m > 0, "m must be positive")
    val codes = encodeCodes(emb, cellCentroids, codebook, m, residual,
      idCol, vecCol, "buildIvfPqIndex")
    // one file per cell, not tasks×cells — same rationale as buildIvfIndex
    graft.io.IO.writeDir(codes.repartition(col("cell_id")), s"$path/codes",
      partitionBy = Seq("cell_id"))
    graft.io.IO.writeDir(cellCentroids.select(col("cell_id"),
      col("centroid").cast("array<double>").as("centroid")), s"$path/centroids")
    graft.io.IO.writeDir(codebook.select(col("cid").cast("int").as("cid"),
      col("centroid").cast("array<double>").as("centroid")), s"$path/codebook")
    val spark = emb.sparkSession
    import spark.implicits._
    graft.io.IO.writeDir(Seq((m, residual)).toDF("m", "residual"), s"$path/meta")
  }

  /** assign → (optionally residual-ize) → PQ-encode: the ONE encode
    * definition for the index build and the incremental append, so stored
    * codes cannot drift between the two write paths.
    */
  private def encodeCodes(emb: DataFrame, cellCentroids: DataFrame,
                          codebook: DataFrame, m: Int, residual: Boolean,
                          idCol: String, vecCol: String,
                          who: String): DataFrame = {
    val assigned = assignCells(emb, cellCentroids, vecCol, idCol)
    val encSide =
      if (residual)
        assigned
          .join(broadcast(cellCentroids.select(col("cell_id"),
            col("centroid").cast("array<double>").as("__cc"))), "cell_id")
          .select(col(idCol), col("cell_id"),
            zip_with(col(vecCol).cast("array<double>"), col("__cc"),
              (a, b) => a - b).as("__ev"))
      else
        assigned.select(col(idCol), col("cell_id"),
          col(vecCol).cast("array<double>").as("__ev"))
    encSide
      .crossJoin(broadcast(pqCodebook(codebook)))
      .withColumn("__sub", pqSubLen(col("__ev"), m, who))
      .select(col(idCol), col("cell_id"),
        pqCodes(col("__ev"), col("__cents"), m, col("__sub")).as("codes"))
  }

  /** Incremental index maintenance: upsert a NEW batch of vectors into a
    * persisted IVF-PQ index without rebuilding it. The batch is encoded
    * against the STORED centroids and codebook (the only valid encode
    * basis — a re-derived codebook would silently mis-score every old
    * code), merged with the existing codes of the TOUCHED cells only
    * (batch ids replace their old rows — upsert, so re-appending is
    * idempotent), and those cell partitions are dynamically overwritten
    * in place. Cost ∝ batch size + touched-cell sizes, never the corpus —
    * the operational shape of a daily embedding-ingest at 100 TB
    * (same read-merge-overwrite discipline as
    * [[graft.streaming.EventStream.upsertDailyTotals]]).
    *
    * Staleness note: appending does NOT retrain centroids/codebook; as the
    * distribution drifts the quantization degrades — production pairs this
    * with a rebuild trigger on cell-size skew. That rebuild is
    * [[buildIvfPqIndex]].
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, newEmb: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val m = meta.getAs[Int]("m")
    val residual = meta.getAs[Boolean]("residual")
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val codebook = spark.read.parquet(s"$indexPath/codebook")
    // materialized: consumed by the touched-cell collect, the anti-join,
    // and the overwrite — and it must be computed BEFORE the write starts
    // rewriting the directory it logically derives nothing from (the new
    // codes never read the codes dir, but the merge below does)
    val newCodes = encodeCodes(newEmb, centroids, codebook, m, residual,
      idCol, vecCol, "appendToIvfPqIndex").localCheckpoint()
    val touched: Seq[Int] = newCodes.select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.nonEmpty) {
      val existing = spark.read.parquet(s"$indexPath/codes")
        .filter(col("cell_id").isin(touched: _*)) // partition-pruned read
        .join(newCodes.select(col(idCol)), Seq(idCol), "left_anti") // upsert
        .select(col(idCol), col("cell_id"), col("codes"))
      graft.io.IO.overwritePartitions(
        existing.unionByName(
          newCodes.select(col(idCol), col("cell_id"), col("codes"))),
        s"$indexPath/codes", Seq("cell_id"))
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(newCodes)
  }

  /** Delete ids from a persisted IVF-PQ index — the lifecycle's remove
    * operation next to build/append/compact (GDPR erasure, retracted
    * documents, hard-deleted rows). The ids' cells are found by a
    * partition-pruning-free scan of codes joined against the (small,
    * broadcast) delete set, the touched cells are collected (k ints), and
    * ONLY those cell partitions are dynamically overwritten minus the
    * deleted rows — [[appendToIvfPqIndex]]'s read-merge-overwrite with a
    * subtraction instead of a union. Centroids/codebook/meta are
    * untouched: deletion never re-encodes. Ids absent from the index are
    * a no-op (idempotent — safe to retry).
    *
    * A cell whose LAST row is deleted needs explicit handling: dynamic
    * partition overwrite only replaces partitions present in the written
    * data, so an emptied cell would silently keep its stale files — those
    * directories are FS-deleted instead.
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, deleteIds: DataFrame,
                           idCol: String = "vec_id"): Unit = {
    val ids = deleteIds.select(col(idCol)).distinct().localCheckpoint()
    val touched: Seq[Int] = spark.read.parquet(s"$indexPath/codes")
      .join(broadcast(ids), Seq(idCol), "left_semi")
      .select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.nonEmpty) {
      val remaining = spark.read.parquet(s"$indexPath/codes")
        .filter(col("cell_id").isin(touched: _*)) // partition-pruned read
        .join(broadcast(ids), Seq(idCol), "left_anti")
        .select(col(idCol), col("cell_id"), col("codes"))
        .localCheckpoint() // consumed twice: emptied-cell check + write
      val nonEmpty: Set[Int] = remaining.select("cell_id").distinct()
        .collect().map(_.getInt(0)).toSet
      if (nonEmpty.nonEmpty)
        graft.io.IO.overwritePartitions(
          remaining.filter(col("cell_id").isin(nonEmpty.toSeq: _*)),
          s"$indexPath/codes", Seq("cell_id"))
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (touched.toSet -- nonEmpty).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$indexPath/codes/cell_id=$c"), true)
      }
      org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(remaining)
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(ids)
  }

  /** Compact a persisted IVF-PQ index's codes back to one file per cell.
    * Every [[appendToIvfPqIndex]] rewrites its touched cell partitions
    * with as many files as tasks produced rows for the cell, so a
    * long-running ingest fragments the very directories the probe's
    * partition pruning is meant to make cheap (the classic small-files
    * tax: open/footer cost per file, tiny row groups, dead columnar
    * compression). One shuffle keyed on the partition column → each cell
    * lands in exactly one task → one file per cell directory.
    *
    * Written to a sibling staging dir and swapped in with two FS renames,
    * NOT overwritten in place — a static overwrite would delete the input
    * mid-read, and at 100 TB staging+swap is also what keeps concurrent
    * readers on a consistent snapshot (they hold the old file listing).
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): Unit =
    compactPartitionedDir(spark, s"$indexPath/codes")

  /** [[compactIvfPqIndex]] for the FLAT index ([[buildIvfIndex]], whose
    * partitioned directory is the index path itself) — same fragmenting
    * appends, same one-file-per-cell remedy.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Unit =
    compactPartitionedDir(spark, indexPath)

  /** The shared staging + rename-swap compaction over any
    * cell_id-partitioned directory (see [[compactIvfPqIndex]]'s scaladoc
    * for why never overwrite-in-place).
    */
  private def compactPartitionedDir(spark: org.apache.spark.sql.SparkSession,
                                    src: String): Unit = {
    val staging = s"${src}_compacting"
    val retired = s"${src}_retired"
    graft.io.IO.writeDir(
      spark.read.parquet(src).repartition(col("cell_id")),
      staging, partitionBy = Seq("cell_id"))
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcP = new org.apache.hadoop.fs.Path(src)
    val stagingP = new org.apache.hadoop.fs.Path(staging)
    val retiredP = new org.apache.hadoop.fs.Path(retired)
    fs.delete(retiredP, true)
    if (!fs.rename(srcP, retiredP) || !fs.rename(stagingP, srcP))
      throw new java.io.IOException(
        s"compactPartitionedDir: swap failed for $src — data may be at " +
          s"$retired (old) / $staging (new); resolve manually")
    fs.delete(retiredP, true)
  }

  /** [[buildIvfPqIndex]] unless THIS SparkSession already built `path` —
    * the same session-scoped RuntimeConfig skip (and the same staleness /
    * race rationale) as [[ensureIvfIndex]]. Returns true iff the build ran.
    */
  def ensureIvfPqIndex(emb: DataFrame, cellCentroids: DataFrame,
                       codebook: DataFrame, path: String, m: Int = 4,
                       residual: Boolean = false,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Boolean =
    Similarity.synchronized {
      val conf = emb.sparkSession.conf
      val key = s"graft.internal.ivfPqBuilt.$path"
      if (conf.getOption(key).isDefined) false
      else {
        buildIvfPqIndex(emb, cellCentroids, codebook, path, m, residual,
          idCol, vecCol)
        conf.set(key, "true")
        true
      }
    }

  /** [[ivfPqTopK]]/[[ivfPqResidualTopK]] against the PERSISTED index:
    * identical semantics (same routing, same ADC, same round-before-rank),
    * but NOTHING corpus-sized is recomputed — the query's nProbe cells are
    * collected first (nProbe ints), so the codes scan is statically
    * partition-pruned to those directories, the codebook/centroids are
    * tiny index-side reads, and ADC scores the STORED codes (no
    * re-encode). The only touch of `emb` is the 1-row query lookup.
    * m and the raw-vs-residual encoding come from the index's own meta.
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, emb: DataFrame, queryId: Long,
                       k: Int, nProbe: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val m = meta.getAs[Int]("m")
    val residual = meta.getAs[Boolean]("residual")
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("__p"))
    val probeCells: Seq[Int] = nearestCells(centroids, q, nProbe)
      .collect().toSeq.map(_.getInt(0))
    val codes = spark.read.parquet(s"$indexPath/codes")
      .filter(col("cell_id").isin(probeCells: _*)) // static partition pruning
      .filter(col(idCol) =!= queryId)
    val cb = pqCodebook(spark.read.parquet(s"$indexPath/codebook"))
    // the ADC reference: the query itself (raw codes), or the query's
    // residual in each probed cell (residual codes) — an nProbe-row
    // broadcast, exactly ivfPqResidualTopK's decomposition
    val ref =
      if (residual)
        codes.join(broadcast(
          centroids.filter(col("cell_id").isin(probeCells: _*))
            .crossJoin(broadcast(q))
            .select(col("cell_id"),
              zip_with(col("__p"), col("centroid"), (a, b) => a - b)
                .as("__ref"))), "cell_id")
      else
        codes.crossJoin(broadcast(q.select(col("__p").as("__ref"))))
    ref.crossJoin(broadcast(cb))
      .withColumn("__sub", pqSubLen(col("__ref"), m, "ivfPqTopKIndexed"))
      .select(col(idCol),
        round(pqAdc(col("__ref"), col("__cents"), col("codes"), m,
          col("__sub")), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** Two-stage refined search (FAISS's refine wrapper): PQ-rank the
    * probed cells' STORED codes to a `rerank`-sized shortlist
    * ([[ivfPqTopKIndexed]]), fetch only the shortlist's raw vectors, and
    * exact-cosine re-rank to the final k. ADC over 4-byte codes is a
    * lossy surrogate; re-ranking a small shortlist against raw floats
    * recovers near-exact recall while corpus-scale scoring stays in the
    * compressed domain.
    *
    * The raw-vector fetch is a broadcast semi-join on id — a
    * column-pruned scan of the raw relation with no shuffle; with the raw
    * table bucketed/partitioned by id it becomes a pruned point fetch.
    * Either way only `rerank` rows' vectors reach the re-rank, and the
    * re-rank itself is a rerank-row TakeOrdered. Rank discipline is the
    * house rule end-to-end: shortlist by (round-6 adc, id), final by
    * (round-6 cosine desc, id).
    */
  def ivfPqTopKRefined(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, emb: DataFrame, queryId: Long,
                       k: Int, rerank: Int = 50, nProbe: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val shortlist = ivfPqTopKIndexed(spark, indexPath, emb, queryId,
      k = rerank, nProbe = nProbe, idCol = idCol, vecCol = vecCol)
      .select(col(idCol))
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("__p"))
    emb.join(broadcast(shortlist), Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosineSimilarity(col(vecCol), col("__p")), 6).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batch PQ search over the PERSISTED index ([[buildIvfPqIndex]]):
    * [[ivfTopKBatch]]'s one-pass shape applied to stored codes. All
    * probes route together (distributed — no driver collect of probe
    * cells, so no static partition pruning; instead the cell_id equi-join
    * against the broadcast routing table prunes dynamically), and the ADC
    * reference per (probe, cell) — the probe vector raw, or the probe's
    * residual in that cell — is carried ON the routing table, so the
    * residual decomposition costs one zip_with over Q·nProbe broadcast
    * rows. One scan of the codes, one equi-join, GroupedTopK finish.
    */
  def ivfPqTopKBatch(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, emb: DataFrame, probeFilter: Column,
                     k: Int, nProbe: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val m = meta.getAs[Int]("m")
    val residual = meta.getAs[Boolean]("residual")
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val probes = emb.filter(probeFilter)
      .select(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("__pv"))
    val routed = probes
      .crossJoin(broadcast(centroids.select(col("cell_id"), col("centroid"))))
      .select(col("probe_id"), col("__pv"), col("cell_id"), col("centroid"),
        round(cosineSimilarity(col("centroid"), col("__pv")), 6).as("__csim"))
    val probeCells = graft.plans.TopK.perGroup(routed, Seq("probe_id"),
      Seq(("__csim", true), ("cell_id", false)), nProbe)
      .select(col("probe_id"), col("cell_id"),
        (if (residual) zip_with(col("__pv"), col("centroid"), (a, b) => a - b)
         else col("__pv")).as("__ref"))
    val codes = spark.read.parquet(s"$indexPath/codes")
    val cb = pqCodebook(spark.read.parquet(s"$indexPath/codebook"))
    val scored = codes.join(broadcast(probeCells), Seq("cell_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .crossJoin(broadcast(cb))
      .withColumn("__sub", pqSubLen(col("__ref"), m, "ivfPqTopKBatch"))
      .select(col("probe_id"), col(idCol),
        round(pqAdc(col("__ref"), col("__cents"), col("codes"), m,
          col("__sub")), 6).as("adc_dist"))
    graft.plans.TopK.perGroup(scored, Seq("probe_id"),
      Seq(("adc_dist", false), (idCol, false)), k)
  }

  /** Batch two-stage refined search: [[ivfPqTopKBatch]] shortlists every
    * probe from stored codes in ONE pass, then a single exact-cosine
    * re-rank joins the shortlists' raw vectors — Q·rerank pairs, never
    * Q·corpus — and GroupedTopK finishes per probe. The raw relation is
    * touched once, semi-joined to the distinct shortlist ids (the
    * [[ivfPqTopKRefined]] fetch discipline, batched). This completes the
    * tier grid: (flat | PQ) × (single | batch) × (inline | indexed), each
    * PQ tier optionally refined.
    */
  def ivfPqTopKBatchRefined(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, emb: DataFrame,
                            probeFilter: Column, k: Int, rerank: Int = 20,
                            nProbe: Int = 2, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val shortlist = ivfPqTopKBatch(spark, indexPath, emb, probeFilter,
      k = rerank, nProbe = nProbe, idCol = idCol, vecCol = vecCol)
      .select(col("probe_id"), col(idCol))
    val candVecs = emb
      .join(broadcast(shortlist.select(col(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
    val probes = emb.filter(probeFilter)
      .select(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("__pv"))
    val rr = shortlist
      .join(candVecs, Seq(idCol))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col(idCol),
        round(cosineSimilarity(col("__cv"), col("__pv")), 6).as("sim"))
    graft.plans.TopK.perGroup(rr, Seq("probe_id"),
      Seq(("sim", true), (idCol, false)), k)
  }

  /** Cell-size statistics for a persisted index's codes — the staleness
    * diagnostic [[appendToIvfPqIndex]]'s drift caveat calls for: appends
    * never retrain centroids, so distribution drift shows up as cell-size
    * skew. One scan of the codes (map-side-combinable count per cell), a
    * 1-row median broadcast back; alert/rebuild when max ratio_to_median
    * crosses a policy threshold. Works on flat ([[buildIvfIndex]]) and PQ
    * ([[buildIvfPqIndex]] — pass `path/codes`) indexes alike.
    */
  def indexCellStats(spark: org.apache.spark.sql.SparkSession,
                     codesPath: String): DataFrame = {
    val counts = spark.read.parquet(codesPath)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
    val med = counts.agg(
      expr("percentile(n, 0.5D)").as("__med"))
    counts.crossJoin(broadcast(med))
      .select(col("cell_id"), col("n"),
        round(col("n") / col("__med"), 4).as("ratio_to_median"))
  }

  /** Streaming-capable 1-NN against a STATIC cell-partitioned index — the
    * online-retrieval shape (an embedding service answering probes as
    * they arrive), expressed so every stage is legal on an unbounded
    * stream:
    *
    *   - the k-row centroid table arrives driver-side (broadcast-sized by
    *     construction) and compiles to a LITERAL codegen'd argmax, so
    *     probe routing is a map-only projection on the stream — no
    *     distributed top-k on the stream side;
    *   - candidates come from a stream-static equi-join on cell_id
    *     (stateless; the static index side is partition-pruned by the
    *     join per micro-batch);
    *   - the per-probe argmax is one aggregation (max over
    *     (sim, -id) structs — [[nearestNeighbor]]'s trick), which
    *     streaming runs in update mode.
    *
    * nProbe=1 / k=1 is deliberate: it keeps the streaming tier fully
    * stateless-shuffle shaped. Larger k/nProbe belong to the batch tiers.
    * Same round-to-6 routing discipline as [[nearestCells]]. Works
    * identically on batch frames (StreamingSpec pins stream == batch).
    */
  def nearest1NNRouted(probes: DataFrame, index: DataFrame,
                       centroids: Seq[(Int, Seq[Double])],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val pv = col(vecCol).cast("array<double>")
    // literal argmax: greatest over (rounded sim, -cell_id) structs ==
    // sim desc, cell_id asc — nearestCells' exact ordering
    val best = greatest(centroids.map { case (cid, c) =>
      struct(
        round(cosineSimilarity(pv, array(c.map(lit): _*)), 6).as("s"),
        lit(-cid.toLong).as("negc"))
    }: _*)
    val routed = probes.select(col(idCol).as("probe_id"), pv.as("__pv"),
      (-best.getField("negc")).cast("int").as("cell_id"))
    val scored = routed.join(index, Seq("cell_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"),
        col(idCol).as("neighbor_id"),
        cosineSimilarity(col(vecCol).cast("array<double>"), col("__pv"))
          .as("sim"))
    scored.groupBy(col("probe_id"))
      .agg(max(struct(col("sim"), (-col("neighbor_id")).as("negid"))).as("__b"))
      .select(col("probe_id"), (-col("__b.negid")).as("neighbor_id"),
        col("__b.sim").as("sim"))
  }

  /** Maximal-Marginal-Relevance diverse top-k (Carbonell & Goldstein
    * 1998): greedily select `k` results maximizing
    * λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s) — the standard
    * retrieval-diversification primitive (λ = 1 is plain top-k; lower λ
    * penalizes redundancy with what is already picked). Returns
    * (pick, idCol, mmr_score) with pick = 1..k in selection order.
    *
    * Scale shape: the candidate pool is the `poolSize` most query-similar
    * vectors — one distributed TakeOrderedAndProject over the corpus, the
    * only pass that sees corpus-scale data. MMR itself is inherently
    * sequential (pick i depends on picks 1..i−1), so the k rounds run as
    * k tiny jobs over the checkpointed pool, each collecting exactly ONE
    * row (the argmax); selected vectors re-enter as literal arrays. Keep
    * poolSize modest (10²–10⁵) — it bounds every per-round job.
    *
    * Determinism: the pool ranks on round-6 cosine with id tiebreak (the
    * nearestCells discipline), every pairwise penalty sim is rounded to 6
    * before the max, and the final score is rounded to 6 before the
    * argmax — the oracle ([[SparkEntry]] q137) replays the identical
    * greedy unrolled.
    */
  def mmrSelect(emb: DataFrame, queryId: Long, k: Int, lambda: Double = 0.7,
                poolSize: Int = 40, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need 1 <= k ($k) <= poolSize ($poolSize)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda ($lambda) must be in [0,1]")
    val spark = emb.sparkSession
    val release = org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("__qvec"))
    val pool = emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"),
        round(cosineSimilarity(col(vecCol), col("__qvec")), 6).as("__simq"))
      .orderBy(desc("__simq"), col(idCol))
      .limit(poolSize)
      .localCheckpoint()
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double], Double)]
    for (_ <- 1 to k) {
      val penalty =
        if (selected.isEmpty) lit(0.0)
        else {
          val sims = selected.map { case (_, v, _) =>
            round(cosineSimilarity(col("__v"), array(v.map(lit).toSeq: _*)), 6)
          }.toSeq
          if (sims.length == 1) sims.head else greatest(sims: _*)
        }
      val notPicked = selected.map(_._1).foldLeft(lit(true).as("c")) {
        (acc, id) => acc && col(idCol) =!= id
      }
      val rows = pool.filter(notPicked)
        .select(col(idCol), col("__v"),
          round(lit(lambda) * col("__simq") - lit(1.0 - lambda) * penalty, 6)
            .as("__score"))
        .orderBy(desc("__score"), col(idCol))
        .limit(1)
        .collect()
      // the pool can hold fewer than poolSize rows on a small corpus —
      // running dry mid-selection must fail loudly, not IndexOutOfBounds
      require(rows.nonEmpty, s"mmrSelect: candidate pool exhausted after " +
        s"${selected.size} of $k picks (corpus smaller than poolSize?)")
      val row = rows(0)
      selected += ((row.getLong(0), row.getSeq[Double](1), row.getDouble(2)))
    }
    release(pool)
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1, id, s) }.toSeq
      .toDF("pick", idCol, "mmr_score")
  }

  /** The query's nProbe nearest cells by cosine, id tiebreak — the ONE
    * routing definition every IVF tier (flat, SQ8, indexed, PQ) goes
    * through so the probe rule cannot drift between tiers. `q` must be a
    * 1-row frame whose single column is the query vector.
    */
  private def nearestCells(cellCentroids: DataFrame, q: DataFrame,
                           nProbe: Int): DataFrame = {
    val qv = q.select(col(q.columns.head).as("__qv"))
    // round-before-rank: the probed cell set must be cross-engine stable
    cellCentroids.crossJoin(broadcast(qv))
      .select(col("cell_id"),
        round(cosineSimilarity(col("centroid"), col("__qv")), 6).as("__sim"))
      .orderBy(desc("__sim"), col("cell_id"))
      .limit(nProbe)
      .select("cell_id")
  }

  /** Codebook → one-row sorted struct array, VALIDATED: positional lookup
    * (element_at(cents, cid + 1) in [[pqAdc]]) silently scores against the
    * wrong centroid — or null, which ascending sort ranks FIRST — if cids
    * are gapped or duplicated, so a codebook whose cids are not exactly
    * distinct 0..k−1 fails the query loudly instead.
    */
  private def pqCodebook(codebook: DataFrame): DataFrame =
    codebook
      .select(col("cid").cast("int").as("cid"),
        col("centroid").cast("array<double>").as("c"))
      .agg(sort_array(collect_list(struct(col("cid"), col("c")))).as("__raw"),
        min(col("cid")).as("__mn"), max(col("cid")).as("__mx"),
        count(lit(1)).as("__k"), countDistinct(col("cid")).as("__kd"))
      .select(
        when(col("__mn") === 0 && col("__mx") === col("__k") - 1 &&
            col("__kd") === col("__k"), col("__raw"))
          .otherwise(raise_error(concat(
            lit("PQ codebook cids must be distinct and contiguous 0..k-1, got k="),
            col("__k").cast("string"), lit(" range ["),
            col("__mn").cast("string"), lit(", "),
            col("__mx").cast("string"), lit("]")))
            .cast("array<struct<cid:int,c:array<double>>>"))
          .as("__cents"))

  /** Subspace length with the divisibility guard: a silent floor would
    * drop the last size % m dims from BOTH encode and ADC (quietly wrong
    * distances).
    */
  private def pqSubLen(v: Column, m: Int, who: String): Column =
    when(pmod(size(v), lit(m)) === 0, (size(v) / m).cast("int"))
      .otherwise(raise_error(concat(
        lit(s"$who: vector dim not divisible by m=$m, got "),
        size(v).cast("string"))).cast("int"))

  /** Per-subspace argmin codes: [distance-rounded-to-6, cid] struct min —
    * lexicographic, so the cid tiebreak is cross-engine deterministic.
    */
  private def pqCodes(v: Column, cents: Column, m: Int, sub: Column): Column =
    transform(sequence(lit(0), lit(m - 1)), j =>
      array_min(transform(cents, cc =>
        struct(
          round(subDist(v, cc.getField("c"), j, sub), 6).as("d"),
          cc.getField("cid").as("cid"))))
        .getField("cid"))

  /** ADC: exact query-to-centroid sub-distances summed over the coded
    * subspaces.
    */
  private def pqAdc(p: Column, cents: Column, codes: Column, m: Int,
                    sub: Column): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
      acc + subDist(p,
        element_at(cents, element_at(codes, j + 1) + 1).getField("c"),
        j, sub))

  /** Squared L2 between subspace j (0-based) of two double arrays; a
    * left-to-right aggregate fold so both engines sum in element order.
    */
  private def subDist(a: Column, b: Column, j: Column, sub: Column): Column =
    aggregate(
      zip_with(slice(a, j * sub + 1, sub), slice(b, j * sub + 1, sub),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  // ------------------------------------------------- hybrid rank fusion

  /** Attach a deterministic 1-based rank to an ALREADY-TOP-K result list:
    * row_number over (score desc, id asc). The single-partition window is
    * intentional and scale-free — inputs are post-limit lists (tens of
    * rows), never a corpus relation; ranking upstream of the limit is the
    * producer's job ([[cosineTopK]], `bm25Rank`). Round the score before
    * calling if it isn't already rounded — rank order must be
    * cross-engine stable.
    */
  def ranked(list: DataFrame, scoreCol: String, idCol: String): DataFrame = {
    val w = Window.orderBy(desc(scoreCol), col(idCol))
    list.select(col(idCol), row_number().over(w).cast("long").as("rnk"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval merge: each input ranking contributes 1/(k0 + rank) per id,
    * ids are scored by the sum, ties broken by id. Lists need not agree
    * on membership (an id missing from a list simply contributes
    * nothing); `n_lists` reports how many legs retrieved each id. RRF is
    * scale-invariant — it never compares raw scores across legs, which is
    * what makes fusing BM25 with cosine similarity sound.
    *
    * Scale shape: inputs are top-k lists, so everything here is
    * driver-free arithmetic over a few dozen rows; the heavy lifting
    * (corpus scans, index probes) happened in the legs. The sum is
    * rounded to 9 decimals before the final ordering (round-before-rank).
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String = "doc_id",
              k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 1, s"k0 ($k0) must be >= 1")
    val u = rankings
      .map(_.select(col(idCol), col("rnk").cast("long").as("rnk")))
      .reduce(_ unionByName _)
    u.select(col(idCol),
        (lit(1.0) / (lit(k0.toDouble) + col("rnk"))).as("__c"))
      .groupBy(col(idCol))
      .agg(round(sum("__c"), 9).as("rrf_score"),
        count(lit(1)).cast("int").as("n_lists"))
      .orderBy(desc("rrf_score"), col(idCol))
      .limit(topK)
  }

  /** Weighted min–max linear score fusion — the other standard hybrid
    * combiner next to [[rrfFuse]] (convex score combination, e.g.
    * Vogt & Cottrell 1999's linear CombSUM family, public): each leg's
    * scores min–max-normalize to [0, 1] over ITS OWN candidate list
    * (rounded to 6 — round-before-combine), scale by the leg weight,
    * and ids sum across legs (absent from a leg = 0 contribution);
    * fused score rounds to 6 BEFORE the top-k cut (round-before-rank,
    * id tiebreak). A constant-score leg normalizes to 1.0 (every
    * candidate equally best) rather than dividing by zero.
    *
    * Scale shape: per-leg min/max are broadcast 1-row scalars; the legs
    * full-outer-join on the id over candidate-list-sized relations
    * (top-k lists by construction), and the final cut is a
    * TakeOrderedAndProject — nothing corpus-sized here at all.
    */
  def linearFuse(lists: Seq[(DataFrame, String, Double)],
                 idCol: String = "doc_id", topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "linearFuse needs at least one list")
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val normed = lists.zipWithIndex.map { case ((df, sc, w), i) =>
      val b = df.select(col(idCol), col(sc).cast("double").as("__s"))
      val mm = b.agg(min(col("__s")).as("__lo"), max(col("__s")).as("__hi"))
      b.crossJoin(broadcast(mm))
        .select(col(idCol),
          (lit(w) * when(col("__hi") === col("__lo"), lit(1.0))
            .otherwise(round((col("__s") - col("__lo")) /
              (col("__hi") - col("__lo")), 6))).as(s"__w$i"))
    }
    val joined = normed.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    joined
      .select(col(idCol),
        round(normed.indices.map(i => coalesce(col(s"__w$i"), lit(0.0)))
          .reduce(_ + _), 6).as("fused_score"))
      .orderBy(desc("fused_score"), col(idCol))
      .limit(topK)
  }

  /** Hard-negative mining for contrastive training: for each probe, the
    * top-k most-similar corpus vectors with a DIFFERENT label — the
    * "closest wrong answers" a metric-learning batch wants. Same
    * broadcast-probe scoring shape as [[nearestNeighbor]] (one corpus
    * scan, per-pair work = one codegen'd dot product) with the label
    * inequality fused into the scored join, finished by the
    * bounded-buffer GroupedTopK operator (no per-probe sort).
    * Similarities are rounded to 6 BEFORE ranking so an independent
    * engine ranks identically (NOTES_r3 discipline). For probe sets past
    * broadcast size, the [[nearestNeighborBlocked]] grid applies
    * unchanged — the label filter rides the scoring join either way.
    */
  def hardNegatives(emb: DataFrame, probeFilter: Column, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k > 0, "k must be positive")
    val withNorm = emb.select(col(idCol), col(labelCol),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
    val probes = withNorm.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col(labelCol).as("probe_label"),
        col("__v").as("__pv"), col("__n").as("__pn"))
    val scored = withNorm
      .crossJoin(broadcast(probes))
      .filter(col(labelCol) =!= col("probe_label"))
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label"),
        round(dotProduct(col("__v"), col("__pv")) /
          (col("__n") * col("__pn")), 6).as("sim"))
    graft.plans.TopK.perGroup(scored, Seq("probe_id"),
      Seq(("sim", true), ("neighbor_id", false)), k)
  }

  /** Per-label centroid drift between two corpus slices (e.g. last
    * month's embeddings vs this month's): the cosine between each
    * label's slice centroids — the semantic-drift complement of q132's
    * categorical drift monitor (a label whose centroid rotated is a
    * label whose meaning, or whose upstream encoder, changed).
    *
    * Scale shape: ONE pass over the vectors (posexplode to (label,
    * slice, dim) — map-side-combinable avg, 2·|labels|·dim rows out);
    * the cosine then runs on the label-keyed centroid relation (tiny).
    * Raw vectors never shuffle — only per-dimension partial sums do.
    * Component averages are doubles; the final cosine is rounded to 6
    * (the reassociation drift class the suite's rounding absorbs).
    */
  def labelCentroidDrift(emb: DataFrame, sliceA: Column, sliceB: Column,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         labelCol: String = "label"): DataFrame = {
    val sliced = emb.select(col(labelCol),
        when(sliceA, lit("a")).when(sliceB, lit("b")).as("__s"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__s").isNotNull)
    val comps = sliced
      .select(col(labelCol), col("__s"),
        posexplode(col("__v")).as(Seq("__p", "__x")))
      .groupBy(col(labelCol), col("__s"), col("__p"))
      .agg(avg(col("__x")).as("__c"))
    val a = comps.filter(col("__s") === "a")
      .select(col(labelCol), col("__p"), col("__c").as("__ca"))
    val b = comps.filter(col("__s") === "b")
      .select(col(labelCol), col("__p"), col("__c").as("__cb"))
    val cos = a.join(b, Seq(labelCol, "__p"))
      .groupBy(col(labelCol))
      .agg(sum(col("__ca") * col("__cb")).as("__ab"),
        sum(col("__ca") * col("__ca")).as("__aa"),
        sum(col("__cb") * col("__cb")).as("__bb"))
    val counts = sliced.groupBy(col(labelCol))
      .agg(sum(when(col("__s") === "a", lit(1L)).otherwise(lit(0L)))
        .as("n_a"),
        sum(when(col("__s") === "b", lit(1L)).otherwise(lit(0L)))
          .as("n_b"))
    cos.join(counts, labelCol)
      .select(col(labelCol), col("n_a"), col("n_b"),
        round(col("__ab") / (sqrt(col("__aa")) * sqrt(col("__bb"))), 6)
          .as("drift_cos"))
  }

  /** Mutual-kNN edges: (a, b) is kept iff b is in a's top-k cosine
    * neighbors AND a is in b's — the reciprocal filter that turns a kNN
    * graph into the high-precision edge set semantic clustering wants
    * (hub vectors stop absorbing everything: a hub may be in thousands of
    * top-k lists, but its OWN list only reciprocates k of them).
    *
    * Scale shape: scoring is the exact block-partitioned tier (each of
    * the blocks·(blocks+1)/2 block pairs scores independently — Σ|work|
    * spreads over the cluster and each undirected pair is computed ONCE,
    * then emitted in both directions). Per-vector top-k runs on the
    * bounded-heap GroupedTopK operator, and the reciprocal check is a
    * self-join of two (N·k)-row id/sim relations — vectors never shuffle
    * past the scoring stage. At corpus scale the drop-in upgrade is IVF
    * candidate generation (assignCells → score within probed cells, the
    * q124 shape) feeding the SAME top-k + reciprocal tail; the exact tier
    * here is also the recall oracle for that upgrade.
    * Round-before-rank: sims round to 6 before the top-k cut so a 1-ulp
    * engine divergence cannot flip the k-th neighbor.
    */
  /** Per-label mislabel candidates: the k vectors LEAST similar to their
    * own label's centroid — the label-noise audit run before training a
    * classifier on weak labels (a vector far from its label centroid is
    * either mislabeled or an genuine outlier; both deserve review).
    *
    * Scale shape: centroids come from ONE posexplode pass (map-side-
    * combinable per-(label, dim) avg — raw vectors never shuffle), are
    * reassembled into per-label arrays on a |labels|-sized relation, and
    * re-enter as a broadcast join; per-vector cosines are then a map-only
    * in-order fold (dotProduct — the q22-proven bit-exact order), and the
    * bottom-k finish is the bounded-heap GroupedTopK. Round-before-rank
    * on the cosine.
    */
  def labelOutliers(emb: DataFrame, k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k > 0, "k must be positive")
    val v = emb.select(col(idCol), col(labelCol),
      col(vecCol).cast("array<double>").as("__v"))
    val cents = v
      .select(col(labelCol), posexplode(col("__v")).as(Seq("__p", "__x")))
      .groupBy(col(labelCol), col("__p"))
      .agg(avg(col("__x")).as("__c"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("__p"), col("__c"))))
        .as("__pc"))
      .select(col(labelCol),
        transform(col("__pc"), x => x.getField("__c")).as("__cv"))
    val scored = v.join(broadcast(cents), labelCol)
      .select(col(idCol), col(labelCol),
        round(dotProduct(col("__v"), col("__cv")) /
          (l2Norm(col("__v")) * l2Norm(col("__cv"))), 6).as("centroid_cos"))
    graft.plans.TopK.perGroup(scored, Seq(labelCol),
      Seq(("centroid_cos", false), (idCol, false)), k)
  }

  /** Matryoshka / truncated-dimension retrieval eval: recall@k of the
    * prefix-`prefixDim` cosine top-k against the full-dimension exact
    * top-k, per query — the operational question behind
    * matryoshka-representation embeddings (Kusupati et al. 2022, public):
    * how many trailing dimensions can an index drop before retrieval
    * quality degrades? Both lanes' sims come from ONE scoring pass
    * (full + prefix dot products per pair, each round-6 BEFORE ranking,
    * ties by id ascending), the two rank windows share one Exchange
    * (same query partitioning), and the overlap aggregates per query:
    * recall = |topk_full ∩ topk_prefix| / k.
    *
    * Scale shape: the query set is an eval SAMPLE and broadcasts; the
    * corpus is scanned once and its arrays never cross an Exchange —
    * the rank windows move only (query, id, sim, sim) scalar rows. The
    * per-query rank partition is corpus-sized, acceptable for tens of
    * eval queries; a production-sized query sweep should compare the
    * IVF tier per lane at census level instead.
    */
  def matryoshkaRecall(emb: DataFrame, queries: DataFrame, prefixDim: Int,
                       k: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(prefixDim > 0 && k > 0, "prefixDim and k must be positive")
    def prep(df: DataFrame, side: String) = {
      val v = col(vecCol).cast("array<double>")
      val p = slice(v, 1, prefixDim)
      df.select(col(idCol).as(s"__id$side"), v.as(s"__v$side"),
        p.as(s"__p$side"), l2Norm(v).as(s"__n$side"),
        l2Norm(p).as(s"__m$side"))
    }
    val scored = prep(emb, "c").crossJoin(broadcast(prep(queries, "q")))
      .filter(col("__idc") =!= col("__idq"))
      .select(col("__idq"), col("__idc"),
        round(dotProduct(col("__vc"), col("__vq")) /
          (col("__nc") * col("__nq")), 6).as("__sf"),
        round(dotProduct(col("__pc"), col("__pq")) /
          (col("__mc") * col("__mq")), 6).as("__sp"))
    val w = Window.partitionBy(col("__idq"))
    scored
      .withColumn("__rf", row_number().over(
        w.orderBy(col("__sf").desc, col("__idc"))))
      .withColumn("__rp", row_number().over(
        w.orderBy(col("__sp").desc, col("__idc"))))
      .filter(col("__rf") <= k)
      .groupBy(col("__idq").as("query_id"))
      .agg(sum(when(col("__rp") <= k, 1).otherwise(0)).cast("int")
        .as("n_overlap"))
      .select(col("query_id"), col("n_overlap"), lit(k).as("k"),
        round(col("n_overlap") / lit(k.toDouble), 6).as("recall_at_k"))
  }

  /** Sign-bit binary quantization ANN: each 64-dim embedding compresses
    * to TWO 32-bit codes (dims 1–32 / 33–64, bit i−1 set iff the dim is
    * ≥ 0) carried as BIGINTs that stay inside [0, 2³²) — deliberately
    * split so no engine's checked integer SQL has to produce the int64
    * sign bit. Search = Hamming-distance shortlist over the codes
    * (XOR + popcount — INTEGER-exact, the one ANN scoring pass that
    * needs no round-before-rank discipline) → exact cosine re-rank of
    * the `shortlist` survivors.
    *
    * Scale shape: the corpus lane scans/shuffles (id, lo, hi) only —
    * 24 bytes a vector, ~20× smaller than the float64 array — with the
    * query codes broadcast and the per-query cut a GroupedTopK (partial
    * per-partition top-k, never a corpus-per-query window sort). Raw
    * arrays are fetched once, for |queries|·shortlist survivors, by
    * broadcasting the shortlist against the corpus scan (the
    * containment-pairs fetch-once discipline): embeddings never cross
    * an Exchange. Recall follows the sign-bit agreement between Hamming
    * and cosine ordering (Charikar's SRP bound with the identity basis);
    * `shortlist` is the recall dial.
    */
  /** Sign-bit codes for a 64-dim embedding relation: (id, lo, hi) — see
    * [[binaryQuantTopK]] for the bit layout. Shared by the inline tier
    * and the persisted index (the stored codes are exactly this relation,
    * so the indexed tier is bit-equivalent by construction).
    */
  private def signCodes64(df: DataFrame, side: String, idCol: String,
                          vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    def half(off: Int) =
      aggregate(sequence(lit(1), lit(32)), lit(0L), (acc, i) =>
        acc + when(element_at(v, (i + lit(off)).cast("int")) >= 0d,
          call_function("shiftleft", lit(1L), (i - lit(1)).cast("int")))
          .otherwise(lit(0L)))
    df.select(col(idCol).as(s"__id$side"),
      half(0).as(s"__lo$side"), half(32).as(s"__hi$side"))
  }

  /** Hamming-shortlist + cosine-re-rank core over an explicit codes
    * relation (`__idc`, `__loc`, `__hic`) and its raw-vector relation —
    * the shared engine of [[binaryQuantTopK]] (codes computed inline) and
    * [[binaryQuantTopKIndexed]] (codes scanned from the stored index).
    */
  private def binaryQuantSearch(codes: DataFrame, vectors: DataFrame,
                                queries: DataFrame, shortlist: Int, k: Int,
                                idCol: String, vecCol: String): DataFrame = {
    require(shortlist >= k && k > 0, "need shortlist >= k > 0")
    val ham = codes
      .crossJoin(broadcast(signCodes64(queries, "q", idCol, vecCol)))
      .filter(col("__idc") =!= col("__idq"))
      .select(col("__idq"), col("__idc"),
        (bit_count(col("__loc").bitwiseXOR(col("__loq"))) +
          bit_count(col("__hic").bitwiseXOR(col("__hiq"))))
          .cast("int").as("hamming"))
    val short = graft.plans.TopK.perGroup(ham, Seq("__idq"),
      Seq(("hamming", false), ("__idc", false)), shortlist)
    // fetch-once re-rank: arrays appear only against the broadcast
    // shortlist, and are projected away before the final (tiny) rank cut
    val vc = vectors.select(col(idCol).as("__idc"),
      col(vecCol).cast("array<double>").as("__vc"))
    val vq = queries.select(col(idCol).as("__idq"),
      col(vecCol).cast("array<double>").as("__vq"))
    val reranked = vc.join(broadcast(short), Seq("__idc"))
      .join(broadcast(vq), Seq("__idq"))
      .select(col("__idq"), col("__idc"), col("hamming"),
        round(cosineSimilarity(col("__vc"), col("__vq")), 6).as("sim"))
    reranked
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__idq"))
          .orderBy(col("sim").desc, col("__idc"))))
      .filter(col("rank") <= k)
      .select(col("__idq").as("query_id"), col("rank"),
        col("__idc").as("vec_id"), col("hamming"), col("sim"))
  }

  def binaryQuantTopK(emb: DataFrame, queries: DataFrame, shortlist: Int,
                      k: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    binaryQuantSearch(signCodes64(emb, "c", idCol, vecCol), emb, queries,
      shortlist, k, idCol, vecCol)

  // ------------------------------------------ persisted binary-quant index

  /** Persisted binary-quantization index — the ANN family whose stored
    * state is the 24-byte/vector sign-bit codes (what a 100 TB search
    * actually scans) plus the raw vectors for the re-rank fetch:
    *
    *   - `<path>/codes` (idCol, lo, hi) — the Hamming scan lane;
    *   - `<path>/vectors` (idCol, vecCol array<double>) — re-rank side,
    *     self-contained so appends never touch the source table;
    *   - `<path>/meta` (dim) — the code layout (64 dims → 2×32 bits).
    *
    * Codes are PER-ROW state (no trained codebook), so append is exact by
    * construction — no recall drift, no retrain trigger; searches over
    * build+append are bit-equal to a fresh build (pinned). Each append
    * half is independently replay-guarded: vectors and codes both
    * anti-join their own stored ids, so a crash between the two appends
    * self-heals on replay (the missing half completes, the present half
    * no-ops) — the guard structure ADVICE-r9 asked of the near-dup twin.
    */
  def buildBinaryQuantIndex(emb: DataFrame, path: String,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    graft.io.IO.writeDir(
      emb.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol)),
      s"$path/vectors")
    graft.io.IO.writeDir(
      signCodes64(spark.read.parquet(s"$path/vectors"), "c", idCol, vecCol)
        .select(col("__idc").as(idCol), col("__loc").as("lo"),
          col("__hic").as("hi")),
      s"$path/codes")
    spark.range(1).select(lit(64).as("dim"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/meta")
  }

  /** [[buildBinaryQuantIndex]] once per (session, path) — the
    * [[ensureIvfPqIndex]] RuntimeConfig discipline.
    */
  def ensureBinaryQuantIndex(emb: DataFrame, path: String,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): Boolean =
    Similarity.synchronized {
      val conf = emb.sparkSession.conf
      val key = s"graft.internal.binQuantBuilt.$path"
      if (conf.getOption(key).isDefined) false
      else {
        buildBinaryQuantIndex(emb, path, idCol, vecCol)
        conf.set(key, "true")
        true
      }
    }

  /** The binary-quant marker over the vectors+codes pair (a crashed
    * half-append is otherwise exactly the HALF-BUILT state the
    * maintenance sweep can only detect, not repair; path-based tables,
    * so no catalog refresh needed).
    */
  private def binaryQuantMarker(spark: org.apache.spark.sql.SparkSession,
                                path: String): IndexCommit.Marker =
    IndexCommit.Marker(spark, path, Seq("vectors", "codes"))

  /** Crash recovery for an interrupted binary-quant append — the shared
    * [[IndexCommit]] marker. Every writer entry (append, delete, the
    * maintenance compaction) runs it first.
    */
  def recoverBinaryQuantIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String): Boolean =
    binaryQuantMarker(spark, path).recover()

  /** Append new vectors to the standing index — batch-cost (one code
    * computation over the batch, two appends), exact by construction
    * (per-row codes have no trained state to drift). Idempotent and
    * crash-window self-healing: EACH half anti-joins its own stored ids,
    * so replay completes whichever half is missing and no-ops the other;
    * the marker rolls a crashed half-append back at the next entry.
    */
  def appendToBinaryQuantIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String, newEmb: DataFrame,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): Unit =
    binaryQuantMarker(spark, path).guard { fenceCheck =>
    val batch = newEmb
      .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
      .localCheckpoint()
    try {
      val freshV = batch.join(
        spark.read.parquet(s"$path/vectors").select(col(idCol)),
        Seq(idCol), "left_anti")
      if (!freshV.isEmpty)
        freshV.write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$path/vectors")
      fenceCheck() // between halves: bound the stolen-writer window
      val freshC = signCodes64(batch, "c", idCol, vecCol)
        .select(col("__idc").as(idCol), col("__loc").as("lo"),
          col("__hic").as("hi"))
        .join(spark.read.parquet(s"$path/codes").select(col(idCol)),
          Seq(idCol), "left_anti")
      if (!freshC.isEmpty)
        freshC.write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$path/codes")
    } finally org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(batch)
  }

  /** GDPR delete for the binary-quant index: per-row state erases
    * EXACTLY — both tables rewrite without the ids (materialize-before-
    * overwrite), searches over the survivors are bit-equal to a fresh
    * build over them by construction. Recovers first; absent ids are a
    * no-op (no rewrite churn).
    */
  def deleteFromBinaryQuantIndex(spark: org.apache.spark.sql.SparkSession,
                                 path: String, deleteIds: DataFrame,
                                 idCol: String = "vec_id"): Unit = {
    recoverBinaryQuantIndex(spark, path)
    val del = deleteIds.select(col(idCol)).distinct().localCheckpoint()
    try {
      val present = !spark.read.parquet(s"$path/vectors")
        .join(broadcast(del), Seq(idCol), "left_semi").isEmpty
      if (present) Seq("vectors", "codes").foreach { sub =>
        graft.io.IO.rewriteDir(spark, s"$path/$sub")(
          _.join(broadcast(del), Seq(idCol), "left_anti"))
      }
    } finally org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(del)
  }

  /** [[binaryQuantTopK]] over the STORED state: the Hamming lane scans
    * the 24-byte/vector codes table in place (the raw corpus is touched
    * only for the shortlist-sized re-rank fetch). Tier-equivalent to the
    * inline tier over the same corpus — stored codes are
    * [[signCodes64]]'s own output, so results are bit-equal (pinned).
    */
  def binaryQuantTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             shortlist: Int, k: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame =
    binaryQuantSearch(
      spark.read.parquet(s"$path/codes")
        .select(col(idCol).as("__idc"), col("lo").as("__loc"),
          col("hi").as("__hic")),
      spark.read.parquet(s"$path/vectors"), queries, shortlist, k,
      idCol, vecCol)

  def mutualKnnPairs(emb: DataFrame, k: Int, blocks: Int = 32,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    mutualFromTopK(directedKnnTopK(emb, k, blocks, idCol, vecCol))

  /** The DIRECTED per-vector top-k half of [[mutualKnnPairs]] —
    * (src, dst, sim) with k rows per src, sims round-6 before the
    * (sim desc, dst asc) cut. Exposed separately because it is the
    * MERGEABLE state of the graph: the true top-k over corpus ∪ batch
    * is the re-cut of stored-top-k ∪ (src → batch) scores, which is
    * what [[appendToKnnGraphIndex]] exploits.
    */
  private[ops] def directedKnnTopK(emb: DataFrame, k: Int, blocks: Int,
                                   idCol: String,
                                   vecCol: String): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
      .withColumn("__blk", pmod(xxhash64(col(idCol)), lit(blocks)).cast("int"))
    val bp = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
      .toDF("__ba", "__bb")
    val a = v.select(col(idCol).as("__ida"), col("__v").as("__va"),
      col("__n").as("__na"), col("__blk").as("__ba"))
    val b = v.select(col(idCol).as("__idb"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("__blk").as("__bb"))
    val undirected = a.join(broadcast(bp), "__ba")
      .join(b, "__bb")
      .filter(col("__ba") < col("__bb") || col("__ida") < col("__idb"))
      .select(col("__ida"), col("__idb"),
        round(dotProduct(col("__va"), col("__vb")) /
          (col("__na") * col("__nb")), 6).as("sim"))
    val directed = undirected
      .select(col("__ida").as("src"), col("__idb").as("dst"), col("sim"))
      .union(undirected
        .select(col("__idb").as("src"), col("__ida").as("dst"), col("sim")))
    graft.plans.TopK.perGroup(directed, Seq("src"),
      Seq(("sim", true), ("dst", false)), k)
  }

  /** Reciprocal filter over a directed top-k relation — the shared tail
    * of the inline ([[mutualKnnPairs]]) and persisted
    * ([[mutualKnnPairsIndexed]]) graph tiers.
    */
  private def mutualFromTopK(topk: DataFrame): DataFrame =
    topk.alias("x")
      .join(topk.alias("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .filter(col("x.src") < col("x.dst"))
      .select(col("x.src").as("id_a"), col("x.dst").as("id_b"),
        col("x.sim").as("sim"))

  /** The corpus-scale tier of [[mutualKnnPairs]]: candidate generation by
    * IVF cells instead of all block pairs. Every vector probes its
    * `nProbe` nearest cells and scores only the vectors ASSIGNED there,
    * so per-vector work is Σ|probed cells|, not N — the same
    * candidate-bounding contract as q124's search, applied to graph
    * construction. Tail (per-vector GroupedTopK → reciprocal self-join)
    * is IDENTICAL to the exact tier, which doubles as this tier's recall
    * oracle (SimilaritySpec gates pair recall on a clustered fixture).
    * Missed edges are vectors whose true neighbor lives in an un-probed
    * cell — raise `nProbe` (or centroid count) to trade cost for recall,
    * exactly the IVF search dial.
    */
  def mutualKnnPairsIvf(emb: DataFrame, centroids: DataFrame, k: Int,
                        nProbe: Int, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        centIdCol: String = "cell_id",
                        centVecCol: String = "centroid"): DataFrame = {
    require(k > 0 && nProbe > 0, "k and nProbe must be positive")
    val corpus = assignCells(emb, centroids, vecCol, idCol, centIdCol,
        centVecCol)
      .select(col(idCol).as("__cid"),
        col(vecCol).cast("array<double>").as("__cv"), col(centIdCol))
      .withColumn("__cn", l2Norm(col("__cv")))
    val probes = emb
      .select(col(idCol).as("__pid"),
        col(vecCol).cast("array<double>").as("__pv"))
      .withColumn("__pn", l2Norm(col("__pv")))
    // cell routing shuffles (id, cell, score) triples only; the probe
    // vectors re-attach AFTER the top-nProbe cut (one N-row join) instead
    // of riding the N×|cells| scoring relation through the TopK exchange
    val probeScored = probes
      .crossJoin(broadcast(centroids.select(col(centIdCol),
        col(centVecCol).cast("array<double>").as("__ce"))))
      .select(col("__pid"), col(centIdCol),
        round(dotProduct(col("__pv"), col("__ce")) /
          (col("__pn") * l2Norm(col("__ce"))), 6).as("__cs"))
    val probed = graft.plans.TopK.perGroup(probeScored, Seq("__pid"),
      Seq(("__cs", true), (centIdCol, false)), nProbe)
      .select(col("__pid"), col(centIdCol))
    val directed = probed
      .join(probes, "__pid")
      .join(corpus, centIdCol)
      .filter(col("__cid") =!= col("__pid"))
      .select(col("__pid").as("src"), col("__cid").as("dst"),
        round(dotProduct(col("__pv"), col("__cv")) /
          (col("__pn") * col("__cn")), 6).as("sim"))
    val topk = graft.plans.TopK.perGroup(directed, Seq("src"),
      Seq(("sim", true), ("dst", false)), k)
    topk.alias("x")
      .join(topk.alias("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .filter(col("x.src") < col("x.dst"))
      .select(col("x.src").as("id_a"), col("x.dst").as("id_b"),
        col("x.sim").as("sim"))
  }

  // -------------------------------------------- persisted kNN-graph index

  /** Persisted mutual-kNN GRAPH lifecycle — the graph family's sibling of
    * the near-dup / BM25 / IVF-PQ build-once indexes, closing the one
    * index family that had no incremental path:
    *
    *   - `<path>/vectors` (idCol, vecCol as array<double>) — the scoring
    *     corpus, self-contained so appends never touch the source table;
    *   - `<path>/topk` (src, dst, sim) — the DIRECTED per-vector top-k,
    *     the graph's mergeable state ([[directedKnnTopK]]);
    *   - `<path>/meta` (k, blocks) — the build parameters.
    *
    * The payoff is [[appendToKnnGraphIndex]]: a batch of B new vectors
    * against an N-vector corpus costs O(B·(N+B)) scoring instead of the
    * O((N+B)²) full rebuild — because the true top-k of a grown corpus
    * is the re-cut of {stored top-k} ∪ {src → new-batch scores} (any
    * neighbor of the grown corpus is either an old top-k member or a new
    * vector), the classic top-k mergeability argument. Convergence is
    * pinned bit-for-bit: build(seed) + append(rest) ≡ build(all)
    * (round-6 sims + (sim desc, dst) cuts are deterministic, so merge
    * re-cuts reproduce the full compute exactly).
    */
  def buildKnnGraphIndex(emb: DataFrame, k: Int, path: String,
                         blocks: Int = 32, idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    require(k > 0 && blocks > 0, "k and blocks must be positive")
    val spark = emb.sparkSession
    graft.io.IO.writeDir(
      emb.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol)),
      s"$path/vectors")
    graft.io.IO.writeDir(
      directedKnnTopK(spark.read.parquet(s"$path/vectors"), k, blocks,
        idCol, vecCol),
      s"$path/topk")
    spark.range(1)
      .select(lit(k).as("k"), lit(blocks).as("blocks"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/meta")
  }

  /** [[buildKnnGraphIndex]] once per (session, path) — the
    * [[ensureIvfPqIndex]] RuntimeConfig discipline.
    */
  def ensureKnnGraphIndex(emb: DataFrame, k: Int, path: String,
                          blocks: Int = 32, idCol: String = "vec_id",
                          vecCol: String = "embedding"): Boolean =
    Similarity.synchronized {
      val conf = emb.sparkSession.conf
      val key = s"graft.internal.knnGraphBuilt.$path"
      if (conf.getOption(key).isDefined) false
      else {
        buildKnnGraphIndex(emb, k, path, blocks, idCol, vecCol)
        conf.set(key, "true")
        true
      }
    }

  /** Grow the standing graph with a batch of NEW vectors — batch-cost
    * (see [[buildKnnGraphIndex]]): one scoring pass batch × (stored ∪
    * batch) with the batch broadcast, then (a) the batch vectors' own
    * top-k from their side of the scores, (b) every stored vector's list
    * re-cut from {its stored top-k} ∪ {its scores to the batch}. Both
    * stored relations rewrite via the materialize-before-overwrite
    * discipline; the vectors table just appends. IDEMPOTENT under batch
    * replay: ids already indexed are anti-joined away first, and an
    * all-replayed batch writes nothing. The replay guard probes the
    * VECTORS table (appended last), and the stored top-k is additionally
    * anti-joined on src ∈ fresh ids before the merge re-cut — so a crash
    * in the window between the topk rewrite and the vectors append
    * (stored topk already carries the batch lists, vectors doesn't)
    * self-heals on replay: the batch src lists come solely from the
    * recomputed batch side, never doubled from the stored copy.
    *
    * The broadcast of the batch is the stated scale contract: appends
    * are micro-batch-sized (the ingest-loop shape), not corpus-sized —
    * a corpus-sized "append" is a rebuild and should use
    * [[buildKnnGraphIndex]].
    */
  def appendToKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, newEmb: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Unit = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val k = meta.getAs[Int]("k")
    val stored = spark.read.parquet(s"$path/vectors")
    val fresh = newEmb
      .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
      .join(stored.select(col(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    try if (!fresh.isEmpty) {
      def normed(df: DataFrame, side: String) = df.select(
        col(idCol).as(s"__id$side"),
        col(vecCol).cast("array<double>").as(s"__v$side"))
        .withColumn(s"__n$side", l2Norm(col(s"__v$side")))
      // one scoring pass: every (corpus ∪ batch) row × the broadcast
      // batch — covers batch→all (take a-side = batch rows' transpose)
      // and old→batch (a-side = stored rows) in the same relation
      val scored = normed(stored.unionByName(fresh), "a")
        .crossJoin(broadcast(normed(fresh, "b")))
        .filter(col("__ida") =!= col("__idb"))
        .select(col("__ida"), col("__idb"),
          round(dotProduct(col("__va"), col("__vb")) /
            (col("__na") * col("__nb")), 6).as("sim"))
        .localCheckpoint()
      try {
        val freshIds = fresh.select(col(idCol).as("__fid"))
        // batch-src lists: all of a batch vector's candidates are in the
        // scored relation (b-side transposed = batch → stored∪batch)
        val batchSrc = scored
          .select(col("__idb").as("src"), col("__ida").as("dst"), col("sim"))
        val batchTopk = graft.plans.TopK.perGroup(batchSrc, Seq("src"),
          Seq(("sim", true), ("dst", false)), k)
        // stored-src lists: stored top-k ∪ scores-to-batch, re-cut
        val oldAdd = scored
          .join(broadcast(freshIds), col("__ida") === col("__fid"),
            "left_anti") // a-side = stored rows only
          .select(col("__ida").as("src"), col("__idb").as("dst"), col("sim"))
        graft.io.IO.rewriteDir(spark, s"$path/topk") { topk =>
          // crash-window self-heal: if a prior attempt wrote topk but
          // died before the vectors append, the stored topk already
          // holds this batch's src lists — drop them so they come solely
          // from batchTopk (a no-op in the clean path: topk srcs ⊆
          // stored vector ids)
          val storedTopk = topk.join(broadcast(freshIds),
            col("src") === col("__fid"), "left_anti")
          // distinct before the cut: in the crash-replay state the
          // surviving stored lists were ALREADY re-cut against this batch
          // in attempt 1, so they overlap oldAdd row-for-row (sims are
          // round-6 deterministic) — without it a duplicated dst could
          // double inside a k-cut. Clean path: zero overlap, distinct is
          // a no-op.
          graft.plans.TopK.perGroup(
            storedTopk.unionByName(oldAdd).distinct(),
            Seq("src"), Seq(("sim", true), ("dst", false)), k)
            .unionByName(batchTopk)
        }
        fresh.write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$path/vectors")
      } finally org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(scored)
    } finally
      org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(fresh)
  }

  /** Mutual pairs from the PERSISTED graph: the reciprocal tail over the
    * stored directed top-k — nothing corpus-sized recomputed; same
    * semantics as [[mutualKnnPairs]] over the same corpus
    * (tier-equivalence, the q37/q77 discipline).
    */
  def mutualKnnPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame =
    mutualFromTopK(spark.read.parquet(s"$path/topk"))

  /** GDPR-erasure tier completing the graph lifecycle
    * (build/ensure/append/delete): remove vectors from the persisted
    * graph at BOUNDED cost. Deleting an id invalidates exactly the lists
    * that contained it as a neighbor (their k-th-best may now be a
    * vector the stored top-k dropped), so only those AFFECTED sources
    * rescore — against the remaining stored vectors, O(affected ·
    * corpus) — while every untouched list is kept verbatim. Deleted
    * sources' own lists just drop. Ids absent from the index are a no-op
    * (idempotent, safe to retry). Same materialize-before-overwrite
    * discipline as the other rewrites; pinned bit-for-bit equal to a
    * fresh build over the surviving corpus.
    */
  def deleteFromKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String, deleteIds: DataFrame,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): Unit = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val k = meta.getAs[Int]("k")
    val del = deleteIds.select(col(idCol)).distinct().localCheckpoint()
    try {
      val vectors = spark.read.parquet(s"$path/vectors")
      // ids absent from the index are a no-op — bail before any rewrite
      if (!vectors.join(broadcast(del), Seq(idCol), "left_semi").isEmpty) {
        val topk = spark.read.parquet(s"$path/topk")
        val remaining = vectors.join(broadcast(del), Seq(idCol), "left_anti")
        // sources whose stored list referenced a deleted neighbor —
        // excluding deleted sources themselves (their lists just drop)
        val affected = topk
          .join(broadcast(del.withColumnRenamed(idCol, "dst")), Seq("dst"),
            "left_semi")
          .select(col("src")).distinct()
          .join(broadcast(del.withColumnRenamed(idCol, "src")), Seq("src"),
            "left_anti")
          .localCheckpoint()
        try {
          def normed(df: DataFrame, side: String) = df.select(
            col(idCol).as(s"__id$side"),
            col(vecCol).cast("array<double>").as(s"__v$side"))
            .withColumn(s"__n$side", l2Norm(col(s"__v$side")))
          // one scan of the survivors × the broadcast affected vectors —
          // O(affected · corpus), the bounded-cost contract
          val affVecs = remaining.join(
            broadcast(affected.withColumnRenamed("src", idCol)),
            Seq(idCol), "left_semi")
          val rescored = normed(remaining, "a")
            .crossJoin(broadcast(normed(affVecs, "b")))
            .filter(col("__ida") =!= col("__idb"))
            .select(col("__idb").as("src"), col("__ida").as("dst"),
              round(dotProduct(col("__va"), col("__vb")) /
                (col("__na") * col("__nb")), 6).as("sim"))
          val affTopk = graft.plans.TopK.perGroup(rescored, Seq("src"),
            Seq(("sim", true), ("dst", false)), k)
          val kept = topk
            .join(broadcast(del.withColumnRenamed(idCol, "src")),
              Seq("src"), "left_anti")
            .join(broadcast(affected), Seq("src"), "left_anti")
          val out = kept.unionByName(affTopk).localCheckpoint()
          try graft.io.IO.writeDir(out, s"$path/topk")
          finally org.apache.spark.sql.graftbridge.ColumnBridge
            .releaseLocalCheckpoint(out)
          val remMat = remaining.localCheckpoint()
          try graft.io.IO.writeDir(remMat, s"$path/vectors")
          finally org.apache.spark.sql.graftbridge.ColumnBridge
            .releaseLocalCheckpoint(remMat)
        } finally
          org.apache.spark.sql.graftbridge.ColumnBridge
            .releaseLocalCheckpoint(affected)
      }
    } finally
      org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(del)
  }
}
