package graft.ops

import graft.Materialize.CheckpointSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-sketch tier for quantiles and distinct counts (north-star
  * extension; the 100 TB companion to the exact forms in q52/q63/q35).
  *
  * Exact `percentile` is a TypedImperativeAggregate that buffers EVERY group
  * value in one aggregation state — for a global percentile that is the
  * whole corpus' doubles in a single task, which does not survive corpus
  * scale. The sketch tier replaces it:
  *
  *   - quantiles: `percentile_approx` (Greenwald–Khanna summary) — state is
  *     O(accuracy · log n) regardless of group size, mergeable, with a hard
  *     rank-error guarantee of n/accuracy;
  *   - distinct counts: `approx_count_distinct` (HyperLogLog++) — fixed
  *     ~kilobytes of register state per group, relative error ≈ rsd,
  *     and the register merge is commutative max, so results are
  *     deterministic under any partitioning.
  *
  * The `...Checked` variants compute BOTH tiers and emit the exact values
  * plus boolean gates asserting the sketch landed inside its guaranteed
  * error band — that is what makes the approximate tier ORACLE-CHECKABLE:
  * DuckDB recomputes the exact side and the gates must read `true`. At
  * production scale you run only the sketch tier (`approxPercentiles` /
  * `approxDistinct` / `approxBandFilter`).
  */
object Quantiles {

  /** Default GK accuracy: rank error ≤ n/10000 (Spark's own default). */
  val DefaultAccuracy = 10000

  private def labelOf(p: Double): String = {
    val pct = p * 100
    if (pct == pct.floor) s"p${pct.toInt}" else s"p${pct}".replace('.', '_')
  }

  /** Sketch-only per-group quantiles — the operator you run at corpus scale.
    * One hash aggregation; state bounded by `accuracy`, not group size.
    */
  def approxPercentiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                        ps: Seq[Double], accuracy: Int = DefaultAccuracy): DataFrame = {
    val arr = percentile_approx(col(valueCol),
      array(ps.map(lit): _*), lit(accuracy))
    df.groupBy(groupCols.map(col): _*)
      .agg(arr.as("__ap"))
      .select(groupCols.map(col) ++
        ps.zipWithIndex.map { case (p, i) =>
          element_at(col("__ap"), i + 1).as(labelOf(p))
        }: _*)
  }

  /** Exact + sketch quantiles with a per-quantile correctness gate: the
    * sketch value must land inside the exact value band
    * [percentile(p − rankDelta), percentile(p + rankDelta)]. The GK
    * guarantee is rank error ≤ 1/accuracy, so any rankDelta ≫ 1/accuracy
    * (default 0.01 vs 1e-4) must hold on EVERY dataset — a false gate means
    * the sketch (or its merge) is broken, not the data.
    *
    * Output: groupCols, one exact column per p (named p50/p90/...), one
    * boolean `<label>_ok` per p.
    */
  def approxPercentilesChecked(df: DataFrame, groupCols: Seq[String], valueCol: String,
                               ps: Seq[Double], rankDelta: Double = 0.01,
                               accuracy: Int = DefaultAccuracy): DataFrame = {
    val v = valueCol
    val exact = ps.map(p => expr(s"percentile($v, $p)").as(labelOf(p)))
    val bandLo = ps.map(p =>
      expr(s"percentile($v, ${math.max(0.0, p - rankDelta)})").as(s"__lo_${labelOf(p)}"))
    val bandHi = ps.map(p =>
      expr(s"percentile($v, ${math.min(1.0, p + rankDelta)})").as(s"__hi_${labelOf(p)}"))
    val approx = percentile_approx(col(v), array(ps.map(lit): _*), lit(accuracy)).as("__ap")
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(exact.head, (exact.tail ++ bandLo ++ bandHi :+ approx): _*)
    agg.select(groupCols.map(col) ++
      ps.map(p => col(labelOf(p))) ++
      ps.zipWithIndex.map { case (p, i) =>
        val l = labelOf(p)
        element_at(col("__ap"), i + 1)
          .between(col(s"__lo_$l"), col(s"__hi_$l")).as(s"${l}_ok")
      }: _*)
  }

  /** Sketch-only per-group distinct counts (HLL++). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], keyCol: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(keyCol), rsd).as(s"approx_n_$keyCol"))

  /** Exact + HLL distinct count with a relative-error gate: the estimate
    * must be within `relTol` of exact (or ±1 absolute for tiny groups).
    * relTol derives from the requested rsd (3× — a ≈99.7% band) unless
    * explicitly overridden, so a red gate means broken sketch, not
    * statistical bad luck, at ANY rsd.
    */
  def approxDistinctChecked(df: DataFrame, groupCols: Seq[String], keyCol: String,
                            outCol: String, rsd: Double = 0.05,
                            relTol: Double = Double.NaN): DataFrame = {
    val tol = if (relTol.isNaN) 3.0 * rsd else relTol
    df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(keyCol)).as(outCol),
        approx_count_distinct(col(keyCol), rsd).as("__a"))
      .select(groupCols.map(col) :+ col(outCol) :+
        (abs(col("__a") - col(outCol)).cast("double") <=
          greatest(lit(1.0), col(outCol).cast("double") * tol)).as("approx_ok"): _*)
  }

  /** Robust (MAD-based) outlier scores per group: modified z =
    * 0.6745·(x − median) / MAD, MAD = median(|x − median|) — the
    * outlier detector that survives what breaks q93's mean/stddev z-score
    * (a single huge day inflates the stddev and masks itself; medians
    * don't move). Two exact-percentile passes over the GROUPED values —
    * fine at a bounded per-key grain (e.g. daily totals); for raw corpus
    * values use the approx tier. A zero MAD (> 50% of the group identical)
    * yields score 0 rather than an ANSI division error.
    */
  def madOutlierScores(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       threshold: Double = 3.5): DataFrame = {
    val v = col(valueCol)
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
    val withDev = df.join(med, groupCols)
      .withColumn("__dev", abs(v - col("__med")))
    val mad = withDev.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(__dev, 0.5)").as("__mad"))
    val z = when(col("__mad") > 0,
      round(lit(0.6745) * (v - col("__med")) / col("__mad"), 6))
      .otherwise(lit(0.0))
    withDev.join(mad, groupCols)
      .select(df.columns.map(col).toSeq :+ z.as("robust_z") :+
        (abs(z) > threshold).as("is_outlier"): _*)
  }

  /** Sketch-tier outlier-band filter — the scale twin of the q63 pattern:
    * keep rows whose `valueCol` lies within the [pLo, pHi] approximate
    * quantile band. ONE pass to sketch the bounds (bounded state), one
    * broadcast of a 1-row bounds relation; the corpus never shuffles.
    */
  def approxBandFilter(df: DataFrame, valueCol: String,
                       pLo: Double, pHi: Double,
                       accuracy: Int = DefaultAccuracy): DataFrame = {
    val bounds = df.agg(
      percentile_approx(col(valueCol), array(lit(pLo), lit(pHi)), lit(accuracy)).as("__b"))
      .select(element_at(col("__b"), 1).as("__lo"), element_at(col("__b"), 2).as("__hi"))
    df.crossJoin(broadcast(bounds))
      .filter(col(valueCol) >= col("__lo") && col(valueCol) <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Band-filter correctness gate, count-based: |{rows in approx band}| may
    * differ from |{rows in exact band}| only by the GK rank-error slack —
    * each bound's rank is off by at most n/accuracy, plus ≤ 2 ranks of
    * interpolation-convention gap between GK (returns a sample) and exact
    * `percentile` (interpolates on (n−1)·p), for ⌈2·(2n/accuracy + 2)⌉
    * total. Output is one row (n_exact, approx_band_ok) — DuckDB
    * recomputes n_exact and the gate must be true.
    */
  def approxBandFilterChecked(df: DataFrame, valueCol: String,
                              pLo: Double, pHi: Double,
                              accuracy: Int = DefaultAccuracy): DataFrame = {
    val v = col(valueCol)
    val bounds = df.agg(
      expr(s"percentile($valueCol, $pLo)").as("__lo_e"),
      expr(s"percentile($valueCol, $pHi)").as("__hi_e"),
      percentile_approx(v, array(lit(pLo), lit(pHi)), lit(accuracy)).as("__b"))
    df.crossJoin(broadcast(bounds))
      .agg(
        sum(when(v.between(col("__lo_e"), col("__hi_e")), 1L).otherwise(0L)).as("n_exact"),
        sum(when(v.between(element_at(col("__b"), 1), element_at(col("__b"), 2)), 1L)
          .otherwise(0L)).as("__n_approx"),
        count(lit(1)).as("__n"))
      .select(col("n_exact"),
        (abs(col("__n_approx") - col("n_exact")).cast("double") <=
          ceil(lit(2.0) * (lit(2.0) * col("__n") / accuracy + lit(2.0))).cast("double"))
          .as("approx_band_ok"))
  }

  /** Winsorized (clamped) statistics per group — tail-robust numeric
    * cleaning for feature columns: values below the `lo` quantile or
    * above the `hi` quantile are clamped to the boundary, and the mean
    * is reported before and after. The fences are rounded to 6 decimals
    * BEFORE clamping (NOTES_r3 round-before-compare discipline: both
    * engines' interpolated percentiles agree only to the last ulp, and
    * the clamp is a threshold compare), so the clamped multiset is
    * engine-identical.
    *
    * Shape at corpus scale: one exact-percentile aggregate per group
    * (groups-sized relation), broadcast back onto the fact rows, then
    * one map-side-combinable mean pass — the fact table is scanned
    * twice but never shuffled on anything but the group key.
    */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, lo: Double = 0.01,
                      hi: Double = 0.99): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val fences = df.groupBy(groupCols.map(col).toIndexedSeq: _*)
      .agg(round(expr(s"percentile($valueCol, ${lo}D)"), 6).as("__plo"),
        round(expr(s"percentile($valueCol, ${hi}D)"), 6).as("__phi"))
    df.join(broadcast(fences), groupCols)
      .groupBy(groupCols.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"),
        round(avg(col(valueCol)), 6).as("mean_raw"),
        first(col("__plo")).as("p_lo"),
        first(col("__phi")).as("p_hi"),
        round(avg(greatest(col("__plo"),
          least(col("__phi"), col(valueCol)))), 6).as("mean_winsorized"),
        sum(when(col(valueCol) < col("__plo"), lit(1L))
          .otherwise(lit(0L))).as("n_clamped_low"),
        sum(when(col(valueCol) > col("__phi"), lit(1L))
          .otherwise(lit(0L))).as("n_clamped_high"))
  }

  /** Frozen-fences snapshot producer for the STREAMING winsorizer (the
    * mixtureGate snapshot discipline): per-group rounded p-lo/p-hi
    * fences collected to a driver map — a groups-sized relation by
    * construction. Refresh periodically batch-side; the stream applies
    * the latest snapshot map-only.
    */
  def winsorFences(df: DataFrame, typeCol: String, valueCol: String,
                   lo: Double = 0.01, hi: Double = 0.99): Map[String, (Double, Double)] = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    df.groupBy(col(typeCol))
      .agg(round(expr(s"percentile($valueCol, ${lo}D)"), 6).as("__plo"),
        round(expr(s"percentile($valueCol, ${hi}D)"), 6).as("__phi"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
  }

  /** Distinct-audience overlap between every pair of segments (event
    * types): exact Jaccard in ppm plus an HLL-sketch union estimate
    * gated against the exact union (the q71/q182 checked-twin
    * discipline — a red gate means broken sketch algebra, not bad
    * statistical luck).
    *
    * Scale shape: event volume reduces ONCE to distinct (type, user)
    * pairs (map-side combinable). Pairwise co-presence is a per-USER
    * keyed self-join — each user contributes at most |types|² rows, so
    * no hot key and no types×users blow-up in any single task. Per-type
    * sketches and exact counts live on a types-sized relation; the
    * pair join is broadcast-sized. At petabyte scale, set relTol from
    * the sketch's lgK rather than trusting defaults — and when only the
    * ESTIMATE is needed, the exact lanes (the countDistinct and the
    * co-presence join) drop out entirely and sketches alone survive.
    */
  def audienceOverlap(df: DataFrame, typeCol: String = "event_type",
                      userCol: String = "user_id", lgK: Int = 12,
                      relTol: Double = 0.15): DataFrame = {
    val ut = df.select(col(typeCol).as("__t"), col(userCol).as("__u"))
      .distinct()
    val per = ut.groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"),
        expr(s"hll_sketch_agg(__u, $lgK)").as("__sk"))
    val both = ut.as("x").join(ut.as("y"), col("x.__u") === col("y.__u"))
      .filter(col("x.__t") < col("y.__t"))
      .groupBy(col("x.__t").as("type_a"), col("y.__t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(per.select(col("__t"), col("__n").as("n_a"),
        col("__sk").as("__ska"))), col("type_a") === col("__t"))
      .drop("__t")
      .join(broadcast(per.select(col("__t"), col("__n").as("n_b"),
        col("__sk").as("__skb"))), col("type_b") === col("__t"))
      .drop("__t")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_a") + col("n_b") - col("n_both")).as("n_union"),
        expr("1000000 * n_both DIV (n_a + n_b - n_both)")
          .as("jaccard_ppm"),
        expr("hll_sketch_estimate(hll_union(__ska, __skb))").as("__est"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"), col("n_union"), col("jaccard_ppm"),
        (abs(col("__est") - col("n_union")).cast("double") <=
          greatest(lit(1.0), col("n_union").cast("double") * relTol))
          .as("approx_ok"))
  }

  /** Quantile normalization to uniform [0, 1]: each row's value is
    * replaced by its mid-rank fraction (2·rank − 1) / (2·n) WITHIN its
    * group — after it, every group's score distribution is identical
    * (uniform), which is how a per-source quality/length score becomes
    * comparable across sources with different score scales (source A's
    * "good" and source B's "good" both land at 0.9). Deterministic and
    * engine-exact: rank and n are integers (ties broken by `idCol`), the
    * one division rounds to 6.
    *
    * Scale note: one hash-partitioned window per group — the standard
    * rank shuffle. A group hot enough to bottleneck a window at 100 TB
    * should pre-aggregate to (value, count) histograms first (the q108
    * discipline); for typical per-source corpora the plain window holds.
    */
  /** Per-group Gini coefficient of a nonnegative value — how unequally
    * the mass (doc lengths, token counts, event values) concentrates
    * within each group; 0 = perfectly even, →1 = one row holds
    * everything. The sorted-rank identity
    * G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) is EXACT integer arithmetic
    * from a group-keyed rank window until the one rounded division
    * (ties ranked by `idCol`; any tie order yields the same Σ i·x_i
    * within a tie class — the statistic is still deterministic). An
    * all-zero group emits 0.
    */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String,
                  idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__x").asc, col(idCol).asc)
    df.select(col(groupCol), col(idCol),
        col(valueCol).cast("long").as("__x"))
      .withColumn("__i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s0"),
        sum(col("__i") * col("__x")).as("__s1"))
      .select(col(groupCol), col("n"),
        when(col("__s0") > 0,
          round((lit(2L) * col("__s1") - (col("n") + lit(1L)) * col("__s0"))
              .cast("double") /
            (col("n") * col("__s0")).cast("double"), 6))
          .otherwise(lit(0.0)).as("gini"))
  }

  /** Pairwise two-sample Kolmogorov–Smirnov distance between every two
    * groups' value distributions — the distribution-shift test behind
    * "did source X's length profile drift from source Y's" (and the
    * pre-mixing check that two providers' corpora are actually
    * different). ENTIRELY integer: per-(group, value) counts fan out per
    * pair, the ECDF difference at value v is |cumA·nB − cumB·nA| (a
    * BIGINT — no floating ECDFs), D = max over the merged support, and
    * the output is D ppm via integer DIV. One count reduction, pair-keyed
    * cumulative windows over the |support|-sized relation — the corpus
    * never rides the pair fan-out.
    */
  def ksStatisticPairs(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame = {
    val (pairs, cum) = pairSupportCum(df, groupCol, valueCol)
    cum
      .join(broadcast(pairs), Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("__na"), col("__nb"),
        abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na"))
          .as("__d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
        max(col("__d")).as("__dmax"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        expr("1000000 * __dmax DIV (n_a * n_b)").as("ks_ppm"))
  }

  /** Shared pair fan-out for the two-sample tests ([[ksStatisticPairs]],
    * [[rankSumPairs]]): per-(group, value) counts joined onto every
    * unordered group pair's merged support, with pair-keyed cumulative
    * sums over the value order. Returns (pairs-with-totals, cum) where
    * cum carries (source_a, source_b, __v, __ca, __cb, __cuma, __cumb).
    * The corpus collapses to |support| rows per group BEFORE the pair
    * fan-out; the windows run per pair over the merged support only.
    */
  private def pairSupportCum(df: DataFrame, groupCol: String,
                             valueCol: String): (DataFrame, DataFrame) = {
    val counts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .checkpointed
    val totals = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val pairs = totals
      .select(col("__g").as("source_a"), col("__n").as("__na"))
      .crossJoin(broadcast(totals
        .select(col("__g").as("source_b"), col("__n").as("__nb"))))
      .filter(col("source_a") < col("source_b"))
    val va = pairs.select("source_a", "source_b")
      .join(counts.select(col("__g").as("source_a"), col("__v"),
        col("__c").as("__ca")), "source_a")
    val vb = pairs.select("source_a", "source_b")
      .join(counts.select(col("__g").as("source_b"), col("__v"),
        col("__c").as("__cb")), "source_b")
    val merged = va.join(vb, Seq("source_a", "source_b", "__v"),
        "full_outer")
      .select(col("source_a"), col("source_b"), col("__v"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source_a"), col("source_b"))
      .orderBy(col("__v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    (pairs, merged
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w)))
  }

  /** Pairwise Mann–Whitney rank-sum statistic between every two groups'
    * value distributions — the DIRECTIONAL companion to the KS matrix:
    * where KS reports the largest ECDF gap anywhere, the rank-sum
    * reports which side is stochastically LARGER and by how much
    * (Mann & Whitney 1947; the "probability of superiority" /
    * common-language effect size). ENTIRELY integer: over each pair's
    * merged support, 2U_a = Σ_v ca(v)·(2·cumb(v) − cb(v)) counts every
    * (a, b) value pair twice for a > b and once for a tie — exact in
    * BIGINT, no average-rank floats — and the effect size is
    * auc_ppm = 10⁶·2U DIV (2·n_a·n_b): 500000 = no shift, 10⁶ = every
    * a-value above every b-value. Same scale shape as
    * [[ksStatisticPairs]] (shared [[pairSupportCum]] core): one count
    * reduction, pair-keyed windows over the support, the corpus never
    * rides the pair fan-out. Integer-exact while 10⁶·2U fits int64
    * (n_a·n_b ≲ 4.6·10¹²); past that swap the accumulator for DECIMAL.
    */
  def rankSumPairs(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    val (pairs, cum) = pairSupportCum(df, groupCol, valueCol)
    cum
      .join(broadcast(pairs), Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("__na"), col("__nb"),
        (col("__ca") * (lit(2L) * col("__cumb") - col("__cb"))).as("__t"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
        sum(col("__t")).as("u2"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("u2"), expr("1000000 * u2 DIV (2 * n_a * n_b)").as("auc_ppm"))
  }

  /** Population-Stability-Index drift per group — the scorecard-monitoring
    * classic (banking model governance; same family as the KS monitor but
    * mass-weighted over the WHOLE distribution, not the worst point):
    * PSI = Σ_bins (q_i − p_i)·ln(q_i/p_i) between each group's reference
    * rows (isRef true) and current rows. Bins are `bins` equal-width
    * integer bins anchored on the REFERENCE min/max (current-side
    * outliers clamp into the edge bins — integer clamp BEFORE the DIV so
    * both engines bin identically); +1 Laplace smoothing over all `bins`
    * bins (empty ones included) keeps every log finite. Each bin's term
    * snaps to a nano BIGINT immediately (the sourceDivergence
    * discipline) so the sum is order-free; PSI ≥ 0 always (each term's
    * factors share sign). Groups with no reference rows have no bin
    * edges and are dropped — a monitor needs a baseline.
    *
    * Scale shape: one scan → per-group min/max on the reference
    * (#groups rows, broadcast back) → map-side binning → one
    * (group × bins)-sized count aggregate; nothing corpus-sized
    * shuffles after the first reduction. Rule of thumb: PSI < 0.1
    * stable, 0.1–0.25 drifting, > 0.25 act.
    */
  def psiByGroup(df: DataFrame, groupCol: String, valueCol: String,
                 isRef: Column, bins: Int = 10): DataFrame = {
    require(bins > 1, s"bins must be > 1: $bins")
    val base = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("long").as("__v"), isRef.as("__r"))
    val edges = base.filter(col("__r")).groupBy(col("__g"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val binned = base.join(broadcast(edges), Seq("__g"))
      .select(col("__g"), col("__r"),
        least(greatest(col("__v"), col("__lo")), col("__hi")).as("__vc"),
        col("__lo"), col("__hi"))
      .select(col("__g"), col("__r"),
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(expr(s"(__vc - __lo) * $bins DIV (__hi - __lo + 1)"))
          .as("__b"))
    val counts = binned.groupBy(col("__g"), col("__b"))
      .agg(sum(when(col("__r"), lit(1L)).otherwise(lit(0L))).as("__cr"),
        sum(when(!col("__r"), lit(1L)).otherwise(lit(0L))).as("__cc"))
    psiFromGroupBinCounts(counts, bins)
      .select(col("__g").as(groupCol), col("n_ref"), col("n_cur"),
        col("psi"))
  }

  /** Shared PSI tail over per-(__g, __b) bin counts (__cr reference,
    * __cc current): completes the bin grid to all `bins` bins per group
    * (empty bins get the same +1 smoothing mass), nano-snaps every
    * (q−p)·ln(q/p) term, and integer-sums per group. Both the row-level
    * [[psiByGroup]] and the histogram-form [[psiFromCounts]] end here —
    * one definition, so the monitor form cannot drift from the batch
    * statistic.
    */
  private def psiFromGroupBinCounts(counts: DataFrame,
                                    bins: Int): DataFrame = {
    val totals = counts.groupBy(col("__g"))
      .agg(sum(col("__cr")).as("__nr"), sum(col("__cc")).as("__nc"))
    val full = totals
      .select(col("__g"), col("__nr"), col("__nc"),
        explode(sequence(lit(0L), lit((bins - 1).toLong))).as("__b"))
      .join(counts, Seq("__g", "__b"), "left")
      .select(col("__g"), col("__nr"), col("__nc"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
    val p = (col("__cr") + lit(1L)).cast("double") /
      (col("__nr") + lit(bins.toLong)).cast("double")
    val q = (col("__cc") + lit(1L)).cast("double") /
      (col("__nc") + lit(bins.toLong)).cast("double")
    full
      .select(col("__g"), col("__nr"), col("__nc"),
        round((q - p) * log(q / p) * lit(1e9)).cast("long").as("__nano"))
      .groupBy(col("__g"))
      .agg(first(col("__nr")).as("n_ref"), first(col("__nc")).as("n_cur"),
        round(sum(col("__nano")).cast("double") / lit(1e9), 6).as("psi"))
  }

  /** PSI from PRE-AGGREGATED (value, count) histograms — the monitor
    * form of [[psiByGroup]] (a streaming count snapshot vs a frozen
    * reference histogram, the [[ksFromCounts]] pairing). Bin edges come
    * from the reference histogram's min/max support — identical
    * arithmetic to the row form, and a unit test pins the two forms
    * equal on the same data. Returns one row (n_ref, n_cur, psi).
    */
  def psiFromCounts(cur: DataFrame, ref: DataFrame, valueCol: String,
                    countCol: String, bins: Int = 10): DataFrame = {
    require(bins > 1, s"bins must be > 1: $bins")
    val rv = ref.select(col(valueCol).cast("long").as("__v"),
      col(countCol).cast("long").as("__c"))
    val cv = cur.select(col(valueCol).cast("long").as("__v"),
      col(countCol).cast("long").as("__c"))
    val edges = rv.agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    def binned(df: DataFrame, cname: String): DataFrame =
      df.crossJoin(broadcast(edges))
        .select(when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(expr(
            s"(least(greatest(__v, __lo), __hi) - __lo) * $bins" +
              " DIV (__hi - __lo + 1)")).as("__b"),
          col("__c").as(cname))
        .groupBy(col("__b")).agg(sum(col(cname)).as(cname))
    val counts = binned(rv, "__cr")
      .join(binned(cv, "__cc"), Seq("__b"), "full_outer")
      .select(lit("__all").as("__g"), col("__b"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
    psiFromGroupBinCounts(counts, bins)
      .select(col("n_ref"), col("n_cur"), col("psi"))
  }

  /** Two-relation KS from PRE-AGGREGATED (value, count) histograms — the
    * monitor form of [[ksStatisticPairs]] (a streaming count snapshot vs
    * a frozen reference). Same integer ECDF cross-product math; a unit
    * test pins this form equal to the pairwise form on the same data.
    * Returns one row (n_a, n_b, ks_ppm).
    */
  def ksFromCounts(a: DataFrame, b: DataFrame, valueCol: String,
                   countCol: String): DataFrame = {
    val av = a.select(col(valueCol).cast("long").as("__v"),
      col(countCol).cast("long").as("__ca"))
    val bv = b.select(col(valueCol).cast("long").as("__v"),
      col(countCol).cast("long").as("__cb"))
    val merged = av.join(bv, Seq("__v"), "full_outer")
      .select(col("__v"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val tot = merged.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    merged
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
      .crossJoin(broadcast(tot))
      .select(abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na"))
        .as("__d"), col("__na"), col("__nb"))
      .groupBy()
      .agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
        max(col("__d")).as("__dmax"))
      .select(col("n_a"), col("n_b"),
        expr("1000000 * __dmax DIV (n_a * n_b)").as("ks_ppm"))
  }

  /** Chi-square association between two categorical columns with
    * Cramér's V effect size (Cramér 1946, public) — "are language and
    * source independent, and how far from it": the contingency-table
    * companion to the numeric [[ksStatisticPairs]]/[[psiByGroup]] drift
    * tests. Every cell term uses the integer identity
    * (o−e)²/e = (o·n − rₐ·c_b)² / (n·rₐ·c_b) — numerator and denominator
    * are exact INTEGER products cast once to double, no pre-divided
    * expected counts — and nano-snaps before the order-free sum; zero
    * cells of the full r×c grid contribute their expected mass like the
    * textbook statistic. V = √(χ²/(n·(min(r,c)−1))), rounded to 6 after
    * the one sqrt (correctly-rounded IEEE in both engines); a 1-class
    * side yields V = 0. Integer products stay exact while n·rₐ·c_b
    * fits 2⁵³ (n ≲ 10⁵ with full-rank margins; far more when categories
    * concentrate); past that swap for DECIMAL.
    *
    * Scale shape: one count reduction to the |A×B| observed-cell
    * relation, margins from it, then everything runs on the r×c grid —
    * bounded by category cardinalities, never corpus-sized. Returns one
    * row (n, n_a_classes, n_b_classes, dof, chi2, cramers_v).
    */
  def catAssociation(df: DataFrame, colA: String,
                     colB: String): DataFrame = {
    val cells = df
      .select(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__o"))
      .checkpointed
    val ra = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val nt = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__r"),
      countDistinct(col("__b")).as("__c"))
    val grid = ra.crossJoin(broadcast(cb))
      .join(cells, Seq("__a", "__b"), "left")
      .select(col("__ra"), col("__cb"),
        coalesce(col("__o"), lit(0L)).as("__o"))
    val dd = (col("__o") * col("__n") - col("__ra") * col("__cb"))
      .cast("double")
    grid.crossJoin(broadcast(nt))
      .select(col("__n"), col("__r"), col("__c"),
        round(dd * dd /
          (col("__n") * col("__ra") * col("__cb")).cast("double") *
          lit(1e9)).cast("long").as("__nano"))
      .groupBy()
      .agg(first(col("__n")).as("n"), first(col("__r")).as("n_a_classes"),
        first(col("__c")).as("n_b_classes"), sum(col("__nano")).as("__s"))
      .select(col("n"), col("n_a_classes"), col("n_b_classes"),
        ((col("n_a_classes") - lit(1L)) * (col("n_b_classes") - lit(1L)))
          .as("dof"),
        round(col("__s").cast("double") / lit(1e9), 6).as("chi2"),
        when(least(col("n_a_classes"), col("n_b_classes")) > 1,
          round(sqrt((col("__s").cast("double") / lit(1e9)) /
            (col("n") *
              (least(col("n_a_classes"), col("n_b_classes")) - lit(1L)))
              .cast("double")), 6))
          .otherwise(lit(0.0)).as("cramers_v"))
  }

  /** Leave-one-group-out jackknife influence (Quenouille 1956 / Tukey
    * 1958, public) — "which source drags the corpus metric": for every
    * group, the corpus mean of `valuePpm` (an INTEGER parts-per-million
    * metric — snap floats before calling) with that group removed, its
    * signed influence vs the overall mean (both round-6 BEFORE the
    * subtract — the calib_gap discipline), and the jackknife standard
    * error of the mean over groups, computed from integer micro-moments
    * (k·Σt² − (Σt)² with t = round-6 leave-out means in millionths —
    * exact BIGINT, one sqrt at the end; k·Σt² fits int64 to ~10⁴
    * groups). One scan → #groups-sized sums; leave-out means are
    * (S − s_g)/(N − n_g) off the totals — no per-group rescan. A group
    * that IS the whole corpus yields a NULL leave-out row.
    */
  def jackknifeGroupInfluence(df: DataFrame, groupCol: String,
                              valuePpm: Column): DataFrame = {
    val per = df.select(col(groupCol).as("__g"),
        valuePpm.cast("long").as("__v"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__s"))
      .checkpointed
    val tot = per.agg(sum(col("__n")).as("__tn"), sum(col("__s")).as("__ts"),
      count(lit(1)).as("__k"))
    val loo = when(col("__tn") > col("__n"),
      round((col("__ts") - col("__s")).cast("double") /
        ((col("__tn") - col("__n")) * lit(1000000L)).cast("double"), 6))
    val overall = round(col("__ts").cast("double") /
      (col("__tn") * lit(1000000L)).cast("double"), 6)
    val base = per.crossJoin(broadcast(tot))
      .select(col("__g"), col("__n"), col("__k"),
        loo.as("__loo"), overall.as("__ov"))
      .checkpointed
    val se = base
      .select(col("__k"),
        round(col("__loo") * lit(1e6)).cast("long").as("__tm"))
      .groupBy(col("__k"))
      .agg(sum(col("__tm")).as("__st"),
        sum(col("__tm") * col("__tm")).as("__st2"))
      .select(round(
        sqrt(((col("__k") - lit(1L)) *
          (col("__k") * col("__st2") - col("__st") * col("__st")))
          .cast("double") /
          (col("__k") * col("__k")).cast("double")) /
          lit(1e6), 6).as("jackknife_se"))
    base
      .select(col("__g").as(groupCol), col("__n").as("n_docs"),
        col("__loo").as("loo_mean"),
        round(col("__loo") - col("__ov"), 6).as("influence"))
      .crossJoin(broadcast(se))
  }

  def rankUniformScores(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    val n = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    df.select(col(idCol), col(groupCol), col(valueCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .select(col(idCol), col(groupCol), col(valueCol),
        round((lit(2L) * col("__rn") - lit(1L)).cast("double") /
          (lit(2L) * col("__n")).cast("double"), 6).as("uniform_score"))
  }
}
