package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines (north-star
  * extension). `df.sample()` is seed-dependent per partitioning and not
  * reproducible across engines or re-partitionings; hash-gating on a key
  * IS: a row's membership depends only on its key, so samples are stable
  * under re-runs, repartitioning, and incremental appends (the property
  * held-out/eval splits need). Map-only — no shuffle, fully pushdown-
  * friendly.
  */
object Sampling {

  /** Keep rows whose key hashes into the first `percent` buckets of 100.
    * Production flavor: xxhash64 (fast, codegen'd).
    */
  def hashSample(df: DataFrame, keyCol: String, percent: Int,
                 seed: Long = 42L): DataFrame = {
    require(percent >= 0 && percent <= 100, "percent must be in [0, 100]")
    df.filter(pmod(xxhash64(lit(seed), col(keyCol)), lit(100)) < percent)
  }

  /** Oracle-parity flavor: same gating with the portable md5-derived hash
    * (`graft.functions.md5Hash31`) that DuckDB computes identically —
    * used where a cross-engine-reproducible split matters more than speed.
    * The percent may be a per-row Column (stratified rates, e.g. by
    * language) — ONE definition of the gate for both the flat and
    * stratified forms, so the hash/bucket math cannot drift.
    *
    * The rate is range-checked PER ROW (raise_error on a value outside
    * [0, 100]) — the Int overload's require() can't see inside a Column,
    * and a bad stratum rate would otherwise silently yield an empty or
    * full stratum. NULL rates pass through (NULL < gate is NULL → row
    * filtered), matching SQL comparison semantics.
    */
  /** THE portable hash gate — the single definition every deterministic
    * sampler (flat, stratified, mixture) routes through, at whatever
    * modulus its rate granularity needs, so the hash/bucket math cannot
    * drift between operators or their SQL oracles: keep a row iff
    * md5Hash31(key) mod `modulus` < `bound`.
    */
  private def portableGate(keyCol: Column, bound: Column,
                           modulus: Long): Column =
    graft.functions.md5Hash31(keyCol.cast("string")) % modulus < bound

  def hashSamplePortable(df: DataFrame, keyCol: String, percent: Column): DataFrame = {
    val checked = when(percent.isNull || (percent >= 0 && percent <= 100), percent)
      .otherwise(raise_error(concat(
        lit("hashSamplePortable: percent must be in [0, 100], got "),
        percent.cast("string"))).cast("int"))
    df.filter(portableGate(col(keyCol), checked, 100L))
  }

  def hashSamplePortable(df: DataFrame, keyCol: String, percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100, "percent must be in [0, 100]")
    hashSamplePortable(df, keyCol, lit(percent))
  }

  /** Disjoint train/heldout split columns from the same hash — every row
    * gets exactly one label; changing `heldoutPercent` only MOVES the
    * boundary (rows never swap between arbitrary splits on re-runs).
    */
  def splitLabel(keyCol: Column, heldoutPercent: Int, seed: Long = 42L): Column =
    when(pmod(xxhash64(lit(seed), keyCol), lit(100)) < heldoutPercent, "heldout")
      .otherwise("train")

  /** Deterministic weighted sample without replacement (the
    * Efraimidis–Spirakis A-ES scheme): each row gets key u^(1/w) with u a
    * deterministic uniform derived from the portable hash of its id, and
    * the k largest keys are the sample — inclusion probability scales
    * with `weightCol` (importance sampling by quality/length scores).
    * Deterministic twin of the classic randomized reservoir: re-runs,
    * repartitionings, and an independent engine pick the SAME rows.
    * Map-only scoring + TakeOrderedAndProject top-k — no shuffle of the
    * corpus. A non-positive weight gets sentinel key −1 (valid keys live
    * in [0,1]), i.e. sampled only after every positive-weight row — the
    * `when` guard keeps ANSI mode from throwing on 1/0.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val u = (graft.functions.md5Hash31(col(idCol).cast("string")) % 1000003L)
      .cast("double") / 1000003.0
    // rounded BEFORE ranking: pow differs by a last-ulp across libms, and
    // an unrounded rank boundary could select different rows in an
    // independent engine (ties the rounding introduces break on idCol)
    val key = when(col(weightCol) > 0,
      round(pow(u, lit(1.0) / col(weightCol).cast("double")), 9))
      .otherwise(lit(-1.0))
    df.withColumn("__wkey", key)
      .orderBy(desc("__wkey"), col(idCol))
      .limit(k)
      .drop("__wkey")
  }

  /** Rebalance a corpus toward TARGET domain shares (data-mixture
    * construction, the "domain reweighting" step of training-data
    * assembly): unlike [[hashSamplePortable]] with constant per-stratum
    * rates, the keep-rate here is DERIVED from the data — domain d keeps
    * min(1, target_n(d) / actual_n(d)) of its rows, where target_n(d) =
    * (total·outPct%)·share(d)%. Domains absent from `sharesPct` are
    * dropped. All rate math is INTEGER (DIV / parts-per-million gate):
    * floating division would put engine-specific rounding on the keep
    * boundary, and the md5 gate must select bit-identical row sets
    * across engines and re-runs.
    *
    * Shape at corpus scale: one map-side-combinable count per domain
    * (#domains rows), rates broadcast back, then a map-only hash gate —
    * the corpus itself is never shuffled, and appends only ADD kept rows
    * (a row's membership depends on its own id and the recomputed rates).
    */
  def sampleToMixture(df: DataFrame, domainCol: String, idCol: String,
                      sharesPct: Map[String, Int],
                      outPct: Int = 60): DataFrame = {
    df.join(broadcast(mixtureRatesFrame(df, domainCol, sharesPct, outPct)),
        domainCol)
      .filter(portableGate(col(idCol), col("__ppm"), 1000000L))
      // the join hoists its key to the front — restore the input schema
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** The (domain → parts-per-million keep rate) relation
    * [[sampleToMixture]] gates with — ONE derivation for the inline batch
    * sampler, the collected rate table ([[mixtureRatesPpm]]), and through
    * it the streaming gate, so the integer rate math cannot drift between
    * deployment shapes.
    */
  private def mixtureRatesFrame(df: DataFrame, domainCol: String,
                                sharesPct: Map[String, Int],
                                outPct: Int): DataFrame = {
    require(outPct >= 0 && outPct <= 100, "outPct must be in [0, 100]")
    require(sharesPct.values.forall(s => s >= 0 && s <= 100),
      "each share must be in [0, 100]")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__nd"))
    val total = df.agg(count(lit(1)).as("__total"))
    val share = sharesPct.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(col(domainCol) === k, v).otherwise(acc)
    }
    counts.crossJoin(broadcast(total))
      .withColumn("__share", share)
      .select(col(domainCol),
        least(lit(1000000L),
          expr("(1000000 * (((__total * " + outPct +
            ") DIV 100) * __share DIV 100)) DIV __nd")).as("__ppm"))
  }

  /** Temperature-flattened mixture sampling (the multilingual-corpus
    * rebalancing rule — XLM-R/mT5 style, public: sample domain d with
    * probability ∝ n_d^α, α = 1/2, so small domains are up-weighted and
    * head domains flattened). Unlike [[sampleToMixture]] the target
    * shares are DERIVED from the data, not supplied.
    *
    * All boundary math is engine-exact: s_d = ⌊√(n_d·10^6)⌋ as BIGINT
    * (IEEE-754 sqrt is CORRECTLY ROUNDED, so both engines compute the
    * identical double from the identical integer, and the floor/cast is
    * then exact), every subsequent step is integer multiply/divide, and
    * the keep gate is the shared parts-per-million [[portableGate]].
    * OVERFLOW DISCIPLINE: the per-domain share s_d/Σs_d is reduced to
    * ppm FIRST ((10^6·s_d) DIV Σs_d ≤ 10^6), THEN multiplied by the
    * output budget — the naive single product 10^6·budget·s_d grows as
    * ~6·10^8·n^1.5 and overflows int64 (ANSI ARITHMETIC_OVERFLOW) at
    * only ~6M rows in a dominant domain, while the reduced form's worst
    * factor pair budget·share_ppm ≤ n·10^6 holds to n ≈ 9·10^12 rows;
    * past that widen to DECIMAL on both engines. The oracle replays the
    * identical reduction order.
    *
    * Scale shape: one map-side-combinable count per domain, the
    * #domains-row rate table broadcasts back, the corpus sees one
    * map-only hash gate — never shuffled (sampleToMixture's shape).
    */
  def sampleToTemperature(df: DataFrame, domainCol: String, idCol: String,
                          outPct: Int = 60): DataFrame = {
    require(outPct >= 0 && outPct <= 100, "outPct must be in [0, 100]")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__nd"))
      .withColumn("__sd",
        floor(sqrt(col("__nd").cast("double") * lit(1000000.0)))
          .cast("long"))
    val ssum = counts.agg(sum(col("__sd")).as("__ssum"))
    val total = df.agg(count(lit(1)).as("__total"))
    val rates = counts.crossJoin(broadcast(ssum)).crossJoin(broadcast(total))
      .select(col(domainCol),
        least(lit(1000000L),
          expr(s"(((__total * $outPct) DIV 100) * " +
            "((1000000 * __sd) DIV __ssum)) DIV __nd")).as("__ppm"))
    df.join(broadcast(rates), domainCol)
      .filter(portableGate(col(idCol), col("__ppm"), 1000000L))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Collect the mixture rate table to a driver map (#domains rows — tiny
    * by construction): the "periodic rate refresh" producer for the
    * streaming mixture gate. The rates a stream applies are necessarily a
    * SNAPSHOT — the batch derivation needs global counts, which an
    * unbounded stream cannot see — so production recomputes this from the
    * latest corpus snapshot on a schedule and restarts the gate with it.
    */
  def mixtureRatesPpm(df: DataFrame, domainCol: String,
                      sharesPct: Map[String, Int],
                      outPct: Int = 60): Map[String, Long] =
    mixtureRatesFrame(df, domainCol, sharesPct, outPct)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Stateless mixture gate against FROZEN parts-per-million rates — the
    * streaming twin of [[sampleToMixture]]'s gate stage: a map-only
    * filter (same [[portableGate]] hash, same integer ppm bound), so it
    * applies to an unbounded stream with no watermark or state store and
    * selects bit-identical row sets to the batch sampler when given
    * [[mixtureRatesPpm]] of the same corpus. Domains absent from `rates`
    * are dropped, like the batch inner join drops them.
    *
    * The rate table compiles to a when-chain — right for the mixture
    * use case (domains are a curated handful). A HUGE domain vocabulary
    * would bloat codegen; at that scale express the rates as a table and
    * use a (stream-static) broadcast join instead, which is exactly
    * [[sampleToMixture]]'s join shape.
    */
  def mixtureGate(df: DataFrame, rates: Map[String, Long],
                  domainCol: String, idCol: String): DataFrame = {
    require(rates.values.forall(r => r >= 0L && r <= 1000000L),
      "each rate must be in [0, 1000000] ppm")
    val ppm = rates.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col(domainCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(portableGate(col(idCol), ppm, 1000000L))
  }

  /** Hashed n-gram buckets of a text column — unigrams plus space-joined
    * bigrams, each mapped to `md5Hash31(ngram) % buckets` (the portable
    * hash, so an independent engine derives identical features). One
    * occurrence per n-gram occurrence: DSIR features are counts, NOT the
    * distinct shingle sets the dedup family uses. The token array is
    * let-bound via the 1-element transform wrapper (wordShingles pattern)
    * so the text is tokenized once, not once per n-gram.
    */
  private[graft] def hashedNgramBuckets(text: Column, buckets: Int): Column =
    element_at(transform(array(graft.functions.tokens(text)), tsv => {
      val unis = transform(tsv, t => graft.functions.md5Hash31(t) % buckets)
      val bis = when(size(tsv) < 2, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(1), size(tsv) - 1), i =>
          graft.functions.md5Hash31(concat(element_at(tsv, i), lit(" "),
            element_at(tsv, i + 1))) % buckets))
      concat(unis, bis)
    }), 1)

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public): score every
    * document by how much its hashed-n-gram distribution looks like a
    * TARGET subset rather than the raw corpus. Per bucket b,
    *   λ(b) = ln((tgt_b + 1)/(T + B)) − ln((raw_b + 1)/(R + B))
    * (add-1 smoothed log-likelihood ratio over B buckets; T/R = total
    * target/raw feature counts), and a document's weight is
    * Σ_b c_b · λ(b) over its own bucket counts.
    *
    * Portability/determinism: λ is snapped to parts-per-million (BIGINT)
    * immediately after the ln — per-document weights are then exact
    * integer sums, so `dsir_ppm` is reproducible under any partitioning
    * and engine (a double Σ c_b·λ_b would be addition-order-dependent).
    * The only float op is the final single division for `dsir_avg`.
    *
    * Scale shape: one tokenize pass; the (doc, bucket, count) relation is
    * localCheckpointed (it feeds totals, per-bucket counts, and scoring);
    * both distribution tables are ≤ B rows and broadcast back; scoring is
    * a map-side join + integer aggregate. Token-free documents have no
    * features and are absent from the output (as in the paper — nothing
    * to score). At petabyte scale swap the per-bucket BIGINT sums for
    * per-shard partials; the ppm snapping already keeps the weight math
    * integral.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  idCol: String = "doc_id", textCol: String = "text",
                  buckets: Int = 1024): DataFrame = {
    val (bc, lam) = dsirLambdaFrame(docs, isTarget, idCol, textCol, buckets)
    bc.join(broadcast(lam), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_feats"),
        sum(col("__c") * col("__lam_ppm")).as("dsir_ppm"))
      .select(col(idCol), col("n_feats"), col("dsir_ppm"),
        round(col("dsir_ppm").cast("double") /
          (col("n_feats") * lit(1000000L)).cast("double"), 6).as("dsir_avg"))
  }

  /** Shared λ derivation: the checkpointed (doc, target-flag, bucket,
    * count) relation plus the ≤B-row ppm-snapped λ table — one
    * definition for the batch scorer and the frozen-snapshot producer.
    */
  private def dsirLambdaFrame(docs: DataFrame, isTarget: Column,
                              idCol: String, textCol: String,
                              buckets: Int): (DataFrame, DataFrame) = {
    require(buckets > 0, "buckets must be positive")
    val bc = docs
      .select(col(idCol), isTarget.as("__tgt"),
        explode(hashedNgramBuckets(col(textCol), buckets)).as("__b"))
      .groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val tot = bc.agg(
      sum(when(col("__tgt"), col("__c")).otherwise(lit(0L))).as("__tt"),
      sum(col("__c")).as("__rr"))
    val rawB = bc.groupBy(col("__b")).agg(sum(col("__c")).as("__rn"))
    val tgtB = bc.filter(col("__tgt")).groupBy(col("__b"))
      .agg(sum(col("__c")).as("__tn"))
    val lam = rawB.join(tgtB, Seq("__b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__b"),
        round((log((coalesce(col("__tn"), lit(0L)) + lit(1L)).cast("double") /
            (col("__tt") + lit(buckets.toLong)).cast("double")) -
          log((col("__rn") + lit(1L)).cast("double") /
            (col("__rr") + lit(buckets.toLong)).cast("double"))) * lit(1e6))
          .cast("long").as("__lam_ppm"))
    (bc, lam)
  }

  /** Collect the λ table to a driver map (≤ B rows by construction) —
    * the periodic-refresh producer for the STREAMING DSIR scorer, same
    * snapshot discipline as [[mixtureRatesPpm]]: a stream cannot see the
    * global target/raw distributions, so it applies the latest
    * batch-derived table.
    */
  def dsirLambdaPpm(docs: DataFrame, isTarget: Column,
                    idCol: String = "doc_id", textCol: String = "text",
                    buckets: Int = 1024): Map[Long, Long] =
    dsirLambdaFrame(docs, isTarget, idCol, textCol, buckets)._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Map-only DSIR score against FROZEN λ (ppm BIGINT sum over the
    * doc's n-gram bucket occurrences — Σ_occurrences λ(bucket) equals
    * Σ_b c_b·λ_b exactly, integer and order-independent, so the
    * streaming score is bit-identical to [[dsirWeights]]'s `dsir_ppm`
    * given λ of the same corpus). λ ships as ONE map literal; buckets
    * absent from it contribute 0 (they scored ~0 in the snapshot).
    */
  def dsirScorePpm(text: Column, lamPpm: Map[Long, Long],
                   buckets: Int = 1024): Column = {
    require(buckets > 0, "buckets must be positive")
    val m = typedlit(lamPpm)
    aggregate(hashedNgramBuckets(text, buckets), lit(0L),
      (acc, b) => acc + coalesce(element_at(m, b), lit(0L)))
  }

  /** Token-budget trimming per domain (data-budget enforcement): keep the
    * highest-`scoreCol` documents of each domain until the domain's token
    * budget is exhausted. NOT a per-domain sort: documents are bucketed
    * by score (`scoreCol DIV bucketWidth`), per-(domain, bucket) token
    * totals are aggregated, and a bucket is kept iff the running token
    * total of strictly-better buckets is below the budget — so at most
    * one partially-over-budget bucket is kept whole, and the budget is
    * enforced at bucket granularity. That granularity is the 100 TB
    * design: the only window runs over the (domain, bucket) HISTOGRAM
    * (tiny — #buckets rows per domain), the kept-bucket set broadcasts
    * back, and the corpus itself sees one aggregate and one map-side
    * semi-join — no global or per-domain sort of documents, which is
    * exactly the shape a per-document greedy cutoff would force.
    *
    * `scoreCol` must be a non-negative integral column (DIV truncates
    * toward zero, which is floor only for non-negatives).
    */
  def budgetTrim(df: DataFrame, domainCol: String, scoreCol: String,
                 bucketWidth: Long, tokenCount: Column,
                 budgetTokens: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val bucketed = df
      .withColumn("__bucket", expr(s"$scoreCol DIV $bucketWidth"))
      .withColumn("__tok", tokenCount)
    val hist = bucketed.groupBy(col(domainCol), col("__bucket"))
      .agg(sum(col("__tok")).as("__btok"))
    val w = Window.partitionBy(col(domainCol)).orderBy(desc("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = hist
      .withColumn("__cumBefore", coalesce(sum(col("__btok")).over(w), lit(0L)))
      .filter(col("__cumBefore") < budgetTokens)
      .select(col(domainCol), col("__bucket"))
    bucketed.join(broadcast(kept), Seq(domainCol, "__bucket"), "left_semi")
      // the join hoists its keys to the front — restore the input schema
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Epoch-repetition schedule for data-constrained training (the
    * repeat-scaling recipe of Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models" — public arXiv:2305.16264): given
    * a total token budget of `budgetFactor` × the corpus, give each
    * source an equal share of the budget and let a small source repeat
    * (up to `maxEpochs`, past which repeated data stops helping per the
    * paper) to fill its share, while a large source caps at one epoch.
    * Output: per-source token mass, the epoch count, the contributed
    * (repeated) token mass, and its realised budget share in ppm.
    *
    * Everything is exact integer arithmetic (ppm-gate discipline): the
    * per-source token sums are BIGINTs, the fair share is an integer
    * DIV, the epoch count is a clamped integer DIV, so the schedule is
    * reproducible under any partitioning and any engine. The corpus is
    * touched once (map-side-combinable token-count aggregate); the
    * budget scalars ride a broadcast 1-row crossJoin — nothing
    * corpus-scale moves. The ppm share is computed as
    * `(10^6/budgetFactor)·epochs·n_tokens DIV total` — magnitude is
    * reduced BEFORE multiplying (the q173 overflow lesson), so with
    * budgetFactor 4 / maxEpochs 8 the int64 product bound holds to
    * ~4.6e12 tokens PER SOURCE (≈ 18 TB of text); past that, swap the
    * ppm product for DECIMAL. `budgetFactor` must divide 10^6 so the
    * reduction is exact.
    */
  def repeatEpochs(docs: DataFrame, srcCol: String = "source",
                   textCol: String = "text", budgetFactor: Int = 4,
                   maxEpochs: Int = 8): DataFrame = {
    require(budgetFactor > 0 && 1000000 % budgetFactor == 0,
      "budgetFactor must be positive and divide 10^6")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val perSrc = docs
      .select(col(srcCol),
        graft.functions.tokenCount(col(textCol)).cast("long").as("__tok"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("__tt"),
      count(lit(1)).as("__ns"))
    perSrc.crossJoin(broadcast(tot))
      .select(col(srcCol), col("n_docs"), col("n_tokens"), col("__tt"),
        expr(s"${budgetFactor.toLong} * __tt DIV __ns").as("__share"))
      .select(col(srcCol), col("n_docs"), col("n_tokens"), col("__tt"),
        least(lit(maxEpochs.toLong),
          greatest(lit(1L), expr("__share DIV n_tokens"))).as("epochs"))
      .select(col(srcCol), col("n_docs"), col("n_tokens"), col("epochs"),
        (col("epochs") * col("n_tokens")).as("contributed_tokens"),
        expr(s"${1000000L / budgetFactor} * epochs * n_tokens DIV __tt")
          .as("budget_share_ppm"))
  }

  /** UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151): give
    * every source an equal share of the token budget, capped at
    * `maxEpochs` passes over what the source actually has, and recycle
    * the unused remainder of capped sources into the fair share of the
    * ones still open. The waterfill visits sources in ascending token
    * count (ties by name): at each step the open fair share is
    * `remaining DIV sourcesLeft`; a source takes
    * `min(n_tokens · maxEpochs, fairShare)`. Smallest-first makes the
    * fair share only ever GROW as capped leftovers recycle, which is what
    * yields the unique waterfill fixpoint.
    *
    * All arithmetic is integer (tokens and ppm, the repeatEpochs
    * discipline) so the sequential recurrence is bit-reproducible across
    * engines — no float drift across iterations. Overflow bound: the ppm
    * products cap usable tokens at ~9.2e12 per source / budget (≈ 35 TB
    * of text); past that swap the ppm scale for DECIMAL.
    *
    * The per-source census is #sources rows — a documented frozen
    * snapshot (the mixtureRatesPpm discipline); the waterfill recurrence
    * is sequential by nature (each fair share depends on every prior
    * allocation), so it runs on the driver over those k rows, never over
    * the corpus.
    */
  def unimaxAllocation(docs: DataFrame, srcCol: String = "source",
                       textCol: String = "text",
                       budgetFactorPct: Int = 200,
                       maxEpochs: Int = 2): DataFrame = {
    require(budgetFactorPct > 0, "budgetFactorPct must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val census = docs
      .select(col(srcCol).cast("string").as("source"),
        graft.functions.tokenCount(col(textCol)).cast("long").as("__tok"))
      .groupBy(col("source")).agg(sum(col("__tok")).as("n_tokens"))
      .as[(String, Long)].collect()
      .sortBy { case (s, n) => (n, s) }
    val total = census.map(_._2).sum
    val budget = total * budgetFactorPct / 100L
    var rem = budget
    var left = census.length
    val out = census.map { case (s, n) =>
      val alloc = math.min(n * maxEpochs, rem / left)
      rem -= alloc; left -= 1
      (s, n, alloc,
        if (n == 0L) 0L else 1000000L * alloc / n,
        if (budget == 0L) 0L else 1000000L * alloc / budget)
    }
    out.toSeq.toDF("source", "n_tokens", "alloc_tokens",
      "epochs_ppm", "weight_ppm")
  }

  /** UniMax-gated corpus selection: each source keeps
    * `min(epochs_ppm, 10^6)` of its docs — the [[unimaxAllocation]]
    * waterfill turned into a per-source keep rate on the portable doc-id
    * hash ([[mixtureGate]], so an independent engine draws the identical
    * row set). The gate SELECTS rather than repeats, so rates cap at one
    * pass; allocations above 1 epoch are [[repeatEpochs]]' territory.
    */
  def unimaxSample(docs: DataFrame, srcCol: String = "source",
                   textCol: String = "text", idCol: String = "doc_id",
                   budgetFactorPct: Int = 90,
                   maxEpochs: Int = 1): DataFrame = {
    val rates = unimaxAllocation(docs, srcCol, textCol, budgetFactorPct,
        maxEpochs)
      .select(col("source"),
        least(col("epochs_ppm"), lit(1000000L)).as("__ppm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    mixtureGate(docs, rates, srcCol, idCol)
  }

  // ------------------------------------------- leakage-safe train splits

  /** Per-split label from the portable hash: first `trainPct` buckets →
    * train, next `valPct` → val, rest → test. Shared by the naive and the
    * cluster-safe splitters so the two q-entries disagree ONLY in what
    * they hash (doc id vs cluster rep), never in bucket math.
    */
  private def threeWaySplit(key: Column, trainPct: Int, valPct: Int): Column = {
    val h = graft.functions.md5Hash31(key.cast("string")) % 100
    when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Cluster-safe train/val/test census: every near-dup CLUSTER lands
    * whole in one split (hash the component representative, not the doc),
    * so evaluation never sees a near-copy of a training document — the
    * leakage guarantee a naive per-doc hash split cannot give (measured by
    * [[splitLeakage]]). `pairs` is any (id_a, id_b) near-dup relation
    * (LSH, SimHash, embedding); docs absent from it are their own
    * singleton cluster.
    *
    * Scale shape: the pair pipeline and the CC label loop shuffle ids
    * only; the census is a hash aggregate over (id, rep) — text and
    * vectors never move, and nothing corpus-scale crosses the driver.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id",
                       trainPct: Int = 80, valPct: Int = 10): DataFrame =
    leakageSafeSplitFromReps(docs,
      Dedup.clusterNearDups(pairs, idCol = idCol), idCol, trainPct, valPct)

  /** [[leakageSafeSplit]] against an ALREADY-DERIVED (id, cluster_rep)
    * relation — the composition shape when the rep table is computed once
    * and shared (e.g. [[Dedup.ensurePairClusters]]) instead of re-running
    * the pair pipeline + CC loop per consumer.
    */
  def leakageSafeSplitFromReps(docs: DataFrame, clusterReps: DataFrame,
                               idCol: String = "doc_id",
                               trainPct: Int = 80,
                               valPct: Int = 10): DataFrame =
    assignSplits(docs, clusterReps, idCol, trainPct, valPct)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split_key")).as("n_clusters"))

  /** Per-doc split assignment against a (id, cluster_rep) relation —
    * the row-level core [[leakageSafeSplit]] aggregates, exposed
    * separately because it is also the STREAMING shape: a doc stream
    * assigns splits via a stream-static left join against the frozen
    * rep table (no driver-side map — the rep relation is corpus-sized,
    * so it stays a joinable side input, never a collected literal).
    * Docs absent from the rep table hash as their own singleton.
    */
  def assignSplits(docs: DataFrame, clusterReps: DataFrame,
                   idCol: String = "doc_id",
                   trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    docs.select(col(idCol))
      .join(clusterReps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("split_key"))
      .withColumn("split", threeWaySplit(col("split_key"), trainPct, valPct))
  }

  /** Incremental leakage-safe split: assign splits to a NEW batch
    * against an EXISTING corpus without re-clustering the corpus — the
    * operational shape at 100 TB (the q59/q60 incremental-dedup
    * discipline applied to eval hygiene). A batch doc that near-dups a
    * corpus doc INHERITS that doc's cluster split (smallest matched rep
    * for determinism when matches span clusters); unmatched docs hash
    * as their own singleton, which is exactly what the full re-split
    * would assign them. Matching is LSH candidates + exact-jaccard
    * verify batch↔corpus only — corpus-internal pairs come from the
    * corpus's standing rep table, never recomputed per batch.
    */
  def incrementalSplitAssign(corpus: DataFrame, batch: DataFrame,
                             corpusReps: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             trainPct: Int = 80, valPct: Int = 10,
                             shingleK: Int = 2, numPerm: Int = 64,
                             bands: Int = 16,
                             threshold: Double = 0.8): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    val matches = Dedup.nearDupMatches(batch, corpus, idCol, textCol,
      shingleK, numPerm, bands, threshold)
    val inherited = matches
      .join(corpusReps.select(col(idCol).as("__cid"),
        col("cluster_rep")), Seq("__cid"), "left")
      .select(col("__bid"),
        coalesce(col("cluster_rep"), col("__cid")).as("__rep"))
      .groupBy(col("__bid"))
      .agg(min(col("__rep")).as("__rep"))
    batch.select(col(idCol))
      .join(inherited.withColumnRenamed("__bid", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__rep"), col(idCol)).as("split_key"))
      .withColumn("split", threeWaySplit(col("split_key"), trainPct, valPct))
  }

  /** Temporal train/test split with an EMBARGO band: train strictly
    * before (split − gap), test at/after split, and the gap rows held
    * out of BOTH — the time-series leakage guard (autocorrelated
    * features straddling the boundary leak future information into
    * training; the embargo absorbs the correlation length). `split` is
    * a 1-row (__split) epoch-day frame — typically data-derived — that
    * broadcasts into a map-only segment gate; the census is one
    * aggregate. All day math is exact integers.
    */
  def embargoSplit(events: DataFrame, tsCol: String, userCol: String,
                   split: DataFrame, embargoDays: Int): DataFrame = {
    require(embargoDays >= 0, "embargoDays must be >= 0")
    val day = (unix_timestamp(date_trunc("day", col(tsCol))) / 86400L)
      .cast("long")
    events.select(day.as("__day"), col(userCol).as("__u"))
      .crossJoin(broadcast(split))
      .select(
        when(col("__day") < col("__split") - embargoDays, "train")
          .when(col("__day") < col("__split"), "embargo")
          .otherwise("test").as("segment"),
        col("__day"), col("__u"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("__u")).as("n_users"),
        min(col("__day")).as("first_day"), max(col("__day")).as("last_day"))
  }

  /** [[embargoSplit]] PER PROVENANCE GROUP — time-series eval hygiene
    * for multi-source corpora: the same global data-derived boundary and
    * embargo band, censused per (group, segment), so a source that goes
    * quiet before the boundary (its test slice would be empty) or spikes
    * inside the embargo is visible per source instead of averaged away.
    * Same map-only gate off the broadcast 1-row boundary; one aggregate.
    */
  def embargoSplitByGroup(events: DataFrame, tsCol: String,
                          userCol: String, groupCol: String,
                          split: DataFrame, embargoDays: Int): DataFrame = {
    require(embargoDays >= 0, "embargoDays must be >= 0")
    val day = (unix_timestamp(date_trunc("day", col(tsCol))) / 86400L)
      .cast("long")
    events.select(col(groupCol), day.as("__day"), col(userCol).as("__u"))
      .crossJoin(broadcast(split))
      .select(col(groupCol),
        when(col("__day") < col("__split") - embargoDays, "train")
          .when(col("__day") < col("__split"), "embargo")
          .otherwise("test").as("segment"),
        col("__day"), col("__u"))
      .groupBy(col(groupCol), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("__u")).as("n_users"),
        min(col("__day")).as("first_day"), max(col("__day")).as("last_day"))
  }

  /** Cluster-safe k-fold census: [[leakageSafeSplit]]'s guarantee for
    * cross-validation — every near-dup cluster lands whole in ONE fold
    * (hash the CC rep mod `folds`), so no fold's held-out slice contains
    * a near-copy of another fold's training data.
    */
  def clusterKFold(docs: DataFrame, pairs: DataFrame, folds: Int,
                   idCol: String = "doc_id"): DataFrame =
    clusterKFoldFromReps(docs,
      Dedup.clusterNearDups(pairs, idCol = idCol), folds, idCol)

  /** [[clusterKFold]] against an already-derived (id, cluster_rep)
    * relation — the [[Dedup.ensurePairClusters]] composition shape, same
    * rationale as [[leakageSafeSplitFromReps]].
    */
  def clusterKFoldFromReps(docs: DataFrame, clusters: DataFrame, folds: Int,
                           idCol: String = "doc_id"): DataFrame = {
    require(folds > 1, "folds must be > 1")
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(coalesce(col("cluster_rep"), col(idCol)).as("__rep"))
      .withColumn("fold",
        (graft.functions.md5Hash31(col("__rep").cast("string")) %
          folds.toLong).cast("int"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__rep")).as("n_clusters"))
  }

  /** Deterministic epoch shuffle: shard + in-shard position from the
    * portable hash of (epoch, id) — a different but REPRODUCIBLE order
    * every epoch, the property training-data loaders need (re-runs,
    * resumes, and an independent engine derive the identical order).
    * Scale shape: the per-shard position window distributes across
    * shards; there is deliberately NO global row number (a single-
    * partition sort) — consumers read shards in shard order, positions
    * within.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = graft.functions.md5Hash31(
      concat(lit(s"$epoch:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.select(col(idCol))
      .withColumn("__h", h)
      .withColumn("shard", (col("__h") % shards.toLong).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Source-balanced curriculum interleave: rank docs within each source
    * by a quality proxy (descending), then emit (round, slot) so that
    * consuming in (round, slot) order reads every source's best doc
    * before any source's second-best — round-robin interleaving without
    * a global sort. `round` = the doc's within-source rank; `slot` = its
    * position among the sources still present in that round. Both
    * windows are keyed (source, round) — fully distributed; the total
    * order is the WRITER's range partitioning over (round, slot), never
    * a single-partition window here.
    */
  def curriculumInterleave(df: DataFrame, srcCol: String,
                           qualityCol: String, idCol: String): DataFrame = {
    val perSrc = Window.partitionBy(col(srcCol))
      .orderBy(desc(qualityCol), col(idCol).asc)
    val perRound = Window.partitionBy(col("round"))
      .orderBy(col(srcCol).asc, col(idCol).asc)
    df.select(col(idCol), col(srcCol), col(qualityCol))
      .withColumn("round", row_number().over(perSrc).cast("long"))
      .withColumn("slot", row_number().over(perRound).cast("long"))
      .select(col(idCol), col(srcCol), col("round"), col("slot"))
  }

  /** Leakage audit of the NAIVE per-doc hash split: how many near-dup
    * pairs straddle split boundaries. The (train, val)/(train, test) rows
    * are exactly the eval-contamination a cluster-safe split eliminates;
    * the diagonal rows are harmless. Pair labels are canonicalized
    * (least/greatest) so each unordered split pair is one row.
    */
  def splitLeakage(pairs: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    pairs
      .select(threeWaySplit(col("id_a"), trainPct, valPct).as("__sa"),
        threeWaySplit(col("id_b"), trainPct, valPct).as("__sb"))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Greedy max-coverage source selection — "which data providers
    * actually add content?": pick sources one at a time, each round
    * taking the source whose shingle set adds the most UNSEEN k-shingles
    * over everything already picked (the facility-location greedy;
    * Nemhauser–Wolsey–Fisher 1978's (1−1/e) guarantee for submodular
    * coverage, public). The marginal-value curve this emits is the
    * diminishing-returns evidence a mixture designer reads before
    * paying for another crawl of provider N.
    *
    * Determinism: marginal ties break toward the lexicographically
    * smallest source in BOTH engines; shingles are portable-hashed
    * (md5Hash31 — the oracle hashes identically, so even a collision
    * agrees cross-engine). Runs at most `rounds` rounds, fewer if
    * sources run out — the fixed-unroll oracle contract.
    *
    * Scale shape (r17): the corpus reduces ONCE to the distinct (source,
    * shingle-hash) relation; when the source universe is small (≤ 20 —
    * the common "which providers" shape), a SECOND one-pass aggregate
    * folds that relation to the per-shingle source-membership BITMASK
    * histogram (≤ 2^nSrc rows, corpus-size-independent — the q252
    * bounded-histogram discipline), and the greedy replays on the
    * driver over the histogram alone: two corpus passes total, zero
    * per-round jobs, byte-identical picks (marginal of s = Σ counts of
    * masks containing s and disjoint from the picked set — exactly the
    * anti-join count). With more sources it falls back to the r16
    * per-round anti-join + argmax loop (one hash-keyed anti-join + a
    * #sources-row aggregate per round, 1-row argmax to the driver).
    * Returns (round, source, new_shingles, cumulative_shingles).
    */
  def greedySourceCoverage(docs: DataFrame, srcCol: String = "source",
                           textCol: String = "text", shingleK: Int = 3,
                           rounds: Int = 5): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val release = org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    val spark = docs.sparkSession
    val sh = Spread.spread(docs.select(col(srcCol), col(textCol)))
      .select(col(srcCol).as("source"),
        explode(graft.functions.wordShingles(col(textCol), shingleK))
          .as("__s"))
      .select(col("source"), graft.functions.md5Hash31(col("__s")).as("__h"))
      .distinct()
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long)]
    var cum = 0L
    val srcs = sh.select(col("source")).distinct()
      .orderBy(col("source")).collect().map(_.getString(0))
    // empty source universe (no docs, or every text shorter than
    // shingleK): empty in, empty out — no round can pick anything
    if (srcs.isEmpty) ()
    else if (srcs.length <= 20) {
      // mask-histogram fast path: one aggregate over sh, then the greedy
      // touches only the ≤ 2^nSrc-row (mask, count) histogram
      val bitExpr = srcs.zipWithIndex.tail.foldLeft(
          when(col("source") === srcs.head, lit(1L))) {
        case (acc, (sname, i)) => acc.when(col("source") === sname, lit(1L << i))
      }.otherwise(lit(0L))
      val hist = sh
        .select(col("__h"), bitExpr.as("__bit"))
        .groupBy(col("__h")).agg(expr("bit_or(__bit)").as("__mask"))
        .groupBy(col("__mask")).agg(count(lit(1)).as("__n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      var pickedMask = 0L
      var exhausted = false
      for (r <- 1 to rounds if !exhausted) {
        var bestIdx = -1
        var bestM = 0L
        for (i <- srcs.indices if (pickedMask & (1L << i)) == 0L) {
          var m = 0L
          for ((mask, n) <- hist)
            if ((mask & (1L << i)) != 0L && (mask & pickedMask) == 0L) m += n
          // strict >: equal marginals keep the earlier (lexicographically
          // smaller — srcs is sorted) source, the orderBy tiebreak; m ≥ 1
          // mirrors the loop path, where a fully-covered source has no
          // freshRel rows and cannot win the argmax
          if (m > bestM) { bestM = m; bestIdx = i }
        }
        if (bestIdx < 0) exhausted = true
        else {
          cum += bestM
          out += ((r, srcs(bestIdx), bestM, cum))
          pickedMask |= 1L << bestIdx
        }
      }
    } else {
      var picked = List.empty[String]
      var covered: DataFrame = null
      var exhausted = false
      for (r <- 1 to rounds if !exhausted) {
        val remaining =
          if (picked.isEmpty) sh
          else sh.filter(!col("source").isin(picked: _*))
        val freshRel =
          if (covered == null) remaining
          else remaining.join(covered, Seq("__h"), "left_anti")
        // sh is distinct per (source, h): count(*) IS the distinct marginal
        val best = freshRel.groupBy(col("source"))
          .agg(count(lit(1)).as("__m"))
          .orderBy(desc("__m"), col("source"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val src = best(0).getString(0)
          val m = best(0).getLong(1)
          cum += m
          out += ((r, src, m, cum))
          picked = picked :+ src
          val nextCov = (if (covered == null)
              sh.filter(col("source") === src).select(col("__h"))
            else covered.union(
              sh.filter(col("source") === src).select(col("__h"))).distinct())
            .localCheckpoint()
          if (covered != null) release(covered)
          covered = nextCov
        }
      }
      if (covered != null) release(covered)
    }
    release(sh)
    import spark.implicits._
    out.toSeq
      .toDF("round", "source", "new_shingles", "cumulative_shingles")
  }

  /** Deterministic FIXED-SIZE per-group sample: the `n` rows with the
    * smallest portable id-hash per group ("give me 500 docs per source
    * for eval/eyeballing"). [[hashSample]]'s percent gate over- or
    * under-shoots small groups; this is exact-n per group (fewer only
    * when the group is smaller), reproducible across runs and engines
    * (md5-based hash, id tie-break for the collision case). Scale shape:
    * [[graft.plans.TopK.perGroup]] bounded buffers — no group ever holds
    * more than n rows in any task, shuffle carries ≤ n·tasks rows per
    * group, never the group.
    */
  def groupSample(df: DataFrame, groupCol: String, idCol: String,
                  n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    graft.plans.TopK.perGroup(
        df.withColumn("__h",
          graft.functions.md5Hash31(col(idCol).cast("string"))),
        Seq(groupCol), Seq(("__h", false), (idCol, false)), n)
      .drop("__h")
  }

  /** Systematic weight-proportional sampling: lay every row's weight on
    * the global [0, ΣW) number line in ascending `idCol` order and keep
    * the rows whose interval contains a multiple of step = ⌊ΣW / k⌋ —
    * ~k rows selected with inclusion probability ∝ weight, fully
    * deterministic (no RNG, no float: pure integer interval arithmetic,
    * so an SQL oracle replays the exact pick set). The classic use:
    * "sample k documents proportional to token count" for a
    * token-budgeted eval slice. Rows heavier than step can be picked
    * once per contained multiple conceptually but emit ONCE here (the
    * containment test, not a per-multiple explode).
    *
    * Scale shape: the global offset is [[Packing.packConcatChop]]'s
    * two-level prefix scan (parallel within-bucket windows + a
    * buckets-sized tiny window) — no single-partition corpus sort; ΣW
    * and step ride as a broadcast 1-row frame.
    */
  def systematicWeightedSample(df: DataFrame, weightCol: String, k: Int,
                               idCol: String = "doc_id",
                               buckets: Int = 256): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val off = Packing.packConcatChop(df, weightCol, capacity = 1,
        idCol = idCol, buckets = buckets)
      .select(col(idCol), col("n_tokens").as("weight"),
        col("start_offset"))
    val tot = off.agg(coalesce(sum(col("weight")), lit(0L)).as("__tot"))
    off.crossJoin(broadcast(tot))
      .withColumn("__step",
        greatest(expr(s"__tot DIV ${k.toLong}"), lit(1L)))
      // a multiple of step lies in [s, s+w) iff s is itself a multiple
      // or the next multiple after s DIV step lands before s+w — all
      // integer, so both engines agree bit-for-bit
      .filter(col("weight") > 0 &&
        (pmod(col("start_offset"), col("__step")) === 0 ||
          expr("(start_offset + weight - 1) DIV __step") >
            expr("start_offset DIV __step")))
      .select(col(idCol), col("weight"), col("start_offset"))
  }
}
