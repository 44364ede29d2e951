package graft.ops

import graft.Materialize.CheckpointSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining batches (north-star extension):
  * documents are concatenated in id order and chopped into fixed-capacity
  * context windows ("concat-and-chop", the packing used by GPT-style
  * pretraining loaders — every window is exactly `capacity` tokens, docs
  * may straddle a boundary). The alternative, bin packing without
  * splitting, needs a sequential capacity-reset scan that neither
  * distributes nor SQL-expresses; concat-and-chop is both the industry
  * default and embarrassingly parallel once each doc knows its global
  * token offset.
  *
  * The offset is a global prefix sum. A naive `sum over (order by id)`
  * window is a SINGLE-partition sort — the whole corpus through one task,
  * a scale-killer at 100 TB. Instead the classic two-level scan:
  * monotonically bucket the id range, cumsum WITHIN each bucket (parallel
  * windows), then window only the per-bucket subtotals (≤ `buckets` rows,
  * trivially single-partition) and broadcast the bucket base offsets back.
  * Wall-clock is one scan + one tiny agg regardless of corpus size.
  */
object Packing {

  /** Per-document packing assignment: global token offset, first/last
    * context window touched, windows spanned, offset within the first
    * window. `tokCol` must be a non-negative token count; docs are packed
    * in ascending `idCol` order (deterministic, append-friendly — new ids
    * pack after old ones, see the streaming twin). `base` shifts every
    * offset (the streaming twin passes the running total of prior
    * batches). A 0-token doc is degenerate (never occurs after
    * tokenization): it sits AT its offset without shifting later docs,
    * and [[packingCensus]] excludes it.
    */
  def packConcatChop(docs: DataFrame, tokCol: String, capacity: Int,
                     idCol: String = "doc_id", buckets: Int = 256,
                     base: Long = 0L,
                     carryCols: Seq[String] = Nil): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    // carryCols ride the bucketed prefix-sum lane untouched and appear on
    // the output — a consumer that needs per-doc side data (e.g. the
    // multimodal census's image split) avoids re-joining the corpus on id
    // (an avoidable shuffle pair at 100 TB) just to recover a column the
    // scan already had
    val t = docs.select(col(idCol) +:
      col(tokCol).cast("long").as("n_tokens") +:
      carryCols.map(col): _*)
    // id range as a 1-row broadcast scalar ride (no driver collect): the
    // bucket of an id is monotone in the id, so within-bucket order +
    // bucket order = global order
    val bounds = t.agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
    val span = (col("__hi") - col("__lo")) / lit(buckets.toLong)
    val bucketed = t.crossJoin(broadcast(bounds))
      .withColumn("__b", floor((col(idCol) - col("__lo")) /
        (floor(span) + lit(1L))).cast("int"))
      .drop("__lo", "__hi")
    // parallel lane: inclusive cumsum within each bucket
    val wIn = Window.partitionBy(col("__b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__cum", sum(col("n_tokens")).over(wIn))
    // tiny lane: base offset of each bucket = sum of all PRIOR buckets'
    // totals — an unpartitioned window, but over ≤ `buckets` rows by
    // construction, never the corpus
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bucketed.groupBy(col("__b"))
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    val cap = lit(capacity.toLong)
    local.join(broadcast(bases), Seq("__b"))
      .withColumn("start_offset",
        lit(base) + col("__off") + col("__cum") - col("n_tokens"))
      .select(col(idCol) +:
        col("n_tokens") +:
        col("start_offset") +:
        floor(col("start_offset") / cap).as("first_seq") +:
        (floor((col("start_offset") + col("n_tokens") - 1) / cap) -
          floor(col("start_offset") / cap) + 1).as("n_seqs") +:
        pmod(col("start_offset"), cap).as("offset_in_seq") +:
        carryCols.map(col): _*)
  }

  /** Balanced training-shard assignment by snake (boustrophedon) order:
    * docs ranked by descending token count (ties by id), then dealt to
    * `nShards` shards alternating direction each round — the standard
    * parallel approximation of greedy LPT bin-balancing (LPT itself is a
    * sequential loop that neither distributes nor SQL-expresses; snake's
    * imbalance is bounded by one max-minus-min doc per round pair).
    * Per-shard doc counts differ by at most 1 by construction.
    *
    * The global rank is the same two-level scan as [[packConcatChop]],
    * bucketed on the SORT key instead of the id: token-count value ranges
    * are monotone in the rank order (bucket 0 = the largest counts), equal
    * counts always land in one bucket so cross-bucket ties cannot occur,
    * ranks within a bucket are a parallel partitioned window, and only the
    * per-bucket ROW COUNTS (≤ `buckets` rows) ride an unpartitioned
    * window. Value-range buckets skew if the count distribution is lumpy —
    * raise `buckets` (cheap: the tiny lane stays tiny) rather than ever
    * falling back to a corpus-wide sort.
    */
  def snakeShardAssign(docs: DataFrame, tokCol: String, nShards: Int,
                       idCol: String = "doc_id",
                       buckets: Int = 256): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val t = docs.select(col(idCol), col(tokCol).cast("long").as("n_tokens"))
    val bounds = t.agg(min(col("n_tokens")).as("__lo"),
      max(col("n_tokens")).as("__hi"))
    val span = (col("__hi") - col("__lo")) / lit(buckets.toLong)
    val bucketed = t.crossJoin(broadcast(bounds))
      .withColumn("__b", floor((col("__hi") - col("n_tokens")) /
        (floor(span) + lit(1L))).cast("int"))
      .drop("__lo", "__hi")
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("n_tokens").desc, col(idCol))
    val local = bucketed.withColumn("__r", row_number().over(wIn).cast("long"))
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bucketed.groupBy(col("__b"))
      .agg(count(lit(1)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    val n = lit(nShards.toLong)
    local.join(broadcast(bases), Seq("__b"))
      .withColumn("rank", col("__off") + col("__r") - lit(1L))
      .withColumn("shard",
        when(pmod(floor(col("rank") / n), lit(2L)) === 0, pmod(col("rank"), n))
          .otherwise(n - lit(1L) - pmod(col("rank"), n)).cast("int"))
      .select(col(idCol), col("n_tokens"), col("rank"), col("shard"))
  }

  /** Per-shard census over a [[snakeShardAssign]] output: docs, tokens,
    * and the balance ratio (shard tokens ÷ the ideal equal share — the
    * number a loader watches before declaring shards usable). The corpus
    * total rides a 1-row broadcast scalar, never a driver collect.
    */
  def shardCensus(assigned: DataFrame, nShards: Int): DataFrame = {
    val tot = assigned.agg(sum(col("n_tokens")).as("__tot"))
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("balance_ratio",
        round(col("n_tokens").cast("double") * lit(nShards.toDouble) /
          col("__tot").cast("double"), 6))
      .drop("__tot")
  }

  /** Per-window census over a [[packConcatChop]] assignment: how many docs
    * touch each window, how many carried over from the previous one, how
    * full it is. Each doc explodes to exactly the windows it occupies
    * (`sequence(first, last)` — output-sized, ≤ n_seqs rows per doc), so
    * the census is a plain hash aggregation; the final window of the
    * corpus reports its true partial fill.
    */
  def packingCensus(packed: DataFrame, capacity: Int): DataFrame = {
    val cap = lit(capacity.toLong)
    packed
      .filter(col("n_tokens") > 0)
      .select(col("start_offset"), col("n_tokens"), col("first_seq"),
        explode(sequence(col("first_seq"),
          col("first_seq") + col("n_seqs") - 1)).as("seq_id"))
      .withColumn("__tok_here",
        least((col("seq_id") + 1) * cap, col("start_offset") + col("n_tokens"))
          - greatest(col("seq_id") * cap, col("start_offset")))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("first_seq") < col("seq_id"), 1L).otherwise(0L))
          .as("n_carried"),
        sum(col("__tok_here")).as("n_tokens"))
      .withColumn("fill_ratio",
        round(col("n_tokens").cast("double") / cap, 6))
  }

  /** Multimodal (VLM) window census — [[packingCensus]] with the budget
    * SPLIT by modality. Production VLM packers reduce the two-budget
    * problem (text tokens + image slots) to 1-D by charging every image
    * a FIXED patch-token cost at the vision encoder's resolution
    * (LLaVA/PaLI-style: an image IS `imgTokens` sequence positions), so
    * a doc's effective cost is `tokCol + imgCol·imgTokens` and the
    * exact two-level-prefix packer applies unchanged. The census then
    * reports, per context window, how the fill divides into image patch
    * tokens vs text — the sequence-composition dial a VLM trainer tunes
    * (too-high image share starves the language loss).
    *
    * Convention (mirrored exactly by the oracle): a doc's image patches
    * sit at its START — [st, st+img) — text fills the rest; windows
    * attribute each doc's tokens by exact integer interval overlap.
    * Shape: the packer's two-level scan with the image split riding the
    * carry lane (no id-keyed re-join of the corpus), then docs explode
    * to exactly the windows they occupy (output-sized) and aggregate
    * per window. All integers; share in integer ppm.
    */
  def multimodalWindowCensus(docs: DataFrame, tokCol: String,
                             imgCol: String, imgTokens: Int, capacity: Int,
                             idCol: String = "doc_id"): DataFrame = {
    require(imgTokens >= 1 && capacity > 0,
      s"bad params: imgTokens=$imgTokens capacity=$capacity")
    val eff = docs.select(col(idCol),
      (col(tokCol).cast("long") + col(imgCol).cast("long") * imgTokens)
        .as("__eff"),
      (col(imgCol).cast("long") * imgTokens).as("__img"))
    // __img rides packConcatChop's carry lane — no id-keyed re-join of
    // the corpus (an avoidable shuffle pair) to recover the image split
    val asg = packConcatChop(eff, "__eff", capacity, idCol,
      carryCols = Seq("__img"))
    val cap = lit(capacity.toLong)
    asg
      .filter(col("n_tokens") > 0)
      .select(col("start_offset").as("__st"), col("n_tokens").as("__n"),
        col("__img"),
        explode(sequence(col("first_seq"),
          col("first_seq") + col("n_seqs") - 1)).as("seq_id"))
      .select(col("seq_id"),
        (least((col("seq_id") + 1) * cap, col("__st") + col("__n")) -
          greatest(col("seq_id") * cap, col("__st"))).as("__tok_here"),
        greatest(lit(0L),
          least((col("seq_id") + 1) * cap, col("__st") + col("__img")) -
            greatest(col("seq_id") * cap, col("__st"))).as("__img_here"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok_here")).as("fill_tokens"),
        sum(col("__img_here")).as("image_tokens"),
        (sum(col("__tok_here")) - sum(col("__img_here"))).as("text_tokens"),
        sum(when(col("__img_here") > 0, 1L).otherwise(0L))
          .as("n_docs_with_image_tokens"))
      .withColumn("image_share_ppm",
        expr("1000000 * image_tokens DIV fill_tokens"))
  }

  /** Histogram-based complement packing plan — the no-split alternative
    * to [[packConcatChop]] (the SPFHP family of Krell et al. 2021,
    * arXiv:2107.02027, public; simplified to ≤ 2 docs per pack): pair
    * each longest remaining length with the longest length that still
    * fits the capacity, in BULK off the length histogram, so attention
    * never crosses a document boundary and padding is what the plan
    * says it is. The greedy runs on the ≤ `capacity`-row (length →
    * count) histogram — a documented frozen snapshot (the
    * [[graft.ops.Sampling.unimaxAllocation]] discipline: the corpus
    * reduces map-side to the histogram; the driver loop touches only
    * that) — and each step zeroes or near-zeroes a length, so it takes
    * O(capacity) iterations regardless of corpus size (hard-guarded).
    * Over-long docs clamp to `capacity` (they pack solo); non-positive
    * lengths are excluded.
    *
    * Step semantics (mirrored EXACTLY by the recursive-CTE oracle —
    * all-integer, zero float risk): L = longest length with count > 0;
    * M = longest length ≤ capacity − L with a count left after
    * reserving one L (so an L can pair with its own kind only when two
    * exist); if no M, all L's go solo; if M = L, ⌊count/2⌋ self-pairs
    * form; else min(count_L, count_M) (L, M) pairs form. One strategy
    * row per step — (L, M) pairs never repeat because every step
    * exhausts one side and counts never grow.
    *
    * Returns (len_a, len_b ∅ for solo, n_packs, fill_tokens,
    * fill_ratio).
    */
  def complementPackingPlan(docs: DataFrame, tokCol: String,
                            capacity: Int): DataFrame =
    planFromTrace(docs.sparkSession,
      complementPlanTrace(docs, tokCol, capacity), capacity)

  /** [[complementPackingPlan]] from a PRE-AGGREGATED (value, count)
    * histogram — the monitor form (a [[graft.streaming.EventStream]]
    * token-count snapshot instead of the docs themselves): over-capacity
    * lengths clamp into the capacity bucket, non-positives drop, then
    * the identical greedy runs. A unit test pins this form equal to the
    * row form on the same corpus, and the streaming twin reads the SAME
    * `valueCountMonitor` snapshot the drift monitors use — one ingest
    * loop feeds drift scoring AND loader planning.
    */
  def complementPackingPlanFromCounts(counts: DataFrame, valueCol: String,
                                      countCol: String,
                                      capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity ($capacity) must be >= 1")
    val hist = counts
      .select(least(col(valueCol).cast("long"), lit(capacity.toLong))
        .as("__l"), col(countCol).cast("long").as("__c"))
      .filter(col("__l") >= 1)
      .groupBy(col("__l")).agg(sum(col("__c")).as("__c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    planFromTrace(counts.sparkSession, traceFromHistogram(hist, capacity),
      capacity)
  }

  private def planFromTrace(spark: org.apache.spark.sql.SparkSession,
      trace: Seq[(Int, Long, Option[Long], Long)],
      capacity: Int): DataFrame = {
    import spark.implicits._
    trace.map { case (_, la, lb, k) => (la, lb, k) }
      .toDF("len_a", "len_b", "n_packs")
      .select(col("len_a"), col("len_b"), col("n_packs"),
        (col("len_a") + coalesce(col("len_b"), lit(0L)))
          .as("fill_tokens"),
        round((col("len_a") + coalesce(col("len_b"), lit(0L)))
          .cast("double") / capacity, 6).as("fill_ratio"))
  }

  /** The greedy's step trace (1-based step, len_a, len_b, n_packs) —
    * shared by [[complementPackingPlan]] and [[complementPackAssign]] so
    * the plan census and the doc-level assignment can never disagree.
    * Corpus work is the map-side histogram reduction; the loop runs on
    * the collected ≤ `capacity`-row histogram (documented frozen
    * snapshot, hard-guarded at O(capacity) iterations).
    */
  private def complementPlanTrace(docs: DataFrame, tokCol: String,
      capacity: Int): Seq[(Int, Long, Option[Long], Long)] = {
    require(capacity >= 1, s"capacity ($capacity) must be >= 1")
    val hist = docs
      .select(least(col(tokCol).cast("long"), lit(capacity.toLong))
        .as("__l"))
      .filter(col("__l") >= 1)
      .groupBy(col("__l")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    traceFromHistogram(hist, capacity)
  }

  private def traceFromHistogram(hist: Map[Int, Long],
      capacity: Int): Seq[(Int, Long, Option[Long], Long)] = {
    val c = Array.fill(capacity + 1)(0L)
    hist.foreach { case (l, n) => c(l) = n }
    def maxIdx(pred: Int => Boolean): Int = {
      var i = capacity
      while (i >= 1 && !pred(i)) i -= 1
      if (i >= 1) i else 0
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Option[Long], Long)]
    var step = 0
    var big = maxIdx(c(_) > 0)
    while (big > 0) {
      step += 1
      require(step <= 4 * capacity + 4,
        "complementPlanTrace: loop guard tripped — step semantics broken")
      val lim = capacity - big
      val m =
        if (lim >= 1)
          maxIdx(i => i <= lim &&
            c(i) - (if (i == big) 1L else 0L) > 0)
        else 0
      if (m == 0) { out += ((step, big.toLong, None, c(big))); c(big) = 0 }
      else if (m == big) {
        val k = c(big) / 2
        out += ((step, big.toLong, Some(big.toLong), k)); c(big) -= 2 * k
      } else {
        val k = math.min(c(big), c(m))
        out += ((step, big.toLong, Some(m.toLong), k))
        c(big) -= k; c(m) -= k
      }
      big = maxIdx(c(_) > 0)
    }
    out.toSeq
  }

  /** Doc-level realization of [[complementPackingPlan]]: which pack does
    * each document land in, and with whom? Documents take a per-length
    * rank (ordered by id — deterministic and append-stable), the trace
    * expands to per-length CONSUMPTION INTERVALS (each step consumes a
    * contiguous rank range of its lengths; within a self-pair step the
    * a-side ranks precede the b-side), and a broadcast equi-join on
    * length with the range as join filter maps every doc to its (step,
    * role, slot). Partners are the a↔b rows sharing (step, slot) — an
    * (id, id)-keyed join, so a pack is addressable as (step, slot) and
    * a loader can materialize it without any further shuffle.
    *
    * Scale shape: the trace/interval table is ≤ 2·O(capacity) rows and
    * broadcasts; the per-length rank window spreads over ≤ capacity
    * partitions (the length IS the partition key); the partner map
    * shuffles (id, id) pairs only. Returns (doc_id, len, step, role,
    * slot, partner_id ∅ for solo, pack_tokens).
    */
  def complementPackAssign(docs: DataFrame, idCol: String,
                           tokCol: String, capacity: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val evs = complementPlanTrace(docs, tokCol, capacity)
      .flatMap { case (st, la, lbO, k) =>
        lbO match {
          case None     => Seq((la, st, "solo", k))
          case Some(lb) => Seq((la, st, "a", k), (lb, st, "b", k))
        }
      }
    val w = Window.partitionBy(col("__l")).orderBy(col("step"), col("role"))
    val iv = evs.toDF("__l", "step", "role", "__k")
      .withColumn("__hi", sum(col("__k")).over(w))
      .withColumn("__lo", col("__hi") - col("__k"))
    val ranked = docs
      .select(col(idCol).as("doc_id"),
        least(col(tokCol).cast("long"), lit(capacity.toLong)).as("__l"))
      .filter(col("__l") >= 1)
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__l")).orderBy(col("doc_id")))
        .cast("long"))
    val asg = ranked.join(broadcast(iv), Seq("__l"))
      .filter(col("__r") > col("__lo") && col("__r") <= col("__hi"))
      .select(col("doc_id"), col("__l").as("len"), col("step"),
        col("role"), (col("__r") - col("__lo")).as("slot"))
      .checkpointed
    val pr = asg.filter(col("role") === "a")
      .select(col("step"), col("slot"), col("doc_id").as("__aid"),
        col("len").as("__alen"))
      .join(asg.filter(col("role") === "b")
        .select(col("step"), col("slot"), col("doc_id").as("__bid"),
          col("len").as("__blen")), Seq("step", "slot"))
    val pm = pr.select(col("__aid").as("doc_id"),
        col("__bid").as("partner_id"), col("__blen").as("__plen"))
      .union(pr.select(col("__bid"), col("__aid"), col("__alen")))
    asg.join(pm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("len"), col("step"), col("role"),
        col("slot"), col("partner_id"),
        (col("len") + coalesce(col("__plen"), lit(0L))).as("pack_tokens"))
  }
}
