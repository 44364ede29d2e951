package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Text-corpus analysis operators for training-data pipelines (north-star
  * extension; SURVEY.md §2.11). All column-expression based — fully
  * codegen'd, no UDFs, no shuffles except the final aggregations, so every
  * op scales linearly with input splits.
  */
object TextAnalysis {

  /** Per-document token statistics (whitespace + BPE-ish counts). */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val ts = tokens(col(textCol))
    docs.select(
      col("doc_id"),
      tokenCount(col(textCol)).as("n_tokens"),
      length(trim(col(textCol))).as("n_chars_trim"),
      size(array_distinct(ts)).as("n_distinct_tokens"),
      bpeTokenCount(col(textCol)).as("n_bpe_tokens"))
  }

  /** Ratio of characters matching `charClass` (a regex character class like
    * "[.,!?;:]") — computed via length-difference after regexp_replace so the
    * identical formula is expressible in the DuckDB oracle.
    */
  def charClassRatio(text: Column, charClass: String): Column = {
    val total = length(text)
    when(total === 0, lit(0.0)).otherwise(
      (total - length(regexp_replace(text, charClass, ""))).cast("double") /
        total.cast("double"))
  }

  /** A small multilingual stopword list for the quality heuristics. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "le", "la", "et", "de", "un", "une",
    "der", "die", "das", "und", "ein",
    "el", "los", "y", "en", "que")

  /** Heuristic quality score per document: blends token count, mean token
    * length, stopword ratio and punctuation density. Deterministic and
    * SQL-expressible; thresholds are the usual C4-style heuristics.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text",
                   carryCols: Seq[String] = Nil): DataFrame = {
    val ts = tokens(col(textCol))
    val nTok = size(ts).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(array_intersect(array_distinct(ts), stopArr)).cast("double")
    docs.select(
      (col("doc_id") +: carryCols.map(col)) ++ Seq(
      nTok.as("n_tokens"),
      when(nTok === 0, lit(0.0))
        .otherwise(length(regexp_replace(col(textCol), "[ \\t\\n\\f\\r]", ""))
          .cast("double") / nTok)
        .as("mean_token_len"),
      when(nTok === 0, lit(0.0)).otherwise(nStop / nTok).as("stopword_ratio"),
      charClassRatio(col(textCol), "[.,!?;:]").as("punct_ratio")): _*)
  }

  /** Model-based quality scoring: a frozen LINEAR classifier (logistic
    * over the [[qualityScore]] features) evaluated as a pure column
    * expression — the fastText-classifier-style quality filter of the
    * LLaMA/CCNet pipelines, with inference folded into the scan. No UDF,
    * no model server, no shuffle: at 100 TB the "model" is four
    * multiplies and an exp() inside whole-stage codegen, and the keep
    * decision composes with partition pruning and any downstream
    * operator.
    *
    * Weights are frozen constants (a real pipeline would train them
    * offline and bake them in exactly like this). The score is rounded
    * to 6 decimals BEFORE the keep-threshold compare so an independent
    * engine recomputing exp() flags identical rows (NOTES_r3 item 15);
    * ln(1 + n_tokens) keeps the length feature bounded.
    */
  def qualityLogistic(docs: DataFrame, textCol: String = "text",
                      threshold: Double = 0.5,
                      carryCols: Seq[String] = Nil): DataFrame = {
    val f = qualityScore(docs, textCol, carryCols)
    val z = lit(-2.0) +
      lit(0.45) * log(lit(1.0) + col("n_tokens")) +
      lit(3.0) * col("stopword_ratio") +
      lit(0.15) * col("mean_token_len") -
      lit(8.0) * col("punct_ratio")
    f.select((col("doc_id") +: carryCols.map(col)) :+
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality_prob"): _*)
      .withColumn("keep", (col("quality_prob") >= threshold).cast("int"))
  }

  /** Distributed batch-perceptron TRAINING (Rosenblatt's rule in Collins
    * 2002's batch form) — the step [[qualityLogistic]] assumes happened
    * offline: learn the linear classifier's weights ON the cluster, over
    * INTEGER features and ±1 labels, so every round is EXACT int64
    * arithmetic that an independent engine replays bit-for-bit (the
    * reason this is a perceptron and not logistic GD: iterative float
    * updates compound ulp drift across rounds, which no final rounding
    * can absorb — integer updates don't drift at all).
    *
    * Round r: misclassified = rows with y·(w·x) ≤ 0 under the PREVIOUS
    * round's weights; w += Σ_misclassified y·x (learning rate 1, the
    * classical rule). Emits one row per round: (round, n_errors,
    * w_0..w_{d-1}) with the weights AFTER the update — n_errors is the
    * training-error curve a pipeline monitors for separability. A
    * 0-error round is a fixed point (no update, all later rounds
    * identical), emitted rather than skipped so the output is always
    * exactly `rounds` rows.
    *
    * Shape at corpus scale: the feature relation is computed ONCE
    * (localCheckpoint — each round rescans d+1 narrow long columns, the
    * text/feature extraction never re-runs) and each round is ONE
    * partial-aggregated scan (count + d conditional sums, map-side
    * combined); current weights ride into the plan as literals — the
    * Lloyd-loop discipline, d+1 longs of driver traffic per round.
    * int64 envelope: |w_j| grows ≤ rounds·Σ|x_j|, so margins stay exact
    * while rounds·n_rows·max|x|² < 2⁶³ — at a billion docs with
    * 10³-bounded features and ≤64 rounds that is 6·10¹⁸... document
    * feature scaling if you exceed it; training on a SAMPLE (the
    * q288/q289 primitives) is the standard move well before that.
    */
  def perceptronTrain(df: DataFrame, labelCol: String,
                      featureCols: Seq[String], rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64]: $rounds")
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    val spark = df.sparkSession
    val d = featureCols.size
    val f = df.select(col(labelCol).cast("long").as("__y") +:
        featureCols.zipWithIndex.map { case (c, i) =>
          col(c).cast("long").as(s"__x$i") }: _*)
      .localCheckpoint(true)
    val w = Array.fill(d)(0L)
    val out = Seq.newBuilder[org.apache.spark.sql.Row]
    try {
      for (r <- 1 to rounds) {
        val margin = (0 until d)
          .map(i => lit(w(i)) * col(s"__x$i")).reduce(_ + _) * col("__y")
        val aggs = count(lit(1)).as("__ne") +: (0 until d).map(i =>
          coalesce(sum(col("__y") * col(s"__x$i")), lit(0L)).as(s"__d$i"))
        val row = f.filter(margin <= 0).agg(aggs.head, aggs.tail: _*).head()
        for (i <- 0 until d) w(i) += row.getLong(i + 1)
        out += org.apache.spark.sql.Row.fromSeq(
          r +: row.getLong(0) +: w.toSeq)
      }
    } finally org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(f)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.IntegerType) ::
      org.apache.spark.sql.types.StructField("n_errors",
        org.apache.spark.sql.types.LongType) ::
      (0 until d).map(i => org.apache.spark.sql.types.StructField(s"w_$i",
        org.apache.spark.sql.types.LongType)).toList)
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result(), 1), schema)
  }

  /** Source-level quality gate — the C4/CCNet DOMAIN-filter shape: score
    * every document with the frozen logistic, average per `groupCol`
    * (rounded to 6 before the threshold compare, round-before-compare),
    * and keep only documents of groups whose mean clears `minMean` — a
    * data-derived domain blocklist, dropping consistently-bad sources
    * wholesale rather than doc by doc. Returns the kept documents as
    * (doc_id, groupCol, quality_prob).
    *
    * Scale shape: ONE corpus scan — the scored relation (4 narrow
    * columns) is localCheckpointed and feeds both the per-group mean (a
    * partial-aggregated groupBy over #groups rows) and the keep filter; a
    * broadcast semi-join applies the group verdict map-side, so the
    * corpus never shuffles. The group-stats relation is #domains-sized —
    * broadcastable by construction.
    */
  def sourceQualityGate(docs: DataFrame, groupCol: String = "source",
                        minMean: Double = 0.55,
                        textCol: String = "text"): DataFrame = {
    val scored = qualityLogistic(docs, textCol, carryCols = Seq(groupCol))
      .select(col("doc_id"), col(groupCol), col("quality_prob"))
      .localCheckpoint()
    val good = scored.groupBy(groupCol)
      .agg(round(avg(col("quality_prob")), 6).as("__mq"))
      .filter(col("__mq") >= minMean)
      .select(col(groupCol))
    scored.join(broadcast(good), Seq(groupCol), "left_semi")
      .select(col("doc_id"), col(groupCol), col("quality_prob"))
  }

  /** N-gram-profile language ID heuristic: score text against small
    * per-language marker-token lists, pick the argmax; ties and zero scores
    * → "und" (undetermined). Markers chosen for the latin-script languages
    * in the testdata corpus; zh falls out via the CJK char-class check.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein"),
    "es" -> Seq("el", "los", "las", "y", "es", "con", "para"))

  /** Distinct lowercase tokens — plain split, no empty-token filter: the
    * empty string never matches a marker, and skipping the filter() HOF
    * keeps this codegen-friendly.
    */
  def distinctTokens(text: Column): Column =
    array_distinct(split(lower(trim(text)), "[ \\t\\n\\f\\r]+"))

  /** Language score/argmax given a PRE-MATERIALIZED distinct-token column.
    * Keep the token array in its own projection (see languageIdDf): inlining
    * it here would re-tokenize once per language, because subexpression
    * elimination skips conditionally-evaluated branches (the `when` chain).
    */
  def languageIdScored(text: Column, distinctToks: Column): Column = {
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (langCode, markers) =>
      struct(
        size(array_intersect(distinctToks, array(markers.map(lit): _*))).as("score"),
        lit(langCode).as("lang"))
    }
    val best = greatest(scores: _*)
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Single-expression convenience form (tests, ad-hoc columns). For bulk
    * scoring prefer languageIdDf's two-projection shape.
    */
  def languageId(text: Column): Column =
    languageIdScored(text, distinctTokens(text))

  /** Bulk language-ID: two projections so the token array is computed once
    * per row (CollapseProject keeps them separate — the alias is referenced
    * once per language and is non-cheap).
    */
  def languageIdDf(docs: DataFrame, textCol: String = "text",
                   outCol: String = "lang_pred"): DataFrame =
    docs
      .withColumn("__ts", distinctTokens(col(textCol)))
      .withColumn(outCol, languageIdScored(col(textCol), col("__ts")))
      .drop("__ts")

  /** Rolling polynomial fingerprint of the token stream (base-31 mod 2^31-1
    * over murmur3 token hashes) — an order-sensitive document signature for
    * fast change detection. aggregate() folds left-to-right, so it is the
    * deterministic classic rolling hash, fully distributed per row. The
    * modulus keeps every intermediate < 2^36, safe under ANSI overflow
    * checks (Spark 4 default).
    */
  def fingerprint(text: Column,
                  tokenHash: Column => Column = t => hash(t).cast("long")): Column = {
    val p = lit(2147483647L) // 2^31-1
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(tokenHash(t), p), p))
  }

  /** Winnowing fingerprints (the localized document-fingerprinting scheme
    * from the MOSS winnowing paper): POSITIONAL k-gram shingle hashes →
    * sliding windows of `w` consecutive hashes → min per window → distinct
    * set. Any shared run of ≥ w+k−1 tokens between two documents is
    * guaranteed to share at least one fingerprint, so a fingerprint
    * inverted index finds partial overlaps that whole-document hashing
    * (`fingerprint` above) misses. Map-only per row; grouping by the
    * exploded fingerprint is the caller's (bounded) shuffle.
    *
    * `shingleHash` is pluggable: xxhash64 in production; `md5Hash31` in the
    * oracle-parity query so DuckDB recomputes the exact set (q54).
    */
  def winnowFingerprints(text: Column, k: Int, w: Int,
                         shingleHash: Column => Column): Column = {
    // let-bound token vector (1-element transform wrapper — same pattern as
    // wordShingles) → positional, NON-distinct shingle hash sequence
    val hs = element_at(
      transform(array(tokens(text)), tsv =>
        when(size(tsv) < k, array().cast("array<bigint>"))
          .otherwise(
            transform(sequence(lit(1), size(tsv) - lit(k - 1)),
              i => shingleHash(array_join(slice(tsv, i, lit(k)), " "))))),
      1)
    element_at(
      transform(array(hs), h =>
        when(size(h) === 0, array().cast("array<bigint>"))
          .when(size(h) <= w, array(array_min(h)))
          .otherwise(sort_array(array_distinct(
            transform(sequence(lit(1), size(h) - lit(w - 1)),
              i => array_min(slice(h, i, lit(w)))))))),
      1)
  }

  /** Training-corpus text cleaning: strip HTML tags, redact emails and
    * URLs to placeholder tokens (the standard PII/noise scrub before
    * tokenization), collapse whitespace, trim. Pure regexp_replace chain —
    * codegen'd, map-only, and restricted to regex constructs Java and RE2
    * interpret identically so an independent engine reproduces the exact
    * cleaned string.
    */
  def cleanText(text: Column): Column = {
    val noHtml = regexp_replace(text, "<[^>]+>", " ")
    val noEmail = regexp_replace(noHtml,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>")
    val noUrl = regexp_replace(noEmail, "https?://[^ \\t\\n]+", "<url>")
    // explicit class, not \s: Java's \s includes vertical tab (\x0B), RE2's
    // does not — the only construct in this chain the two disagree on
    trim(regexp_replace(noUrl, "[ \\t\\n\\f\\r]+", " "))
  }

  /** Benchmark-contamination check: flag each batch document that shares
    * at least one winnowing fingerprint with the reference corpus — any
    * shared token run of ≥ w+k−1 tokens is guaranteed caught (winnowing's
    * coverage property), so benchmark passages quoted inside training
    * documents surface even when the documents as wholes are dissimilar.
    *
    * Scale shape: the corpus side reduces to a distinct fingerprint set —
    * the fingerprint inverted index you'd persist once (IO.writeBucketed)
    * and probe per batch; the batch is flagged via semi-join on the
    * fingerprint, so corpus text is never rescanned and no text moves
    * through the shuffle.
    */
  def contaminationFlags(batch: DataFrame, corpus: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         k: Int = 3, w: Int = 4,
                         shingleHash: Column => Column): DataFrame = {
    val corpusFps = winnowFps(corpus, idCol, textCol, k, w, shingleHash)
      .select("fp").distinct()
    flagAgainst(batch, corpusFps, idCol, textCol, k, w, shingleHash)
  }

  /** Per-doc exploded winnow fingerprints — ONE definition shared by the
    * inline and indexed contamination paths, so a batch's fingerprints
    * land exactly on the values an index stored earlier (the hash math
    * cannot drift between build and probe).
    */
  private def winnowFps(df: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int,
                        shingleHash: Column => Column): DataFrame =
    df.select(col(idCol),
      explode(winnowFingerprints(col(textCol), k, w, shingleHash)).as("fp"))

  private def flagAgainst(batch: DataFrame, corpusFps: DataFrame,
                          idCol: String, textCol: String, k: Int, w: Int,
                          shingleHash: Column => Column): DataFrame = {
    val hit = winnowFps(batch, idCol, textCol, k, w, shingleHash)
      .join(corpusFps, Seq("fp"), "left_semi")
      .select(col(idCol)).distinct()
    batch.select(col(idCol))
      .join(hit.withColumn("contaminated", lit(1)), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("contaminated"), lit(0)).as("contaminated"))
  }

  /** Build-once / probe-many lifecycle for the contamination check: the
    * reference corpus's distinct winnow-fingerprint set is written ONCE as
    * an fp-bucketed table (the fingerprint inverted index), and each
    * training batch probes it with a semi-join — the corpus text is never
    * rescanned, and the index side of the probe is read in place with
    * ZERO exchange (bucket layout = join key; plan-gated in
    * PlanShapeSpec). Pay the corpus fingerprint computation and one
    * bucketing shuffle at build time; every batch pays only its own side.
    * Probe-time (k, w, shingleHash) MUST match the build call — they
    * parameterize the fingerprint family itself.
    */
  def buildContaminationIndex(corpus: DataFrame, name: String, path: String,
                              idCol: String = "doc_id", textCol: String = "text",
                              k: Int = 3, w: Int = 4,
                              shingleHash: Column => Column,
                              numBuckets: Int = 32): Unit =
    graft.io.IO.writeBucketed(
      winnowFps(corpus, idCol, textCol, k, w, shingleHash)
        .select("fp").distinct(),
      name, path, Seq("fp"), numBuckets, Seq("fp"))

  /** GDPR delete for the contamination-fingerprint index. The index
    * stores DISTINCT span fingerprints with no doc ids, so "forget these
    * docs" must not remove a fingerprint another (remaining) document
    * still sponsors — dropping it would un-flag genuine contamination.
    * The sponsorship check is one hash-only scan of `remaining`
    * semi-joined against the forgotten docs' (small) fingerprint set;
    * only orphaned fingerprints leave the index. Cost is one remaining-
    * corpus fingerprint pass per call — batch forget requests rather
    * than calling per doc. (k, w, shingleHash) MUST match the build.
    * Location and bucket spec come from the catalog; `path` and
    * `numBuckets` are not read.
    */
  def deleteFromContaminationIndex(spark: org.apache.spark.sql.SparkSession,
                                   name: String, path: String,
                                   forgotten: DataFrame,
                                   remaining: DataFrame,
                                   idCol: String = "doc_id",
                                   textCol: String = "text",
                                   k: Int = 3, w: Int = 4,
                                   shingleHash: Column => Column = xxhash64(_),
                                   numBuckets: Int = 32): Unit = {
    val goneFps = winnowFps(forgotten, idCol, textCol, k, w, shingleHash)
      .select("fp").distinct().localCheckpoint(true)
    // fingerprints a remaining doc still sponsors — map-side filtered by
    // the (broadcastable) forgotten-fp set, never materializing the
    // remaining corpus's full fp relation past the semi-join
    val sponsored = winnowFps(remaining, idCol, textCol, k, w, shingleHash)
      .select("fp")
      .join(org.apache.spark.sql.functions.broadcast(goneFps),
        Seq("fp"), "left_semi")
      .distinct()
    val removable = goneFps.join(sponsored, Seq("fp"), "left_anti")
    try graft.io.IO.rewriteTable(spark, name)(
      _.join(removable, Seq("fp"), "left_anti"))
    finally org.apache.spark.sql.graftbridge.ColumnBridge
      .releaseLocalCheckpoint(goneFps)
  }

  /** [[buildContaminationIndex]] unless `name` already exists in this
    * session's catalog (see [[graft.io.IO.ensureBucketed]] for why the
    * skip is session-scoped): repeated pipeline invocations in one
    * long-lived session pay the corpus fingerprint pass once. Returns
    * true iff the build ran.
    */
  def ensureContaminationIndex(corpus: DataFrame, name: String, path: String,
                               idCol: String = "doc_id", textCol: String = "text",
                               k: Int = 3, w: Int = 4,
                               shingleHash: Column => Column,
                               numBuckets: Int = 32): Boolean =
    graft.io.IO.ensureBucketed(
      winnowFps(corpus, idCol, textCol, k, w, shingleHash)
        .select("fp").distinct(),
      name, path, Seq("fp"), numBuckets, Seq("fp"))

  /** [[contaminationFlags]] against the PERSISTED fingerprint index —
    * identical semantics, corpus-free probe.
    */
  def contaminationFlagsIndexed(batch: DataFrame, name: String,
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                k: Int = 3, w: Int = 4,
                                shingleHash: Column => Column): DataFrame =
    flagAgainst(batch, batch.sparkSession.table(name), idCol, textCol, k, w,
      shingleHash)

  /** Benchmark suites grow: append a NEW benchmark slice's fingerprints
    * to the standing index without re-fingerprinting the old corpus —
    * batch-cost only (the q214-append contract). Fingerprints already in
    * the index are anti-joined away before the bucketed append, so the
    * stored relation stays a DISTINCT set and repeated appends of the
    * same slice are idempotent. Probe-time (k, w, shingleHash) must
    * still match the ORIGINAL build. The bucket spec comes from the
    * catalog; `numBuckets` is not read.
    */
  def appendToContaminationIndex(spark: org.apache.spark.sql.SparkSession,
                                 name: String, newBench: DataFrame,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 k: Int = 3, w: Int = 4,
                                 shingleHash: Column => Column,
                                 numBuckets: Int = 32): Unit =
    graft.io.IO.appendBucketed(
      winnowFps(newBench, idCol, textCol, k, w, shingleHash)
        .select("fp").distinct()
        .join(spark.table(name), Seq("fp"), "left_anti"), name)

  /** Overlapping token-window chunking (retrieval/context-window prep):
    * split each document into chunks of `size` tokens starting every
    * `stride` tokens (overlap = size − stride), the standard shape for
    * embedding long documents. nChunks = 1 + ⌈(n − size)/stride⌉ (0 for
    * empty docs; the last chunk may be short). Map-only per row —
    * tokenize once, explode computed starts, slice.
    */
  def chunkDocuments(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     size: Int = 32, stride: Int = 16): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    // stride > size would be gap sampling, which the nChunks coverage
    // formula does not model (it would emit phantom empty chunks)
    require(stride <= size, s"stride ($stride) must be <= size ($size)")
    val n = size_(col("__t"))
    val nChunks = when(n === 0, lit(0)).otherwise(
      lit(1) + greatest(lit(0),
        floor((n - size + (stride - 1)).cast("double") / stride).cast("int")))
    docs
      .withColumn("__t", tokens(col(textCol)))
      .select(col(idCol), col("__t"),
        explode(when(nChunks === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), nChunks - 1))).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        size_(slice(col("__t"), col("chunk_idx") * stride + 1, lit(size)))
          .as("n_chunk_tokens"),
        array_join(slice(col("__t"), col("chunk_idx") * stride + 1, lit(size)), " ")
          .as("chunk_text"))
  }

  /** Content-defined chunking (the Rabin/FastCDC family, applied at token
    * granularity): a chunk ends AT every token whose portable hash is
    * ≡ 0 mod `divisor` — boundaries depend on content, not position, so
    * an insertion near the head of a document perturbs only the chunk it
    * lands in and every later chunk hash survives verbatim (the
    * shift-robustness fixed-stride [[chunkDocuments]] cannot give, and
    * the reason storage and dedup systems pay for CDC). Expected chunk
    * length ≈ `divisor` tokens.
    *
    * Scale shape: the chunker is a single codegen'd `aggregate` fold over
    * each doc's token array — MAP-ONLY, no explode of the corpus to token
    * rows, no per-doc window, nothing shuffles until the caller
    * aggregates chunks. Output matches [[chunkDocuments]]'s schema so the
    * two tier into the same downstream dedup.
    */
  def cdcChunks(docs: DataFrame, divisor: Int = 16,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(divisor > 0, "divisor must be positive")
    def done(acc: Column) = acc.getField("done")
    def cur(acc: Column) = acc.getField("cur")
    val folded = aggregate(
      tokens(col(textCol)),
      struct(array().cast("array<string>").as("done"), lit("").as("cur")),
      (acc, tok) => {
        val grown = when(cur(acc) === "", tok)
          .otherwise(concat(cur(acc), lit(" "), tok))
        when(graft.functions.md5Hash31(tok) % divisor === 0,
          struct(array_append(done(acc), grown).as("done"),
            lit("").as("cur")))
          .otherwise(struct(done(acc).as("done"), grown.as("cur")))
      },
      acc => when(cur(acc) === "", done(acc))
        .otherwise(array_append(done(acc), cur(acc))))
    docs
      .select(col(idCol), posexplode(folded).as(Seq("chunk_idx", "chunk_text")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size_(split(col("chunk_text"), " ")).cast("long")
          .as("n_chunk_tokens"),
        col("chunk_text"))
  }

  // alias: `size` the function vs `size` the parameter name above
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Deterministic distributed sequence packing ("block packing" for
    * training batches): shard documents by id, order within
    * (partitionCols, shard) by id, and cut packs where the running token
    * total BEFORE the document crosses a multiple of `budgetTokens`:
    * pack_id = floor(cum_before / budget). The invariant is "at most one
    * boundary-crossing document per pack" (pack total < budget + its
    * largest member, property-tested) — an over-budget document still
    * shares its pack with the docs that preceded it before the boundary.
    * Sharding is the scale story — a
    * real packer packs within input splits; a single global greedy pass
    * would serialize the corpus through one window task.
    */
  def packSequences(docs: DataFrame, budgetTokens: Int, nShards: Int = 4,
                    idCol: String = "doc_id", textCol: String = "text",
                    partitionCols: Seq[String] = Seq("lang")): DataFrame = {
    val w = Window
      .partitionBy((partitionCols.map(col) :+ col("shard")): _*)
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(
      (partitionCols.map(col) :+ col(idCol) :+
        pmod(col(idCol), lit(nShards)).as("shard") :+
        tokenCount(col(textCol)).as("n_tokens")): _*)
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) /
          lit(budgetTokens.toDouble)))
  }

  /** GPT-2-style pre-tokenizer regex (contractions, letter runs, digit
    * runs, punctuation runs, whitespace runs) — the classic BPE split
    * pattern, restricted to constructs RE2 and Java regex treat
    * identically so a DuckDB oracle can mirror it.
    */
  val bpeSplitPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"

  /** BPE-ish token count: number of pre-tokenizer matches that are not
    * pure whitespace. A cheap, deterministic proxy for "LLM tokens" used
    * to budget corpus size per document.
    */
  def bpeTokenCount(text: Column): Column =
    size(filter(
      regexp_extract_all(text, lit(bpeSplitPattern), lit(0)),
      m => m.rlike("[^ \\t\\n\\f\\r]")))

  /** Per-(doc, term) frequency relation — the shared single-tokenize core
    * of [[tfIdfTopTerms]] and [[unigramCrossEntropy]]. The text column is
    * scanned and tokenized exactly ONCE: the (id, term, tf) rows (far
    * smaller than the raw token stream, and free of the text bytes) are
    * materialized via an eager localCheckpoint, and every downstream
    * branch — document-frequency counts, vocabulary counts, per-doc
    * scores — reads the materialized relation instead of re-running the
    * scan + explode subtree.
    *
    * Why localCheckpoint rather than persist(): same executor-side
    * MEMORY_AND_DISK materialization, but no entry in the session's
    * CacheManager to leak — storage is released by the ContextCleaner as
    * soon as the plan is garbage collected, so repeated operator calls
    * cannot accumulate cache entries (gated in TextAnalysisSpec).
    * `materialize = false` exposes the un-checkpointed plan so
    * PlanShapeSpec can gate the one-Generate/one-scan shape.
    *
    * Caveat for elastic clusters: localCheckpoint truncates lineage and
    * its blocks are non-replicated executor-local state, so losing an
    * executor (spot kill, dynamic-allocation decommission) makes the
    * downstream query fail unrecoverably instead of recomputing. On a
    * cluster with dynamic allocation, prefer a reliable checkpoint dir or
    * persist() with an explicit unpersist() at the call site; eagerness
    * also means the materialization job runs even if the caller never
    * consumes the result.
    */
  private[graft] def termFrequencies(docs: DataFrame, idCol: String,
                                     textCol: String,
                                     materialize: Boolean = true): DataFrame = {
    // spread before the tokenize+explode (one-row-group scan = one core;
    // Spread scaladoc)
    val tf = Spread.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    if (materialize) tf.localCheckpoint() else tf
  }

  /** TF-IDF top-k terms per document: tf = in-document term count, df =
    * number of documents containing the term, idf = ln(N/df) (raw — every
    * scored term has df ≥ 1 so the log is finite). Scores are rounded to 6
    * decimals BEFORE ranking so an oracle engine recomputing ln
    * independently ranks identically; ties break on the term itself.
    *
    * Shape at corpus scale — one tokenize pass ([[termFrequencies]]),
    * then df from a map-side-combinable `groupBy(term).count()` joined
    * back at (doc, term) granularity. Partial aggregation collapses a hot
    * (stop-word) term into one partial count per task BEFORE the shuffle,
    * and the join's build side is vocabulary-sized (AQE broadcasts it at
    * runtime) — unlike the previous count-window over `term`, whose
    * partition for a universal term was a single n_docs-sized sort buffer
    * on one task. N is NOT collected to the driver: a one-row
    * countDistinct aggregate over the checkpointed relation is
    * broadcast-cross-joined into the scoring plan, so the whole operator
    * after the checkpoint is a single Spark job (the previous shape paid
    * a separate N pre-scan job before any scoring work started). The
    * final top-k runs through the bounded-buffer GroupedTopK operator
    * instead of a full per-document window sort.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 3): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    // one row, derived from DOCS (id column only — a slim parquet read),
    // NOT from tf: token-free documents (null/empty/whitespace text)
    // vanish from the term relation but still count toward N in the
    // standard idf = ln(N/df) definition (and in the q81 oracle).
    // Cast to double HERE so log(N/df) divides double/bigint exactly as
    // the previous lit(nDocs).cast("double") formulation did.
    val nRow = docs.agg(countDistinct(col(idCol)).cast("double").as("__n"))
    // (idCol, term) is unique after the groupBy, so df = rows per term
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfRel, "term")
      .crossJoin(broadcast(nRow))
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("__n") / col("df")), 6)
          .as("tfidf"))
    graft.plans.TopK.perGroup(scored, Seq(idCol),
      Seq(("tfidf", true), ("term", false)), k)
  }

  /** BM25 keyword retrieval (Robertson/Sparck Jones, public): rank
    * documents against a bag of query terms with
    * score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Lucene-style
    * always-positive form). dl = document length in tokens; avgdl =
    * total tokens / N with token-free documents counting toward N at
    * length 0. Scores round to 6 decimals BEFORE the rank (the oracle
    * recomputes ln/÷ independently), ties break on the id ascending.
    *
    * Shape at corpus scale — one tokenize pass ([[termFrequencies]]);
    * dl is a map-side-combinable groupBy over the materialized (doc,
    * term, tf) relation, never the raw token stream; the query-term
    * filter prunes that relation BEFORE any join, so the scoring join's
    * probe side holds only documents containing at least one query
    * term; df over the filtered relation and the two one-row corpus
    * aggregates (N, total tokens) broadcast into the plan rather than
    * collecting to the driver. The final top-k is a
    * TakeOrderedAndProject, not a global sort.
    */
  def bm25Rank(docs: DataFrame, queryTerms: Seq[String], topK: Int = 20,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(queryTerms.nonEmpty, "empty BM25 query")
    require(queryTerms.distinct == queryTerms,
      s"duplicate query terms: $queryTerms")
    val tf = termFrequencies(docs, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__dl"))
    val nRow = docs.agg(countDistinct(col(idCol)).cast("double").as("__n"))
    val totRow = tf.agg(coalesce(sum(col("tf")), lit(0L)).cast("double")
      .as("__tot"))
    val qtf = tf.filter(col("term").isin(queryTerms: _*))
    bm25ScoreTail(qtf, dl, nRow, totRow, topK, k1, b, idCol)
  }

  /** The BM25 scoring tail shared by the inline ranker and the persisted
    * index search — ONE definition of the score expression, so the two
    * tiers cannot drift (the tier-equivalence oracle depends on it).
    * `qtf` = (idCol, term, tf) restricted to the query terms; `dl` =
    * (idCol, __dl); `nRow`/`totRow` = broadcastable 1-row doubles.
    */
  private def bm25ScoreTail(qtf: DataFrame, dl: DataFrame, nRow: DataFrame,
                            totRow: DataFrame, topK: Int, k1: Double,
                            b: Double, idCol: String): DataFrame = {
    val dfRel = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = qtf
      .join(dl, idCol)
      .join(broadcast(dfRel), "term")
      .crossJoin(broadcast(nRow))
      .crossJoin(broadcast(totRow))
      .select(col(idCol),
        (log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("__dl") / (col("__tot") / col("__n"))))).as("__s"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__s")), 6).as("bm25"))
    scored.orderBy(col("bm25").desc, col(idCol)).limit(topK)
  }

  /** Persisted BM25 inverted index — the text-retrieval sibling of the
    * IVF-PQ index lifecycle (build/ensure/search):
    *   - `<name>_postings` (term, idCol, tf), bucketed AND sorted by
    *     term: a query's `isin(terms)` filter prunes the scan to the
    *     terms' buckets (`SelectedBucketsCount` — plan-gated), so search
    *     reads |query| buckets of postings, never the corpus;
    *   - `<name>_docstats` (idCol, __dl), bucketed by idCol — the
    *     length normalizer, joined by id without re-tokenizing anything;
    *   - `<name>_meta` (n_docs, total_tf) — one row.
    * Tokenization, tf aggregation, and both global moments are paid ONCE
    * at build; a search touches only pruned postings + docstats. Search
    * results are tier-equivalent to [[bm25Rank]] by construction (shared
    * [[bm25ScoreTail]]; same oracle — the q85/q101 discipline).
    */
  def buildBm25Index(docs: DataFrame, name: String, path: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     numBuckets: Int = 32): Unit = {
    val tf = termFrequencies(docs, idCol, textCol)
    graft.io.IO.writeBucketed(tf, s"${name}_postings", s"$path/postings",
      Seq("term"), numBuckets, sortCols = Seq("term"))
    // one docstats row per doc INCLUDING zero-token docs (__dl = 0): the
    // doc count must survive append/delete exactly, and a zero-token doc
    // never matches a query term, so the inline tier is unaffected
    val dl = docs.select(col(idCol)).distinct()
      .join(tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__tf")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__tf"), lit(0L)).as("__dl"))
    graft.io.IO.writeBucketed(dl, s"${name}_docstats", s"$path/docstats",
      Seq(idCol), numBuckets)
    writeBm25Meta(docs.sparkSession, name, path,
      docs.agg(countDistinct(col(idCol)).as("n_docs"))
        .crossJoin(tf.agg(coalesce(sum(col("tf")), lit(0L))
          .as("total_tf"))))
  }

  private def writeBm25Meta(spark: org.apache.spark.sql.SparkSession,
                            name: String, path: String,
                            meta: DataFrame): Unit =
    meta.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"$path/meta").saveAsTable(s"${name}_meta")

  /** The BM25 marker over postings+docstats — the shared
    * [[IndexCommit]] discipline. The meta table overwrites in place, so
    * the listing cannot roll it back; `postRecover` REBUILDS it from the
    * recovered docstats instead ([[rebuildBm25Meta]]).
    */
  private def bm25Marker(spark: org.apache.spark.sql.SparkSession,
                         name: String, path: String): IndexCommit.Marker =
    IndexCommit.Marker(spark, path, Seq("postings", "docstats"),
      Seq(s"${name}_postings", s"${name}_docstats"),
      () => rebuildBm25Meta(spark, name, path))

  /** The 1-row meta from the stored docstats: n_docs = row count,
    * total_tf = Σ __dl — the exact identities the build wrote (each
    * doc's __dl is the sum of its postings' tf).
    */
  private def rebuildBm25Meta(spark: org.apache.spark.sql.SparkSession,
                              name: String, path: String): Unit =
    writeBm25Meta(spark, name, path,
      spark.table(s"${name}_docstats").agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("__dl")), lit(0L)).as("total_tf")))

  /** Crash recovery for an interrupted BM25 index mutation. WITHOUT it,
    * a crash between the postings and docstats writes doesn't just go
    * stale, it CORRUPTS on replay: the batch guard anti-joins docstats
    * (which never saw the batch), so the redelivered batch appends its
    * postings a second time. Every writer entry (append, compact,
    * delete, maintain) runs it first.
    */
  def recoverBm25Index(spark: org.apache.spark.sql.SparkSession,
                       name: String, path: String): Boolean =
    bm25Marker(spark, name, path).recover()

  /** Incremental index maintenance: append a NEW batch's postings and
    * doc stats (tokenized once, batch-sized work only — the standing
    * corpus is never re-read), then advance the 1-row meta by the
    * batch's deltas (driver scalars). Cost ∝ batch + an id anti-join
    * probe of the stored docstats, the appendToIvfPqIndex contract.
    *
    * IDEMPOTENT under batch replay: incoming ids are anti-joined against
    * `<name>_docstats` first, so re-appending an already-ingested batch
    * (retry, micro-batch re-delivery — the streaming foreachBatch
    * reality) writes nothing and leaves the meta untouched
    * (TextAnalysisSpec pins append-twice ≡ append-once). The three
    * writes run under the marker ([[recoverBm25Index]]), so a crash
    * between them rolls back at the next writer entry. The bucket specs
    * come from the catalog; `numBuckets` is not read.
    */
  def appendToBm25Index(spark: org.apache.spark.sql.SparkSession,
                        name: String, path: String, newDocs: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        numBuckets: Int = 32): Unit =
    bm25Marker(spark, name, path).guard { fenceCheck =>
    // checkpoint the filtered batch: its lineage (anti-join against the
    // stored docstats) feeds three consumers below, and the docstats
    // table it probes is itself appended to mid-sequence
    val fresh = newDocs.join(spark.table(s"${name}_docstats")
        .select(col(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    try if (!fresh.isEmpty) { // full replay: nothing new, nothing written
      val tf = termFrequencies(fresh, idCol, textCol)
      graft.io.IO.appendBucketed(tf, s"${name}_postings")
      fenceCheck() // between halves: bound the stolen-writer window
      val dl = fresh.select(col(idCol)).distinct()
        .join(tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__tf")),
          Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__tf"), lit(0L)).as("__dl"))
      graft.io.IO.appendBucketed(dl, s"${name}_docstats")
      fenceCheck()
      val old = spark.table(s"${name}_meta").head()
      val delta = fresh.agg(countDistinct(col(idCol)).as("nd"))
        .crossJoin(tf.agg(coalesce(sum(col("tf")), lit(0L)).as("tt"))).head()
      writeBm25Meta(spark, name, path,
        spark.range(1).select(
          lit(old.getLong(0) + delta.getLong(0)).as("n_docs"),
          lit(old.getLong(1) + delta.getLong(1)).as("total_tf")))
    } finally
      org.apache.spark.sql.graftbridge.ColumnBridge
        .releaseLocalCheckpoint(fresh)
  }

  /** GDPR path: drop documents from the index in place — both stored
    * relations rewrite through an id anti-join (materialized BEFORE the
    * overwrite so the read never races its own rewrite), and the meta
    * recomputes from the REWRITTEN docstats (no tokenize, no corpus).
    * Convenience overload for small driver-side id lists; the scale path
    * is the DataFrame overload below. `numBuckets` is not read.
    */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          name: String, path: String, deleteIds: Seq[Long],
                          idCol: String = "doc_id",
                          numBuckets: Int = 32): Unit = {
    require(deleteIds.nonEmpty, "empty delete set")
    import spark.implicits._
    deleteFromBm25Index(spark, name, path,
      deleteIds.toDF(idCol), idCol, numBuckets)
  }

  /** [[deleteFromBm25Index]] with the delete set as a DataFrame of ids —
    * the 100 TB-corpus shape: a large GDPR/takedown set stays a LEFT ANTI
    * join side input (distributed, broadcastable when small) instead of
    * an `isin(...)` literal whose expression tree grows with the set
    * (slow analysis, codegen limits). Same materialize-before-overwrite
    * and meta-from-rewritten-relations discipline. Location and bucket
    * specs come from the catalog; `numBuckets` is not read.
    */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          name: String, path: String,
                          deleteIds: DataFrame, idCol: String,
                          numBuckets: Int): Unit = {
    val del = deleteIds.select(col(idCol)).distinct()
    rewriteBm25Index(spark, name, path)(_.join(del, Seq(idCol), "left_anti"))
    rebuildBm25Meta(spark, name, path)
  }

  /** Writer entry of both in-place rewrites: recover, then rewrite
    * postings and docstats as `keep(current)` at their catalog
    * locations and bucket specs.
    */
  private def rewriteBm25Index(spark: org.apache.spark.sql.SparkSession,
                               name: String, path: String)(
                               keep: DataFrame => DataFrame): Unit = {
    recoverBm25Index(spark, name, path)
    Seq("postings", "docstats").foreach(t =>
      graft.io.IO.rewriteTable(spark, s"${name}_$t")(keep))
  }

  /** [[buildBm25Index]] unless all three tables are registered in THIS
    * session's catalog (session-scoped skip — see
    * [[graft.io.IO.ensureBucketed]] for why). Returns true iff built.
    */
  def ensureBm25Index(docs: DataFrame, name: String, path: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      numBuckets: Int = 32): Boolean = {
    val cat = docs.sparkSession.catalog
    val present = cat.tableExists(s"${name}_postings") &&
      cat.tableExists(s"${name}_docstats") &&
      cat.tableExists(s"${name}_meta")
    if (!present) buildBm25Index(docs, name, path, idCol, textCol,
      numBuckets)
    !present
  }

  /** BM25 search over the persisted index: postings pruned to the query
    * terms' buckets, stored doc lengths, stored global moments — no
    * tokenize, no corpus scan on the search path.
    */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
                        name: String, queryTerms: Seq[String],
                        topK: Int = 20, k1: Double = 1.2,
                        b: Double = 0.75,
                        idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "empty BM25 query")
    require(queryTerms.distinct == queryTerms,
      s"duplicate query terms: $queryTerms")
    val qtf = spark.table(s"${name}_postings")
      .filter(col("term").isin(queryTerms: _*))
    val dl = spark.table(s"${name}_docstats")
    val meta = spark.table(s"${name}_meta")
    val nRow = meta.select(col("n_docs").cast("double").as("__n"))
    val totRow = meta.select(col("total_tf").cast("double").as("__tot"))
    bm25ScoreTail(qtf, dl, nRow, totRow, topK, k1, b, idCol)
  }

  /** Retrieval report card: MRR, precision@k, recall@k, nDCG@k of a
    * ranking against a relevance set — the eval loop a search/RAG stack
    * runs on every index or scorer change. Every @k metric uses the SAME
    * cutoff: precision, recall, and DCG all count relevant docs at rank
    * ≤ k only (a relevant doc at rank k+1 counts toward none of them),
    * so the columns read as the textbook metrics; MRR alone is
    * cutoff-free by definition. All metrics derive from the integer rank
    * relation; the only transcendental (1/log2(rank+1)) snaps to nano
    * BIGINTs immediately (the q204 discipline), so DCG and IDCG are
    * order-free integer sums and nDCG is one rounded division of two
    * snapped sums. The global rank window runs over the ranking's top-k
    * rows only (bounded by construction — the ranking IS a top-k),
    * never the corpus.
    */
  /** Reliability-diagram bins for a probabilistic classifier — the
    * calibration eval that belongs next to every learned quality filter
    * (is a predicted 0.8 actually right 80% of the time?): bucket the
    * predicted probability into `bins` equal-width bins (the top
    * boundary folds into the last bin so p=1.0 is representable), and
    * per bin report support, mean predicted probability, empirical
    * positive rate, and their absolute gap — the per-bin term of
    * expected calibration error (Guo et al. 2017, public). One scan,
    * one `bins`-sized aggregate; means round-6 BEFORE the gap subtract
    * so the gap is exact arithmetic over already-portable values.
    */
  def calibrationBins(scored: DataFrame, probCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins > 1, s"bins must be > 1: $bins")
    scored.select(
        least(floor(col(probCol) * bins).cast("int"), lit(bins - 1))
          .as("bucket"),
        col(probCol).as("__p"), col(labelCol).cast("double").as("__y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("__p")), 6).as("mean_prob"),
        round(avg(col("__y")), 6).as("pos_rate"))
      .withColumn("calib_gap",
        round(abs(col("mean_prob") - col("pos_rate")), 6))
  }

  def retrievalMetrics(ranking: DataFrame, relevant: DataFrame,
                       k: Int = 10, idCol: String = "doc_id",
                       scoreCol: String = "bm25"): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc(scoreCol), col(idCol))
    val gain = (lit(1000000000e0) /
      (log(col("rank").cast("double") + lit(1.0)) / log(lit(2.0))))
    val rk = ranking
      .withColumn("rank", row_number().over(w).cast("long"))
    val rel = relevant.select(col(idCol)).distinct()
    val hits = rk.join(rel, Seq(idCol), "left_semi")
    val nrel = rel.agg(count(lit(1)).as("__nr"))
    val aggs = hits.agg(
      coalesce(round(lit(1.0) / min(col("rank")), 6), lit(0.0)).as("mrr"),
      coalesce(sum(when(col("rank") <= k, lit(1L)).otherwise(lit(0L))),
        lit(0L)).as("__hk"),
      coalesce(sum(when(col("rank") <= k,
        round(gain).cast("long")).otherwise(lit(0L))), lit(0L)).as("__dg"))
    val idcg = nrel
      .select(col("__nr"), explode(sequence(lit(1L),
        least(lit(k.toLong), greatest(col("__nr"), lit(1L))))).as("rank"))
      .agg(first(col("__nr")).as("__nr"),
        sum(round(gain).cast("long")).as("__ig"))
    aggs.crossJoin(broadcast(idcg))
      .select(col("__nr").as("n_relevant"), col("mrr"),
        round(col("__hk").cast("double") / k, 6).as("precision_at_k"),
        when(col("__nr") > 0,
          round(col("__hk").cast("double") / col("__nr"), 6))
          .otherwise(lit(0.0)).as("recall_at_k"),
        when(col("__nr") > 0,
          round(col("__dg").cast("double") / col("__ig"), 6))
          .otherwise(lit(0.0)).as("ndcg_at_k"))
  }

  /** Small-file hygiene after many appends: rewrite both bucketed
    * relations in place (each append stacks a generation of files per
    * table; search-side bucket pruning then opens every generation).
    * Same recover-then-rewrite entry as the delete path; results are
    * bit-identical, only the file layout changes. `idCol` and
    * `numBuckets` are not read.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       name: String, path: String,
                       idCol: String = "doc_id",
                       numBuckets: Int = 32): Unit =
    rewriteBm25Index(spark, name, path)(identity)

  /** Small-file hygiene for the contamination fingerprint index — the
    * one-table sibling of [[compactBm25Index]]: every
    * [[appendToContaminationIndex]] stacks a generation of files, and
    * the probe's in-place bucket read opens every generation. The fp set
    * is unchanged. `path` and `numBuckets` are not read.
    */
  def compactContaminationIndex(spark: org.apache.spark.sql.SparkSession,
                                name: String, path: String,
                                numBuckets: Int = 32): Unit =
    graft.io.IO.rewriteTable(spark, name)(identity)

  /** Unigram language-model scoring (the CCNet-style quality filter):
    * learn p(token) = count/total over the corpus, then score each
    * document by its cross-entropy −avg(ln p(t_i)) — high scores mean
    * improbable token streams (boilerplate, noise, wrong language).
    * Zero-token docs produce no row.
    *
    * Shape at corpus scale — the text is tokenized ONCE
    * ([[termFrequencies]], materialized at (doc, token) granularity), and
    * every count derives from that relation: per-token corpus counts via
    * a map-side-combinable `groupBy(token).sum(tf)` (a hot stop-word
    * collapses to one partial per task before the shuffle — the previous
    * count-window over the raw occurrence stream sort-buffered every
    * occurrence of the token in ONE task), the corpus total via a
    * one-row aggregate over the vocabulary-sized counts that is
    * broadcast-cross-joined into the scoring plan rather than collected
    * to the driver — everything after the checkpoint is ONE Spark job.
    * Per-doc scoring joins the counts back (vocabulary-sized build side;
    * AQE broadcasts it) and weights ln(cnt) by tf. Using
    * −avg(ln(cnt/T)) = ln(T) − avg(ln cnt), the total folds in as a
    * post-aggregation constant; the
    * tf-weighted reassociation drift is the same ~1e-13 class as the
    * engines' differing summation orders, absorbed by the 6-decimal
    * rounding (NOTES_r3 item 15). No persist(): the checkpoint is
    * CacheManager-free and self-releasing (see [[termFrequencies]]).
    */
  def unigramCrossEntropy(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("__cnt"))
    // one row; same double value as the previous collected-Long-then-cast
    val totalRow = counts.agg(sum(col("__cnt")).cast("double").as("__total"))
    tf.join(counts, "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf").cast("double") * log(col("__cnt").cast("double"))) /
          sum(col("tf")).cast("double")).as("__mean_log_cnt"))
      .crossJoin(broadcast(totalRow))
      .select(col(idCol), col("n_tokens"),
        round(log(col("__total")) - col("__mean_log_cnt"), 6)
          .as("cross_entropy"))
  }

  /** Bigram language-model scoring — the next rung above
    * [[unigramCrossEntropy]] on the KenLM-style quality-filter ladder
    * (CCNet filters on a 5-gram LM; the bigram form demonstrates the
    * conditional-probability shape with the same distributed skeleton).
    * Learns p(w2 | w1) = c(w1 w2) / c(w1 ·) over the corpus, where
    * c(w1 ·) is the bigram-PREFIX count (sum of c(w1 w2) over w2 — the
    * consistent ML estimate: probabilities given each prefix sum to 1),
    * then scores each document by the tf-weighted conditional
    * cross-entropy −avg(ln p) = avg(ln c1 − ln c2). Docs with < 2 tokens
    * have no bigrams and produce no row.
    *
    * Shape at corpus scale — tokenize ONCE per row, build positional
    * bigrams array-side (transform over sequence — no per-doc window, no
    * second scan), then collapse to a (doc, bigram, tf) relation whose
    * key always includes the doc id (no corpus-wide hot key). Corpus
    * bigram counts and prefix counts are both map-side-combinable
    * groupBy aggregates over that relation — a hot bigram collapses to
    * one partial per task before the shuffle — and join back at
    * vocabulary granularity (AQE broadcasts the build sides). The w1
    * prefix is recovered with split_part-style string surgery on the
    * bigram key (tokens are \s+-split so the first space is an
    * unambiguous delimiter), keeping the relation narrow. The
    * reassociation drift of the tf-weighted double sum is the same
    * ~1e-13 class as q96's, absorbed by the 6-decimal rounding
    * (NOTES_r3 item 15).
    */
  /** Per-(doc, bigram) frequency relation — the single-tokenize core of
    * [[bigramCrossEntropy]], mirroring [[termFrequencies]]: one scan +
    * explode, materialized (localCheckpoint, same trade-offs documented
    * there) because three consumers read it. `materialize = false`
    * exposes the raw plan for the PlanShapeSpec single-tokenize gate.
    */
  private[graft] def bigramFrequencies(docs: DataFrame, idCol: String,
                                       textCol: String,
                                       materialize: Boolean = true): DataFrame = {
    // spread before the gram expansion (Spread scaladoc)
    val base = Spread.spread(docs.select(col(idCol),
        tokens(col(textCol)).as("__t")))
      .select(col(idCol), col("__t"), size(col("__t")).as("__n"))
    // sequence(1, 0) counts DOWN in Spark — guard < 2 tokens to empty
    // (same landmine as repetitionStats)
    val bigrams = base.select(col(idCol),
      explode(when(col("__n") < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), col("__n") - 1),
          i => concat_ws(" ", element_at(col("__t"), i),
            element_at(col("__t"), i + 1))))).as("__bg"))
    val tf = bigrams.groupBy(col(idCol), col("__bg"))
      .agg(count(lit(1)).as("__tf"))
    if (materialize) tf.localCheckpoint() else tf
  }

  def bigramCrossEntropy(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val tf = bigramFrequencies(docs, idCol, textCol)
    val c2 = tf.groupBy(col("__bg")).agg(sum(col("__tf")).as("__c2"))
      .withColumn("__w1", substring_index(col("__bg"), " ", 1))
    val c1 = c2.groupBy(col("__w1")).agg(sum(col("__c2")).as("__c1"))
    // fold both counts into ONE vocabulary-sized per-bigram score table
    // before touching the (doc, bigram)-granular relation: the big side
    // is joined once, not once per count level (both small joins happen
    // vocab×prefix-vocab, which AQE broadcasts)
    val lnP = c2.join(c1, "__w1")
      .select(col("__bg"),
        (log(col("__c1").cast("double")) -
          log(col("__c2").cast("double"))).as("__lnp"))
    tf.join(lnP, "__bg")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_bigrams"),
        round(
          sum(col("__tf").cast("double") * col("__lnp")) /
            sum(col("__tf")).cast("double"), 6)
          .as("bigram_cross_entropy"))
  }

  /** Per-(doc, trigram) frequency relation — [[bigramFrequencies]] one
    * order up: single tokenize, positional trigrams array-side, < 3
    * tokens → empty.
    */
  private[graft] def trigramFrequencies(docs: DataFrame, idCol: String,
                                        textCol: String,
                                        materialize: Boolean = true): DataFrame = {
    // spread before the gram expansion (Spread scaladoc)
    val base = Spread.spread(docs.select(col(idCol),
        tokens(col(textCol)).as("__t")))
      .select(col(idCol), col("__t"), size(col("__t")).as("__n"))
    val trigrams = base.select(col(idCol),
      explode(when(col("__n") < 3, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), col("__n") - 2),
          i => concat_ws(" ", element_at(col("__t"), i),
            element_at(col("__t"), i + 1),
            element_at(col("__t"), i + 2))))).as("__tg"))
    val tf = trigrams.groupBy(col(idCol), col("__tg"))
      .agg(count(lit(1)).as("__tf"))
    if (materialize) tf.localCheckpoint() else tf
  }

  /** Trigram LM scoring with INTERPOLATED KNESER–NEY-style discounting —
    * the production rung of the quality-filter ladder ([[unigramCrossEntropy]]
    * → [[bigramCrossEntropy]] → this; KenLM's 5-gram is the same
    * recursion two orders up):
    *
    *   p(w3|w1w2) = max(c(w1w2w3)−D, 0)/c(w1w2·)
    *              + [D·N1+(w1w2·)/c(w1w2·)] · p(w3|w2)
    *   p(w3|w2)   = max(c(w2w3)−D, 0)/c(w2·)
    *              + [D·N1+(w2·)/c(w2·)] · N1+(·w3)/N1+(··)
    *
    * with one fixed discount D (Kneser–Ney's signature CONTINUATION
    * distribution at the bottom: a word's unigram weight is how many
    * distinct contexts it completes, not how often it occurs — "San
    * Francisco" inflates c(Francisco) but not N1+(·Francisco)). The
    * backoff bigram level uses TRUE corpus bigram counts (every doc's
    * leading pair counts, not just trigram interiors), so each level is
    * the consistent ML estimate of its own order. Every trigram's
    * backoff terms exist by construction (its tail IS a corpus bigram),
    * so no division hits zero. Docs with < 3 tokens emit no row.
    *
    * Shape at corpus scale: the same skeleton as [[bigramCrossEntropy]]
    * — one tokenize per level, n-gram-type-granular count tables built
    * by map-side-combinable aggregates, all level joins at TYPE
    * granularity (never doc-granular), one final join back to the
    * (doc, trigram, tf) relation. Double arithmetic in a fixed
    * parenthesization; the per-doc tf-weighted average is rounded to 6
    * decimals (the q96 reassociation-drift class).
    */
  def trigramKnCrossEntropy(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount ($discount) must be in (0, 1)")
    val d = lit(discount)
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    // r17: ONE tokenize pass feeds both orders (the q331
    // allOrderFrequencies discipline) — the separate trigram + bigram
    // passes each re-scanned and re-tokenized the corpus
    val tfAll = allOrderFrequencies(docs, idCol, textCol, maxOrder = 3)
    val tf3 = tfAll.filter(col("__k") === 3)
      .select(col(idCol), col("__g").as("__tg"), col("__tf"))
    val c3 = tf3.groupBy(col("__tg")).agg(sum(col("__tf")).as("__c3"))
      .withColumn("__p12", substring_index(col("__tg"), " ", 2))
      .withColumn("__b23", substring_index(col("__tg"), " ", -2))
    val l12 = c3.groupBy(col("__p12"))
      .agg(sum(col("__c3")).as("__c12dot"), count(lit(1)).as("__n1p12"))
    val c2 = tfAll.filter(col("__k") === 2)
      .select(col("__g").as("__bg"), col("__tf"))
      .groupBy(col("__bg")).agg(sum(col("__tf")).as("__c2"))
      .localCheckpoint() // three consumers: tail counts, prefix level,
                         // continuation counts
    val l2 = c2.withColumn("__w2", substring_index(col("__bg"), " ", 1))
      .groupBy(col("__w2"))
      .agg(sum(col("__c2")).as("__c2dot"), count(lit(1)).as("__n1p2"))
    val cont3 = c2
      .withColumn("__w3", substring_index(col("__bg"), " ", -1))
      .groupBy(col("__w3")).agg(count(lit(1)).as("__n1pdot3"))
    val contTotal = c2.agg(count(lit(1)).as("__n1pdd"))
    // r17 suffix-chain: fold the bigram-level stats (tail count, prefix
    // level, continuation unigram) into ONE bigram-keyed table first, so
    // the trigram-type frame pays TWO joins instead of four — the same
    // (type, stats) tuples reach the score expression, values unchanged
    val s2 = c2.select(col("__bg").as("__b23"), col("__c2").as("__c23"))
      .withColumn("__w2", substring_index(col("__b23"), " ", 1))
      .join(l2, "__w2")
      .withColumn("__w3", substring_index(col("__b23"), " ", -1))
      .join(cont3, "__w3")
      .drop("__w2", "__w3")
    val lnP = c3
      .join(l12, "__p12")
      .join(s2, "__b23")
      .crossJoin(broadcast(contTotal))
      .select(col("__tg"), log(
        greatest(col("__c3").cast("double") - d, lit(0.0)) /
          col("__c12dot").cast("double") +
        (d * col("__n1p12").cast("double") /
          col("__c12dot").cast("double")) * (
          greatest(col("__c23").cast("double") - d, lit(0.0)) /
            col("__c2dot").cast("double") +
          (d * col("__n1p2").cast("double") /
            col("__c2dot").cast("double")) *
            (col("__n1pdot3").cast("double") /
              col("__n1pdd").cast("double")))).as("__lnp"))
    val res = tf3.join(lnP, "__tg")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_trigrams"),
        round(-sum(col("__tf").cast("double") * col("__lnp")) /
          sum(col("__tf")).cast("double"), 6)
          .as("trigram_kn_cross_entropy"))
      .localCheckpoint()
    release(tfAll)
    release(c2)
    res
  }

  /** CROSS-CORPUS interpolated-KN trigram scoring — the actual CCNet
    * shape at the order that matters: the LM trains on a REFERENCE
    * corpus and scores a TARGET corpus, so unlike the in-corpus tier
    * ([[trigramKnCrossEntropy]], which never meets an unseen n-gram)
    * every rung of the backoff chain is genuinely exercised:
    *
    *   - seen trigram: the full discounted-interpolated formula;
    *   - unseen trigram under a SEEN prefix: the max(c−D,0) term is 0
    *     and the score is exactly the prefix's reserved mass
    *     λ(w1w2)·p(w3|w2);
    *   - unseen prefix: no context to discount — back off to the
    *     bigram level outright;
    *   - same two cases one level down, bottoming out in the
    *     continuation unigram, ADD-ONE smoothED over the reference's
    *     continuation vocabulary plus one unknown slot
    *     (pc(w) = (N1+(·w)+1)/(N1+(··)+V+1); unseen word →
    *     1/(N1+(··)+V+1) — the q299 Laplace discipline applied to
    *     CONTINUATION counts, so "San Francisco"-style frequency
    *     inflation still cannot leak in through the floor).
    *
    * Also emits the unseen-trigram count — the fast
    * "distribution shift / wrong register" tripwire a curation pass
    * reads before the entropy. Docs with < 3 tokens emit no row.
    *
    * Shape at corpus scale: reference count tables are n-gram-TYPE
    * granular (map-side-combined aggregates, built once); the target's
    * (doc, trigram, tf) relation LEFT-joins them at type granularity —
    * missing rows ARE the backoff signal, coalesced into the CASE
    * chain, never a second scan of the reference.
    */
  def refTrigramKnCrossEntropy(target: DataFrame, reference: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount ($discount) must be in (0, 1)")
    val d = lit(discount)
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    // reference count tables (type-granular) — ONE tokenize pass feeds
    // both orders (r17, the q331 allOrderFrequencies discipline)
    val rAll = allOrderFrequencies(reference, idCol, textCol, maxOrder = 3)
    val c3 = rAll.filter(col("__k") === 3)
      .select(col("__g").as("__tg"), col("__tf"))
      .groupBy(col("__tg")).agg(sum(col("__tf")).as("__c3"))
      .withColumn("__p12", substring_index(col("__tg"), " ", 2))
    val l12 = c3.groupBy(col("__p12"))
      .agg(sum(col("__c3")).as("__c12dot"), count(lit(1)).as("__n1p12"))
    val c2 = rAll.filter(col("__k") === 2)
      .select(col("__g").as("__bg"), col("__tf"))
      .groupBy(col("__bg")).agg(sum(col("__tf")).as("__c2"))
      .localCheckpoint()
    val l2 = c2.withColumn("__w2", substring_index(col("__bg"), " ", 1))
      .groupBy(col("__w2"))
      .agg(sum(col("__c2")).as("__c2dot"), count(lit(1)).as("__n1p2"))
    val cont3 = c2
      .withColumn("__w3", substring_index(col("__bg"), " ", -1))
      .groupBy(col("__w3")).agg(count(lit(1)).as("__n1pdot3"))
    val totals = c2.agg(count(lit(1)).as("__n1pdd"))
      .crossJoin(cont3.agg(count(lit(1)).as("__v")))
    // target trigram types, scored once per TYPE then joined back.
    // r17 suffix-chain: the bigram-level stats left-join ONCE at
    // target-2-suffix-type granularity (every 2-suffix of a target
    // trigram is itself a target 2-suffix, so the final join is total);
    // the trigram-type frame pays three joins instead of five, and the
    // per-level NULLs (the backoff signal) are preserved level by level
    val ttf = trigramFrequencies(target, idCol, textCol)
    val types = ttf.select(col("__tg")).distinct()
      .withColumn("__p12", substring_index(col("__tg"), " ", 2))
      .withColumn("__b23", substring_index(col("__tg"), " ", -2))
    val s2t = types.select(col("__b23")).distinct()
      .join(c2.select(col("__bg").as("__b23"), col("__c2").as("__c23")),
        Seq("__b23"), "left")
      .withColumn("__w2", substring_index(col("__b23"), " ", 1))
      .join(l2, Seq("__w2"), "left")
      .withColumn("__w3", substring_index(col("__b23"), " ", -1))
      .join(cont3, Seq("__w3"), "left")
      .drop("__w2", "__w3")
    val scored = types
      .join(c3.select(col("__tg"), col("__c3")), Seq("__tg"), "left")
      .join(l12, Seq("__p12"), "left")
      .join(s2t, Seq("__b23"))
      .crossJoin(broadcast(totals))
    val pc = (coalesce(col("__n1pdot3"), lit(0L)).cast("double") + 1.0) /
      (col("__n1pdd") + col("__v") + lit(1L)).cast("double")
    val p2 = when(col("__c2dot").isNull, pc).otherwise(
      greatest(coalesce(col("__c23"), lit(0L)).cast("double") - d,
        lit(0.0)) / col("__c2dot").cast("double") +
        (d * col("__n1p2").cast("double") /
          col("__c2dot").cast("double")) * pc)
    val p3 = when(col("__c12dot").isNull, p2).otherwise(
      greatest(coalesce(col("__c3"), lit(0L)).cast("double") - d,
        lit(0.0)) / col("__c12dot").cast("double") +
        (d * col("__n1p12").cast("double") /
          col("__c12dot").cast("double")) * p2)
    val lnP = scored.select(col("__tg"), log(p3).as("__lnp"),
      col("__c3").isNull.cast("int").as("__unseen"))
    val res = ttf.join(lnP, "__tg")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_trigrams"),
        sum(col("__tf") * col("__unseen")).as("n_unseen_trigrams"),
        round(-sum(col("__tf").cast("double") * col("__lnp")) /
          sum(col("__tf")).cast("double"), 6)
          .as("ref_trigram_kn_cross_entropy"))
      .localCheckpoint()
    release(rAll)
    release(c2)
    release(ttf)
    res
  }

  /** ALL-ORDERS n-gram frequencies from ONE tokenize pass: per doc, the
    * (order k ∈ [2, maxOrder], gram, tf) relation — every k-gram window
    * of every order in a single explode, so the order-N KN chain below
    * pays ONE corpus scan + tokenize where the per-level formulation
    * (q324's trigram + bigram passes) pays one per level. Corpus-level
    * type counts derive by a further groupBy — never a second scan.
    * Docs shorter than k tokens contribute no k-grams (the sequence()
    * counts-down guard, same landmine as [[bigramFrequencies]]).
    */
  private[graft] def allOrderFrequencies(docs: DataFrame, idCol: String,
                                         textCol: String, maxOrder: Int,
                                         materialize: Boolean = true)
      : DataFrame = {
    require(maxOrder >= 2 && maxOrder <= 6,
      s"maxOrder ($maxOrder) must be in [2, 6]")
    // spread BEFORE the per-order gram expansion: a one-row-group corpus
    // file is one scan split, which serialized the whole explode+concat
    // pass on a single core (Spread scaladoc)
    val base = Spread.spread(docs.select(col(idCol),
        tokens(col(textCol)).as("__t")))
      .select(col(idCol), col("__t"), size(col("__t")).as("__n"))
    val perOrder = (2 to maxOrder).map { k =>
      when(col("__n") < k,
        array().cast("array<struct<__k:int,__g:string>>"))
        .otherwise(transform(sequence(lit(1), col("__n") - (k - 1)),
          i => struct(lit(k).as("__k"),
            concat_ws(" ", (0 until k).map(j =>
              element_at(col("__t"), i + lit(j))): _*).as("__g"))))
    }
    val tf = base
      .select(col(idCol), explode(concat(perOrder: _*)).as("__e"))
      .select(col(idCol), col("__e.__k").as("__k"), col("__e.__g").as("__g"))
      .groupBy(col(idCol), col("__k"), col("__g"))
      .agg(count(lit(1)).as("__tf"))
    if (materialize) tf.localCheckpoint() else tf
  }

  /** The order-N KN reference SNAPSHOT relation: corpus-global
    * (order k, gram, count) for every k ∈ [2, order], aggregated from
    * ONE tokenize pass — everything [[refNgramKnFromCounts]] needs
    * (per-level counts, prefix aggregates and the continuation tables
    * all derive from it by filters and groupBys, never a re-scan).
    * Batch-side this is the relation a curation pipeline persists and
    * refreshes periodically; the streaming twin
    * ([[graft.streaming.EventStream.refKnScoredDocuments]]) reads the
    * frozen copy — the dsirScorePpm/mixtureGate snapshot discipline.
    */
  def knReferenceCounts(reference: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        order: Int = 5): DataFrame =
    allOrderFrequencies(reference, idCol, textCol, order,
      materialize = false)
      .groupBy(col("__k"), col("__g")).agg(sum(col("__tf")).as("__c"))

  /** Per-level relations for the order-N KN chain, cut from ONE
    * aggregated (order, gram, count) relation ([[knReferenceCounts]]'
    * shape): for each level k, the true k-gram corpus counts (keyed by
    * the N-gram's last-k-word suffix for the scoring join) and the
    * prefix aggregates (c(prefix·), N1+(prefix·)); plus the
    * continuation tables from the bigram level. Shared by the
    * in-corpus, cross-corpus and streaming-snapshot tiers.
    */
  private def knLevelTables(counts: DataFrame, order: Int)
      : (Seq[(Int, DataFrame, DataFrame)], DataFrame, DataFrame) = {
    val levels = (2 to order).map { k =>
      val ck = counts.filter(col("__k") === k)
        .select(col("__g"), col("__c").as(s"__c$k"))
      val lk = ck
        .withColumn("__p", substring_index(col("__g"), " ", k - 1))
        .groupBy(col("__p"))
        .agg(sum(col(s"__c$k")).as(s"__cdot$k"),
          count(lit(1)).as(s"__n1p$k"))
      (k, ck, lk)
    }
    val c2 = levels.head._2 // k = 2
    val cont = c2.withColumn("__w", substring_index(col("__g"), " ", -1))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n1pdot"))
    val contTotal = c2.agg(count(lit(1)).as("__n1pdd"))
    (levels, cont, contTotal)
  }

  /** ORDER-N interpolated Kneser–Ney cross-entropy — [[trigramKnCrossEntropy]]
    * generalized to the KenLM production orders (4–5): the identical
    * recursion, one rung per order,
    *
    *   p_k(w|ctx_k) = max(c_k − D, 0)/c(ctx_k·)
    *                + [D·N1+(ctx_k·)/c(ctx_k·)] · p_{k−1}
    *
    * bottoming out in the continuation unigram
    * N1+(·w)/N1+(··). Every level uses TRUE corpus counts of its own
    * order (each level the consistent ML estimate — the q324
    * discipline), all cut from ONE tokenize pass
    * ([[allOrderFrequencies]]); in-corpus, every k-gram suffix of a
    * corpus N-gram IS a corpus k-gram, so no rung's denominator is
    * null. `order` = 3 reproduces [[trigramKnCrossEntropy]]'s formula
    * exactly (unit-pinned bit-for-bit after the shared 6-decimal
    * rounding).
    *
    * Shape at corpus scale: one tokenize + one (id, k, gram)
    * aggregation; level tables are n-gram-TYPE granular cuts of it
    * (map-side combinable); the scoring chain is 2(N−1)+2 joins ALL at
    * type granularity, one final join back to the doc-granular
    * relation. Level-count join fan: each added order adds exactly two
    * type-granular joins — the "watch the level joins" budget is
    * linear, never quadratic.
    */
  def ngramKnCrossEntropy(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", order: Int = 5,
                          discount: Double = 0.75): DataFrame = {
    require(order >= 3 && order <= 5, s"order ($order) must be in [3, 5]")
    require(discount > 0.0 && discount < 1.0,
      s"discount ($discount) must be in (0, 1)")
    val d = lit(discount)
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    val tfAll = allOrderFrequencies(docs, idCol, textCol, order)
    // the type-count relation feeds every level cut (2 per order) plus
    // the continuation tables — ~10 consumers; materialize it once so
    // each cut re-reads a type-granular relation instead of re-running
    // the doc-granular aggregation
    val counts = tfAll.groupBy(col("__k"), col("__g"))
      .agg(sum(col("__tf")).as("__c"))
      .localCheckpoint()
    val (levels, cont, contTotal) = knLevelTables(counts, order)
    val tfN = tfAll.filter(col("__k") === order)
      .select(col(idCol), col("__g"), col("__tf"))
    // r17 note: a bottom-up suffix-chain (fold each level's tables into
    // one suffix-keyed table, 2 joins on the top frame instead of
    // 2(N−1)+1) was implemented and MEASURED SLOWER (q331 min-of-6
    // 2.82→3.64 s, q332 5.04→5.47 s): the per-level type tables are
    // small enough that AQE broadcasts them onto the one big frame,
    // while the chain's type-table joins are genuine shuffles. The flat
    // per-level join cascade stands.
    // scoring join: the top level keys the full gram; level k < N keys
    // the gram's last-k-word suffix; prefixes are suffix-local
    var scored = levels.last._2 // cN keyed __g
      .withColumn("__w", substring_index(col("__g"), " ", -1))
    for ((k, ck, lk) <- levels) {
      val sufx =
        if (k == order) col("__g") else substring_index(col("__g"), " ", -k)
      val pfx = substring_index(sufx, " ", k - 1)
      scored =
        (if (k == order) scored // cN already aboard
         else scored.withColumn(s"__s$k", sufx)
           .join(ck.select(col("__g").as(s"__s$k"), col(s"__c$k")),
             s"__s$k"))
        .withColumn(s"__p$k", pfx)
        .join(lk.select(col("__p").as(s"__p$k"), col(s"__cdot$k"),
          col(s"__n1p$k")), s"__p$k")
    }
    scored = scored.join(cont, "__w").crossJoin(broadcast(contTotal))
    var p: Column =
      col("__n1pdot").cast("double") / col("__n1pdd").cast("double")
    for (k <- 2 to order) {
      p = greatest(col(s"__c$k").cast("double") - d, lit(0.0)) /
        col(s"__cdot$k").cast("double") +
        (d * col(s"__n1p$k").cast("double") /
          col(s"__cdot$k").cast("double")) * p
    }
    val lnP = scored.select(col("__g"), log(p).as("__lnp"))
    val res = tfN.join(lnP, "__g")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_ngrams"),
        round(-sum(col("__tf").cast("double") * col("__lnp")) /
          sum(col("__tf")).cast("double"), 6).as("kn_cross_entropy"))
      .localCheckpoint()
    release(tfAll)
    release(counts)
    res
  }

  /** CROSS-CORPUS order-N interpolated KN — [[refTrigramKnCrossEntropy]]
    * generalized: the reference corpus trains every level's count
    * tables, the target's N-gram types LEFT-join them, and the CASE
    * chain IS the backoff ladder — an unseen context at level k scores
    * as level k−1 outright, bottoming out in the add-one-smoothed
    * continuation unigram (unseen word → 1/(N1+(··)+V+1)). Emits the
    * unseen-top-order count as the shift tripwire. Same one-tokenize-
    * per-corpus, all-type-granular join discipline as the in-corpus
    * tier.
    */
  def refNgramKnCrossEntropy(target: DataFrame, reference: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text", order: Int = 5,
                             discount: Double = 0.75): DataFrame = {
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    val rAll = allOrderFrequencies(reference, idCol, textCol, order)
    val res = refNgramKnFromCounts(target,
      rAll.groupBy(col("__k"), col("__g")).agg(sum(col("__tf")).as("__c")),
      idCol, textCol, order, discount)
    release(rAll)
    res
  }

  /** The cross-corpus scoring chain against a PRECOMPUTED reference
    * count snapshot ([[knReferenceCounts]]' (order, gram, count)
    * relation — possibly read back from parquet): everything
    * [[refNgramKnCrossEntropy]] does after the reference tokenize.
    * This is the entry the STREAMING twin rides
    * ([[graft.streaming.EventStream.refKnScoredDocuments]]): each
    * micro-batch pays only its own tokenize; the reference is a frozen
    * snapshot refreshed batch-side (per-doc scores depend only on the
    * snapshot, so multi-batch union ≡ one-shot — StreamingSpec pins
    * it).
    */
  def refNgramKnFromCounts(target: DataFrame, refCounts: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text", order: Int = 5,
                           discount: Double = 0.75): DataFrame = {
    require(order >= 3 && order <= 5, s"order ($order) must be in [3, 5]")
    require(discount > 0.0 && discount < 1.0,
      s"discount ($discount) must be in (0, 1)")
    val d = lit(discount)
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    // materialize the type-count snapshot once for its ~10 level-table
    // cuts (the ngramKnCrossEntropy rationale; also saves the streaming
    // twin re-scanning the stored snapshot per cut)
    val countsMat = refCounts.localCheckpoint()
    val (levels, cont, contTotal) = knLevelTables(countsMat, order)
    val totals = contTotal
      .crossJoin(cont.agg(count(lit(1)).as("__v")))
    val tAll = allOrderFrequencies(target, idCol, textCol, order)
    val ttf = tAll.filter(col("__k") === order)
      .select(col(idCol), col("__g"), col("__tf"))
    // (r17: the suffix-chain variant measured slower here too — see
    // ngramKnCrossEntropy. Flat per-level LEFT joins stand.)
    var scored = ttf.select(col("__g")).distinct()
      .withColumn("__w", substring_index(col("__g"), " ", -1))
    for ((k, ck, lk) <- levels) {
      val sufx =
        if (k == order) col("__g") else substring_index(col("__g"), " ", -k)
      val pfx = substring_index(sufx, " ", k - 1)
      scored = scored.withColumn(s"__s$k", sufx)
        .join(ck.select(col("__g").as(s"__s$k"), col(s"__c$k")),
          Seq(s"__s$k"), "left")
        .withColumn(s"__p$k", pfx)
        .join(lk.select(col("__p").as(s"__p$k"), col(s"__cdot$k"),
          col(s"__n1p$k")), Seq(s"__p$k"), "left")
    }
    scored = scored.join(cont, Seq("__w"), "left")
      .crossJoin(broadcast(totals))
    var p: Column =
      (coalesce(col("__n1pdot"), lit(0L)).cast("double") + 1.0) /
        (col("__n1pdd") + col("__v") + lit(1L)).cast("double")
    for (k <- 2 to order) {
      p = when(col(s"__cdot$k").isNull, p).otherwise(
        greatest(coalesce(col(s"__c$k"), lit(0L)).cast("double") - d,
          lit(0.0)) / col(s"__cdot$k").cast("double") +
          (d * col(s"__n1p$k").cast("double") /
            col(s"__cdot$k").cast("double")) * p)
    }
    val lnP = scored.select(col("__g"), log(p).as("__lnp"),
      col(s"__c$order").isNull.cast("int").as("__unseen"))
    val res = ttf.join(lnP, "__g")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_ngrams"),
        sum(col("__tf") * col("__unseen")).as("n_unseen_ngrams"),
        round(-sum(col("__tf").cast("double") * col("__lnp")) /
          sum(col("__tf")).cast("double"), 6)
          .as("ref_kn_cross_entropy"))
      .localCheckpoint()
    release(tAll)
    release(countsMat)
    res
  }

  /** Cross-corpus LM quality scoring — the ACTUAL CCNet shape: the LM is
    * trained on a separate REFERENCE corpus (CCNet: Wikipedia) and scores
    * a TARGET corpus; [[unigramCrossEntropy]]'s in-corpus form never sees
    * an unseen token, so this is the op that introduces the genuinely new
    * semantics — out-of-vocabulary mass. Add-one (Laplace) smoothing over
    * the reference vocabulary plus one unknown slot: p(w) = (c(w) + 1) /
    * (T + V + 1), unseen w → 1 / (T + V + 1); per-doc score is the
    * tf-weighted −avg ln p = ln(T + V + 1) − avg ln(c(w) + 1). Also
    * emits the raw OOV token count — the fast "wrong language / binary
    * junk" tripwire a curation pass reads before the entropy itself.
    *
    * Shape at corpus scale: the reference tokenizes once
    * ([[termFrequencies]], materialized — its vocabulary counts feed two
    * aggregates); its count table is vocabulary-sized and joins the
    * target's (doc, term, tf) relation as the build side (AQE
    * broadcasts); (T + V + 1) folds to a broadcast 1-row frame. The
    * target never shuffles text — only (doc, term, tf). The tf-weighted
    * double-sum reassociation drift is the same ~1e-13 class as q96's,
    * absorbed by the 6-decimal rounding (NOTES_r3 item 15).
    */
  def referenceCrossEntropy(ref: DataFrame, target: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val refTf = termFrequencies(ref, idCol, textCol)
    val counts = refTf.groupBy(col("term")).agg(sum(col("tf")).as("__cnt"))
    // T + V + 1 in one vocabulary-sized pass; 1-row broadcast
    val denomRow = counts
      .agg((sum(col("__cnt")) + count(lit(1)) + lit(1L)).cast("double")
        .as("__denom"))
    termFrequencies(target, idCol, textCol, materialize = false)
      .join(counts, Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("__cnt").isNull, col("tf")).otherwise(0L))
          .as("oov_tokens"),
        (sum(col("tf").cast("double") *
          log(coalesce(col("__cnt"), lit(0L)).cast("double") + 1.0)) /
          sum(col("tf")).cast("double")).as("__mean_log"))
      .crossJoin(broadcast(denomRow))
      .select(col(idCol), col("n_tokens"), col("oov_tokens"),
        round(log(col("__denom")) - col("__mean_log"), 6)
          .as("ref_cross_entropy"))
  }

  /** Corpus-level language/quality rollup. */
  def corpusSummary(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("lang"), tokenCount(col(textCol)).as("n_tokens"),
        col("n_chars"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        avg(col("n_tokens")).as("avg_tokens"),
        avg(col("n_chars")).as("avg_chars"))

  /** Repetition-based quality filters (the Gopher/MassiveText family):
    * per document, the duplicate-token fraction (1 − distinct/total) and
    * the top-bigram fraction (occurrences of the most frequent bigram /
    * total bigrams) — boilerplate and degenerately repetitive documents
    * score high on both and get `repetitive = 1`.
    *
    * Shape at corpus scale: tokenize once per row; bigram counting is
    * explode → two-level aggregate keyed by (doc, bigram) then doc —
    * partial aggregation collapses within-task duplicates before the
    * shuffle, and every key includes the doc id, so no corpus-wide hot
    * key exists (unlike a corpus-vocabulary window). Fractions are
    * rounded to 6 decimals BEFORE the threshold compare so an
    * independent engine flags identical rows (NOTES_r3 item 15).
    *
    * Degenerate inputs: an empty doc has no tokens → both fractions 0;
    * a 1-token doc has no bigrams → top-bigram fraction 0 (the `when`
    * guards keep ANSI mode from throwing on 0/0).
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      dupTokenMax: Double = 0.6,
                      topBigramMax: Double = 0.05): DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        size(col("__t")).as("__n"),
        size(array_distinct(col("__t"))).as("__nd"))
    // positional bigrams; sequence(1, 0) would count DOWN in Spark, so
    // guard docs with < 2 tokens to an empty array explicitly
    val bigrams = base.select(col(idCol),
      explode(when(col("__n") < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), col("__n") - 1),
          i => concat_ws(" ", element_at(col("__t"), i),
            element_at(col("__t"), i + 1))))).as("__bg"))
    val bgAgg = bigrams.groupBy(col(idCol), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("__maxc"), sum(col("__c")).as("__nbg"))
    val joined = base.join(bgAgg, Seq(idCol), "left")
    val dupFrac = when(col("__n") > 0,
      round(lit(1.0) - col("__nd").cast("double") / col("__n"), 6))
      .otherwise(lit(0.0))
    val topBgFrac = when(coalesce(col("__nbg"), lit(0L)) > 0,
      round(col("__maxc").cast("double") / col("__nbg"), 6))
      .otherwise(lit(0.0))
    joined.select(col(idCol),
      col("__n").cast("int").as("n_tokens"),
      dupFrac.as("dup_token_frac"),
      topBgFrac.as("top_bigram_frac"))
      .withColumn("repetitive",
        (col("dup_token_frac") > dupTokenMax ||
          col("top_bigram_frac") > topBigramMax).cast("int"))
  }

  /** Top-k term co-occurrence collocations by pointwise mutual
    * information over DOCUMENT co-presence (the classic corpus-mining
    * statistic — Church & Hanks 1990, public):
    * PMI(a,b) = ln(c_ab · N / (df_a · df_b)), counting each pair of
    * distinct terms sharing a document once per document.
    *
    * Scale shape: the distinct (doc, term) relation comes from the
    * shared single-tokenize [[termFrequencies]] checkpoint; pair
    * enumeration is a doc-keyed self-join whose cost is Σ d_i² over
    * per-doc DISTINCT vocab sizes — bounded for natural documents, and
    * the `maxDocTerms` guard raises loudly on degenerate docs instead
    * of silently exploding (cap or pre-filter to a topical vocabulary
    * at petabyte scale). df tables are vocabulary-sized joins; N is a
    * 1-row broadcast. PMI rounds to 6 BEFORE the rank (ln differs in
    * the last ulp across engines); ties break on the term pair.
    */
  /** Windowed positional PPMI — the co-occurrence-matrix construction
    * under every count-based embedding (SVD-PPMI; Levy & Goldberg 2014
    * show word2vec SGNS implicitly factorizes exactly this matrix):
    * pairs are TOKEN OCCURRENCES within ±`window` positions
    * ([[termCooccurrencePmi]] counts document CO-MEMBERSHIP instead —
    * different statistic, different use), canonicalized unordered;
    * marginals are pair-participation counts off the SAME pair relation
    * (self-consistent: marginals sum to 2N); PPMI = max(0,
    * ln(c_ab·N/(m_a·m_b))) rounded to 6 BEFORE the per-word top-k rank
    * (ties break on the collocate). Each pair feeds BOTH endpoint
    * words' lists via a both-directions explode off one subtree (the
    * q281 symmetrize lesson).
    *
    * Scale shape: tokenize once; pair generation is ARRAY-SIDE
    * (nested transform over the bounded window — ~window·N rows, no
    * per-doc self-join, no corpus-wide window function); counts and
    * marginals are map-side-combinable aggregates; the top-k is
    * GroupedTopK bounded buffers (a stop-word with 10⁶ collocates never
    * materializes more than k in any task). The m_a·m_b product is
    * computed in DOUBLE in both engines — at crawl scale marginals
    * exceed 2³¹·² and the int64 product would overflow where the
    * identical double expression just rounds.
    */
  def windowedPpmi(docs: DataFrame, window: Int = 4, minCount: Long = 5,
                   k: Int = 5, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    ppmiFromPairCounts(
      windowedPairCounts(docs, window, textCol), minCount, k)

  /** The (a, b, n) windowed co-occurrence COUNT relation — the mergeable
    * state under [[windowedPpmi]]: pair counts add across corpus slices
    * (and marginals/N derive from them), so a streaming twin can upsert
    * these counts and read the SAME [[ppmiFromPairCounts]] fold
    * ([[graft.streaming.EventStream.upsertCooccurrence]]). Unfiltered —
    * minCount applies at fold time, because a pair below threshold
    * today may cross it after the next batch.
    */
  def windowedPairCounts(docs: DataFrame, window: Int = 4,
                         textCol: String = "text"): DataFrame = {
    require(window >= 1, s"bad window: $window")
    // spread before the window-pair expansion (Spread scaladoc)
    val base = Spread.spread(docs.select(tokens(col(textCol)).as("__t")))
      .select(col("__t"), size(col("__t")).as("__n"))
    // sequence(1, 0) counts DOWN in Spark — guard < 2 tokens to empty
    val pairsArr = when(col("__n") < 2,
        array().cast("array<struct<a:string,b:string>>"))
      .otherwise(flatten(transform(sequence(lit(1), col("__n") - 1), i =>
        transform(sequence(i + 1, least(i + lit(window), col("__n"))), j =>
          struct(
            least(element_at(col("__t"), i), element_at(col("__t"), j))
              .as("a"),
            greatest(element_at(col("__t"), i), element_at(col("__t"), j))
              .as("b"))))))
    base.select(explode(pairsArr).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))
  }

  /** The PPMI fold off an (a, b, n) pair-count relation — ONE definition
    * shared by the batch query and the streaming snapshot reader, so the
    * live collocation board equals the batch statistic by construction.
    * Marginals and N are derived FROM the counts (m_w = Σ n over pairs
    * containing w, N = Σ n), which is what makes the count relation the
    * complete mergeable state.
    */
  def ppmiFromPairCounts(counts: DataFrame, minCount: Long = 5,
                         k: Int = 5): DataFrame = {
    require(k >= 1, s"bad params: k=$k")
    val scored = ppmiScoredPairs(counts, minCount)
    val sides = scored.select(explode(array(
        struct(col("__a").as("word"), col("__b").as("collocate"),
          col("n_cooc"), col("ppmi")),
        struct(col("__b").as("word"), col("__a").as("collocate"),
          col("n_cooc"), col("ppmi")))).as("__s"))
      .select(col("__s.word").as("word"), col("__s.collocate").as("collocate"),
        col("__s.n_cooc").as("n_cooc"), col("__s.ppmi").as("ppmi"))
    graft.plans.TopK.perGroup(sides, Seq("word"),
      Seq(("ppmi", true), ("collocate", false)), k)
  }

  /** The scored canonical-pair relation (__a, __b, n_cooc, ppmi) under
    * [[ppmiFromPairCounts]] and [[ppmiPowerIteration]] — ONE definition
    * so the collocation board and the embedding factorization can never
    * disagree on a PPMI value. Marginals and N derive FROM the counts;
    * the m_a·m_b product is DOUBLE in both engines (int64 would
    * overflow at crawl-scale marginals); PPMI is rounded to 6 HERE,
    * before anything ranks or quantizes it.
    */
  private[graft] def ppmiScoredPairs(counts: DataFrame,
                                     minCount: Long): DataFrame = {
    require(minCount >= 1, s"bad minCount: $minCount")
    // three consumers (filtered counts, marginals, N) — materialize once
    // (the termFrequencies discipline)
    val cAll = counts.select(col("a").as("__a"), col("b").as("__b"),
        col("n").cast("long").as("n_cooc"))
      .localCheckpoint()
    val c = cAll.filter(col("n_cooc") >= minCount)
    val m = cAll.select(col("__a").as("__w"), col("n_cooc"))
      .unionAll(cAll.select(col("__b").as("__w"), col("n_cooc")))
      .groupBy(col("__w")).agg(sum(col("n_cooc")).as("__m"))
    val nRow = cAll.agg(sum(col("n_cooc")).cast("double").as("__nn"))
    c
      .join(m.select(col("__w").as("__a"), col("__m").as("__ma")), "__a")
      .join(m.select(col("__w").as("__b"), col("__m").as("__mb")), "__b")
      .crossJoin(broadcast(nRow))
      .select(col("__a"), col("__b"), col("n_cooc"),
        greatest(lit(0.0), round(log(col("n_cooc") * col("__nn") /
          (col("__ma").cast("double") * col("__mb"))), 6)).as("ppmi"))
  }

  /** Dominant direction of the windowed-PPMI co-occurrence matrix via
    * `rounds` unrolled power-iteration steps — the factorization step
    * that completes the classical count-based embedding pipeline (q304
    * builds exactly the matrix Levy & Goldberg 2014 show SGNS
    * implicitly factorizes; the top singular direction is its rank-1
    * summary, and for a symmetric non-negative matrix the dominant
    * eigenvector is non-negative by Perron–Frobenius, so no sign
    * bookkeeping is needed).
    *
    * Exactness: PPMI is already rounded to 6 decimals, so the edge
    * weight w = round(ppmi·10⁶) is an EXACT int64 in both engines (the
    * q305 micro-unit discipline); each round is then
    * u = Σ_j w_ij·v_j (int64 products, 128-bit-exact sum) followed by
    * the integer renormalization v' = (u·10⁶) DIV max(u) — every value
    * replays bit-for-bit in the oracle's unrolled CTEs. The fixed round
    * count is the exact-replay contract (the q300/q311/q316 tradeoff).
    *
    * Scale shape: the matrix stays an EDGE LIST — the matvec is an
    * equi-join of the (pair-relation-sized) symmetrized edges with the
    * vocab-sized vector plus one map-side-combined aggregate, never a
    * dense matrix (vocab² would be absurd; the dense MatVecProduct
    * expression is for bounded-dim embedding vectors, not this). Edges
    * are checkpointed once; per-round vectors are vocab-sized
    * checkpoints, released as soon as the next iterate materializes
    * (the pageRankImpl hygiene; the final iterate stays pinned for the
    * caller — the kCore precedent).
    */
  def ppmiPowerIteration(docs: DataFrame, window: Int = 4,
                         minCount: Long = 5, rounds: Int = 3,
                         textCol: String = "text"): DataFrame =
    ppmiPowerIterationFromCounts(
      windowedPairCounts(docs, window, textCol), minCount, rounds)

  /** The power-iteration fold off an (a, b, n) pair-count relation —
    * ONE definition shared by [[ppmiPowerIteration]] and the streaming
    * snapshot reader (the count relation is the complete mergeable
    * state, so the live embedding direction equals the batch statistic
    * by construction; StreamingSpec pins it).
    */
  /** Symmetrized integer-weight PPMI edge list (x, y, w) — the matrix
    * both power-iteration tiers iterate against; checkpointed (callers
    * release).
    */
  private def ppmiEdges(counts: DataFrame, minCount: Long): DataFrame = {
    val scored = ppmiScoredPairs(counts, minCount)
      .filter(col("ppmi") > 0.0)
      .select(col("__a").as("a"), col("__b").as("b"),
        expr("CAST(round(ppmi * 1000000) AS BIGINT)").as("w"))
    // symmetrize off one subtree (the q281 lesson); a diagonal pair
    // (a = b, a token co-occurring with itself) must appear ONCE
    scored.select(explode(
        when(col("a") === col("b"), array(
          struct(col("a").as("x"), col("b").as("y"), col("w"))))
        .otherwise(array(
          struct(col("a").as("x"), col("b").as("y"), col("w")),
          struct(col("b").as("x"), col("a").as("y"), col("w")))))
        .as("__e"))
      .select(col("__e.x").as("x"), col("__e.y").as("y"), col("__e.w"))
      .localCheckpoint()
  }

  def ppmiPowerIterationFromCounts(counts: DataFrame, minCount: Long = 5,
                                   rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds ($rounds) must be in [1, 8]")
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    val edges = ppmiEdges(counts, minCount)
    var v = edges.select(col("x").as("word")).distinct()
      .withColumn("score_micro", lit(1000000L))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val u = edges
        .join(v.select(col("word").as("y"),
          col("score_micro").as("__v")), Seq("y"))
        .groupBy(col("x"))
        .agg(sum((col("w") * col("__v")).cast("decimal(38,0)")).as("__u"))
      val mx = u.agg(max(col("__u")).as("__mx"))
      val next = u.crossJoin(broadcast(mx))
        .select(col("x").as("word"),
          expr("CAST(__u * 1000000 DIV greatest(__mx, 1) AS BIGINT)")
            .as("score_micro"))
        .localCheckpoint()
      release(v)
      v = next
    }
    release(edges)
    v
  }

  /** Rank-k PPMI factorization by HOTELLING DEFLATION over the same
    * edge-list matvec: direction 1 is [[ppmiPowerIteration]]'s iterate;
    * direction e > 1 iterates the deflated operator
    * M_e·v = M·v − Σ_{p<e} u_p · (A_p · s_p) / B_p² with
    * A_p = u_pᵀMu_p, B_p = u_pᵀu_p, s_p = u_pᵀv — the rank-1 terms are
    * NEVER materialized (u uᵀ is dense vocab²); each costs one
    * vocab-sized join for s_p plus a broadcast scalar ride, so the
    * matvec stays the equi-join + aggregate the q317 plan gate pins.
    *
    * Integer replay: the scalar chain is staged to stay inside
    * decimal(38) — c1 = A DIV B (the Rayleigh quotient in matvec
    * units), c2 = (c1·s) DIV B, corr_i = u_i·c2 — every division
    * TRUNCATES TOWARD ZERO via the sign-split spelling (Spark DIV
    * truncates, DuckDB // floors: they agree only on non-negatives, so
    * negatives — which exist from direction 2 on — are divided as
    * −(|a| DIV b); NOTES_r3 landmine class). Renorm divides by
    * max(|u|). Deflation under truncation is approximate (≈1e-9
    * relative), which is FINE: the contract is fixed-round bit replay,
    * not spectral exactness — the oracle unrolls the identical chain.
    *
    * Returns (word, direction ∈ 1..k, score_micro), directions ordered
    * by extraction. TextAnalysisSpec pins plain-Scala replay, sign
    * diversity and near-orthogonality of direction 2 on a two-cluster
    * fixture.
    */
  def ppmiTopDirections(docs: DataFrame, window: Int = 4,
                        minCount: Long = 5, rounds: Int = 3, k: Int = 2,
                        textCol: String = "text"): DataFrame =
    ppmiTopDirectionsFromCounts(
      windowedPairCounts(docs, window, textCol), minCount, rounds, k)

  def ppmiTopDirectionsFromCounts(counts: DataFrame, minCount: Long = 5,
                                  rounds: Int = 3, k: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds ($rounds) must be in [1, 8]")
    require(k >= 1 && k <= 4, s"k ($k) must be in [1, 4]")
    val release =
      org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint _
    // truncate-toward-zero integral division (b > 0): the ONE spelling
    // both engines compute identically on negatives
    def tdiv(a: String, b: String) =
      s"(CASE WHEN $a < 0 THEN -((-($a)) DIV ($b)) ELSE ($a) DIV ($b) END)"
    val edges = ppmiEdges(counts, minCount)
    val vocab = edges.select(col("x").as("word")).distinct()
      .localCheckpoint()
    // priors: per extracted direction, the converged integer vector and
    // its 1-row (A = uᵀMu, B = uᵀu) scalar frame (both checkpointed)
    var priors = List.empty[(DataFrame, DataFrame)]
    var out = List.empty[DataFrame]
    var finalVs = List.empty[DataFrame]
    for (e <- 1 to k) {
      var v = vocab.withColumn("score_micro", lit(1000000L))
        .localCheckpoint()
      for (_ <- 1 to rounds) {
        val mv = edges
          .join(v.select(col("word").as("y"),
            col("score_micro").as("__v")), Seq("y"))
          .groupBy(col("x").as("word"))
          .agg(sum((col("w") * col("__v")).cast("decimal(38,0)")).as("__u"))
        val u = priors.foldLeft(mv) { case (acc, (up, ab)) =>
          val s = up.select(col("word"), col("score_micro").as("__up"))
            .join(v, "word")
            .agg(coalesce(sum((col("__up") * col("score_micro"))
              .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
              .as("__s"))
          acc
            .join(up.select(col("word"), col("score_micro").as("__up")),
              Seq("word"), "left")
            .crossJoin(broadcast(ab))
            .crossJoin(broadcast(s))
            .select(col("word"),
              expr("CAST(__u AS DECIMAL(38,0)) - " +
                s"coalesce(__up, 0) * ${tdiv(s"${tdiv("__A", "__B")} * __s",
                  "__B")}").cast("decimal(38,0)").as("__u"))
        }
        val mx = u.agg(max(abs(col("__u"))).as("__mx"))
        val next = u.crossJoin(broadcast(mx))
          .select(col("word"),
            expr(s"CAST(${tdiv("__u * 1000000", "greatest(__mx, 1)")} " +
              "AS BIGINT)").as("score_micro"))
          .localCheckpoint()
        release(v)
        v = next
      }
      out ::= v.withColumn("direction", lit(e))
      finalVs ::= v
      if (e < k) {
        // scalars for deflating the NEXT directions
        val a = edges
          .join(v.select(col("word").as("x"), col("score_micro").as("__sx")),
            Seq("x"))
          .join(v.select(col("word").as("y"), col("score_micro").as("__sy")),
            Seq("y"))
          // widen BEFORE multiplying: w (PPMI micro) can exceed ~9.2e6
          // at large corpus N, and w·sx·sy with |s| up to 1e6 then
          // passes int64 — ANSI Spark would throw ARITHMETIC_OVERFLOW
          // if the product were computed in BIGINT first (the oracle
          // mirrors with HUGEINT for the same reason)
          .agg(sum(col("w").cast("decimal(38,0)") * col("__sx")
            * col("__sy")).as("__A"))
        val b = v.agg(sum((col("score_micro") * col("score_micro"))
          .cast("decimal(38,0)")).as("__B"))
        priors :+= ((v, a.crossJoin(b).localCheckpoint()))
      }
    }
    release(edges)
    val res = out.reverse.reduce(_ unionAll _)
      .select(col("word"), col("direction"), col("score_micro"))
      .localCheckpoint()
    // res is materialized — every per-direction checkpoint (they back
    // both `out` and `priors`) and the AB scalar frames are dead now
    finalVs.foreach(release)
    priors.foreach { case (_, ab) => release(ab) }
    release(vocab)
    res
  }

  def termCooccurrencePmi(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", minCount: Long = 5,
                          k: Int = 50,
                          maxDocTerms: Int = 1000): DataFrame = {
    val dt = termFrequencies(docs, idCol, textCol)
      .select(col(idCol), col("term"))
    val guarded = dt.groupBy(col(idCol))
      .agg(collect_list(col("term")).as("__ts"))
      .withColumn("__n", size(col("__ts")))
      .withColumn("__ok",
        when(col("__n") <= maxDocTerms, true)
          .otherwise(raise_error(concat(
            lit(s"termCooccurrencePmi: document exceeds $maxDocTerms " +
              "distinct terms: "), col(idCol).cast("string")))
            .cast("boolean")))
      .filter(col("__ok"))
      .select(col(idCol), explode(col("__ts")).as("term"))
    val nRow = docs.agg(countDistinct(col(idCol)).cast("double").as("__n"))
    val dfRel = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val pairs = guarded.select(col(idCol), col("term").as("term_a"))
      .join(guarded.select(col(idCol), col("term").as("term_b")), idCol)
      .filter(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("n_docs_both"))
      .filter(col("n_docs_both") >= minCount)
    pairs
      .join(dfRel.select(col("term").as("term_a"), col("df").as("__dfa")),
        "term_a")
      .join(dfRel.select(col("term").as("term_b"), col("df").as("__dfb")),
        "term_b")
      .crossJoin(broadcast(nRow))
      .select(col("term_a"), col("term_b"), col("n_docs_both"),
        round(log(col("n_docs_both") * col("__n") /
          (col("__dfa") * col("__dfb"))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("term_a"), col("term_b"))
      .limit(k)
  }

  /** N-gram novelty against a reference subset — the curation-side
    * complement of the contamination check: instead of FLAGGING overlap
    * with a benchmark, it SCORES how much of each document's k-gram
    * vocabulary is unseen in a reference corpus (novelty = fraction of
    * the doc's distinct k-gram hashes absent from the reference's
    * distinct k-gram set). High novelty = content the reference slice
    * doesn't cover — the diversity signal data-mixing pipelines buy with
    * dedup + selection.
    *
    * Portability: grams compare as portable 31-bit hashes (identical
    * cross-engine even under collision); counts are integers, the single
    * novelty division rounds to 6.
    *
    * Scale shape: one tokenize into a (doc, gram) relation (distinct
    * per doc); the reference's distinct-gram relation reduces map-side
    * and joins gram-keyed (left join + max marker — partial-aggregated,
    * no broadcast assumption: reference gram sets are corpus-sized);
    * per-doc aggregate finishes. Nothing corpus-scale crosses the
    * driver.
    */
  def ngramNovelty(docs: DataFrame, isReference: Column,
                   idCol: String = "doc_id", textCol: String = "text",
                   k: Int = 3): DataFrame = {
    val grams = docs
      .select(col(idCol), isReference.as("__ref"),
        explode(transform(graft.functions.wordShingles(col(textCol), k),
          s => graft.functions.md5Hash31(s))).as("__g"))
      .select(col(idCol), col("__ref"), col("__g"))
      .distinct()
      .localCheckpoint()
    val refGrams = grams.filter(col("__ref"))
      .select(col("__g")).distinct()
      .withColumn("__seen", lit(1))
    grams.join(refGrams, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016, public):
    * learn the first `rounds` byte-pair merges of the corpus and return
    * the merge table — (merge_round, lhs, rhs, pair_count), the artifact
    * a BPE trainer produces. Each round counts adjacent symbol pairs
    * over the vocabulary (weighted by word frequency), takes the most
    * frequent pair (ties: (lhs, rhs) ascending), and rewrites every
    * word's symbol sequence with the pair merged.
    *
    * Symbol sequences are kept as delimiter-encoded STRINGS —
    * `|c1||c2||…|` — so the merge rewrite is a single `replace` of
    * `|l||r|` with `|lr|`: built-in replace scans left-to-right
    * non-overlapping, which is exactly BPE's greedy merge semantics
    * (a run `aaaa` under pair (a,a) becomes `aa aa`, and the newly
    * merged symbol cannot re-merge within the same round because the
    * match consumes the shared delimiter). Words containing the
    * delimiter character are excluded up front (mirrored by the oracle).
    *
    * Scale shape — the reason real BPE trainers scale: after the first
    * aggregate, ALL per-round work runs over the VOCABULARY relation
    * (distinct words × counts), not the corpus; pair counting is a
    * map-side-combinable aggregate, the winning pair is the only
    * per-round driver traffic (one row — it IS the output), and the
    * rewrite is map-only. Per-round state is localCheckpointed and the
    * superseded round's blocks are released immediately (pageRank's
    * loop discipline).
    *
    * Throws if a round finds no adjacent pairs left to merge (rounds
    * must be chosen ≤ the corpus's merge capacity — a static-shape
    * contract like pageRank's fixed iteration count, so an oracle can
    * unroll exactly `rounds` layers).
    */
  /** Shared BPE training loop: returns the merge table AND the final
    * per-word state `(__w, __s, __n)` (word, delimiter-encoded symbol
    * sequence after `rounds` merges, corpus frequency). The final state
    * frame is checkpointed and NOT released — callers either release it
    * ([[bpeTrainMerges]]) or build on it ([[bpeEncodedLengths]]).
    */
  private def bpeCore(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    // no Spread on the word base: measured flat (q171/q179/q193 within
    // noise, r17 matched A/B) — the per-round pair aggregation over the
    // checkpointed vocab dominates, not the tokenize
    val words = docs
      .select(explode(graft.functions.tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains("|"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
    var state = words.select(col("__w"),
      concat(lit("|"),
        array_join(filter(split(col("__w"), ""), c => length(c) > 0), "||"),
        lit("|")).as("__s"),
      col("__n")).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val tk = split(expr("substr(__s, 2, length(__s) - 2)"), "\\|\\|")
      val top = state
        .select(col("__n"), tk.as("__tk"))
        .select(col("__n"), explode(
          when(size(col("__tk")) < 2, array().cast("array<struct<l:string,r:string>>"))
            .otherwise(transform(sequence(lit(1), size(col("__tk")) - 1),
              i => struct(element_at(col("__tk"), i).as("l"),
                element_at(col("__tk"), i + 1).as("r"))))).as("__p"))
        .groupBy(col("__p.l"), col("__p.r"))
        .agg(sum(col("__n")).as("__cnt"))
        .orderBy(desc("__cnt"), col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) throw new IllegalStateException(
        s"bpeTrainMerges: no pairs left at round $r (corpus fully merged)")
      val (l, rr, cnt) = (top(0).getString(0), top(0).getString(1),
        top(0).getLong(2))
      merges += ((r, l, rr, cnt))
      val next = state.withColumn("__s",
        replace(col("__s"), lit(s"|$l||$rr|"), lit(s"|$l$rr|")))
        .localCheckpoint()
      bridge.releaseLocalCheckpoint(state)
      state = next
    }
    (merges.toSeq, state)
  }

  def bpeTrainMerges(docs: DataFrame, textCol: String = "text",
                     rounds: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    val (merges, state) = bpeCore(docs, textCol, rounds)
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(state)
    import spark.implicits._
    merges.toDF("merge_round", "lhs", "rhs", "pair_count")
  }

  /** The inference half of BPE: encode every document with the merge
    * table [[bpeCore]] just trained and report per-document segmentation
    * stats — symbol count after `rounds` merges, character count, and the
    * symbols-per-character compression ratio (the metric tokenizer
    * training monitors).
    *
    * Scale shape: encoding joins the corpus word stream against the
    * VOCAB-sized (word → symbol count) relation — the corpus is touched
    * once more (the tokenize), carries only (doc, word), and the encode
    * itself was already paid at vocab granularity during training.
    * Words containing the delimiter are excluded (training's contract).
    */
  def bpeEncodedLengths(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        rounds: Int = 6): DataFrame = {
    val (_, state) = bpeCore(docs, textCol, rounds)
    val enc = state.select(col("__w"),
      size(split(expr("substr(__s, 2, length(__s) - 2)"), "\\|\\|"))
        .cast("long").as("__nsym"),
      length(col("__w")).cast("long").as("__nch"))
    docs
      .select(col(idCol), explode(graft.functions.tokens(col(textCol)))
        .as("__w"))
      .filter(!col("__w").contains("|"))
      .join(enc, "__w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nsym")).as("n_symbols"),
        sum(col("__nch")).as("n_chars"))
      .select(col(idCol), col("n_words"), col("n_symbols"), col("n_chars"),
        round(col("n_symbols").cast("double") / col("n_chars"), 6)
          .as("symbols_per_char"))
  }

  /** Encode one word with a FROZEN merge table: the delimiter-encoded
    * character form folds through the merges as sequential greedy
    * replaces — built-in `replace` is greedy left-to-right
    * non-overlapping, which IS BPE's merge rule, and exactly what
    * training ([[bpeTrainMerges]]) applied per round. The merge list
    * compiles to a fixed replace chain, so the expression is pure
    * per-row compute: no state, no joins — the [[graft.ops.Sampling]]
    * frozen-snapshot (dsirScorePpm/mixtureGate) discipline applied to
    * tokenization.
    */
  def bpeEncodeWord(word: Column, merges: Seq[(String, String)]): Column = {
    val seed = concat(lit("|"),
      array_join(filter(split(word, ""), c => length(c) > 0), "||"),
      lit("|"))
    merges.foldLeft(seed) { case (acc, (l, r)) =>
      replace(acc, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
  }

  /** [[bpeEncodedLengths]] with a FROZEN merge table instead of inline
    * training: per-document segmentation stats computed entirely
    * MAP-ONLY — each row tokenizes, encodes its own words through the
    * compiled replace chain, and folds symbol/char counts, so the
    * operator applies unchanged to an unbounded stream (no vocabulary
    * join, no shuffle; that is the point of freezing the merges).
    * Matches [[bpeEncodedLengths]] exactly when given the merge table
    * its training run produced (StreamingSpec pins this). Docs with no
    * encodable word are absent, like the inline tier's inner join.
    */
  def bpeEncodedLengthsFrozen(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text",
                              merges: Seq[(String, String)]): DataFrame = {
    val tks = filter(graft.functions.tokens(col(textCol)),
      w => !w.contains("|"))
    val nsym = (w: Column) => {
      val enc = bpeEncodeWord(w, merges)
      size(split(enc.substr(lit(2), length(enc) - 2), "\\|\\|")).cast("long")
    }
    docs
      .select(col(idCol), tks.as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_words"),
        aggregate(transform(col("__tk"), nsym), lit(0L),
          (acc, x) => acc + x).as("n_symbols"),
        aggregate(transform(col("__tk"), w => length(w).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_chars"))
      .select(col(idCol), col("n_words"), col("n_symbols"), col("n_chars"),
        round(col("n_symbols").cast("double") / col("n_chars"), 6)
          .as("symbols_per_char"))
  }

  /** Per-document lexical-diversity profile — the vocabulary-richness
    * rung of the quality ladder next to [[repetitionStats]] (Gopher's
    * duplicate-fraction flags) and [[unigramCrossEntropy]] (corpus-LM
    * fit): type-token ratio, hapax-legomenon share, and the Shannon
    * entropy of the document's OWN word distribution
    * H = ln(n) − Σ c·ln(c)/n. Machine-generated or template text scores
    * low on all three; natural prose sits near the top of the entropy
    * range for its length.
    *
    * Shape at corpus scale: one tokenize pass ([[termFrequencies]],
    * un-materialized — single consumer), then ONE doc-keyed aggregate;
    * partial aggregation collapses per-task duplicates before the
    * shuffle and no corpus-wide key exists. The double Σ c·ln(c) is
    * per-document (bounded by doc length) and rounded to 6 decimals
    * after the final division (NOTES_r3 item 15 drift class). Token-free
    * docs have no term rows and are absent, matching the other per-doc
    * text profiles.
    */
  def lexicalDiversity(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol, materialize = false)
    tf.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1L, lit(1L)).otherwise(lit(0L)))
          .as("n_hapax"),
        sum(col("tf").cast("double") * log(col("tf").cast("double")))
          .as("__sclnc"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("n_hapax").cast("double") /
          col("n_types").cast("double"), 6).as("hapax_ratio"),
        round(log(col("n_tokens").cast("double")) -
          col("__sclnc") / col("n_tokens").cast("double"), 6)
          .as("word_entropy"))
  }

  /** Zipf's-law fit over the corpus head: rank terms by frequency
    * (count desc, term asc — a total order) and regress ln(count) on
    * ln(rank) by ordinary least squares over the top `topRanks` terms.
    * The slope is the Zipf exponent (−1 for ideal natural text; near 0
    * for uniform/synthetic vocabularies) — a one-row corpus-health
    * indicator used to spot template-dominated or truncated-vocabulary
    * slices before training.
    *
    * Shape at corpus scale: the corpus is touched once (tokenize +
    * map-side-combinable count); the head cut is the bounded-buffer
    * [[graft.plans.TopK]] operator (no global sort of the vocabulary),
    * and the ONLY window (row_number for ranks) runs over the ≤topRanks
    * surviving rows. Moment sums (Σx, Σy, Σxy, Σx²) are one tiny
    * aggregate; slope/intercept/r² are scalar arithmetic on them,
    * rounded to 6 decimals (ln's sub-ulp engine drift is ~1e-15 relative
    * through these sums — NOTES_r3 item 15).
    */
  def zipfFit(docs: DataFrame, textCol: String = "text",
              topRanks: Int = 500): DataFrame = {
    require(topRanks > 1, "topRanks must be > 1")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__g", lit(1))
    val head = graft.plans.TopK.perGroup(counts, Seq("__g"),
      Seq(("cnt", true), ("term", false)), topRanks)
    val w = Window.partitionBy(col("__g"))
      .orderBy(desc("cnt"), asc("term"))
    val xy = head
      .withColumn("__rank", row_number().over(w))
      .select(log(col("__rank").cast("double")).as("__x"),
        log(col("cnt").cast("double")).as("__y"))
    val m = xy.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"))
    m.select(col("__n").cast("long").as("n_ranks"),
      round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6)
        .as("zipf_slope"),
      round((col("__sy") - ((col("__n") * col("__sxy") -
          col("__sx") * col("__sy")) /
        (col("__n") * col("__sxx") - col("__sx") * col("__sx"))) *
          col("__sx")) / col("__n"), 6).as("zipf_intercept"),
      round(pow(col("__n") * col("__sxy") - col("__sx") * col("__sy"), 2) /
        ((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
          (col("__n") * col("__syy") - col("__sy") * col("__sy"))), 6)
        .as("r2"))
  }

  /** Tokenizer fertility by language — symbols per word and per char
    * for each language slice under one trained BPE vocabulary: the
    * standard multilingual-tokenizer fairness diagnostic (a language
    * whose fertility is far above the corpus mean pays more sequence
    * positions per sentence). Composes [[bpeEncodedLengths]] (per-doc
    * symbol counts under `rounds` trained merges) with a doc-keyed lang
    * join and one integer-sum rollup — the division happens once per
    * LANGUAGE on exact BIGINTs, so the output is partitioning- and
    * engine-independent. Docs with no encodable word are absent from
    * the per-doc relation and therefore from n_docs here too (inner
    * join — same contract as q179).
    */
  def bpeFertilityByLang(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", langCol: String = "lang",
                         rounds: Int = 6): DataFrame =
    bpeEncodedLengths(docs, idCol, textCol, rounds)
      .join(docs.select(col(idCol), col(langCol)), idCol)
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_symbols")).as("n_symbols"),
        sum(col("n_chars")).as("n_chars"))
      .select(col(langCol), col("n_docs"), col("n_words"),
        col("n_symbols"), col("n_chars"),
        round(col("n_symbols").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_symbols").cast("double") /
          col("n_chars").cast("double"), 6).as("symbols_per_char"))

  /** Per-source corpus data card — the one-page summary a dataset release
    * ships (datasheets-for-datasets shape): doc/token mass, exact-dup
    * rate, mean lexical quality ([[lexicalDiversity]] signals), and the
    * dominant language, one row per source.
    *
    * Shape at corpus scale: the per-doc diversity profile is one
    * tokenize + doc-keyed aggregate; the dup rate counts DISTINCT
    * portable text HASHES (md5-31 — the text itself never shuffles, and
    * a hash collision collapses identically in any engine); the language
    * mode runs a window over the (source, lang) count histogram (tiny).
    * Per-doc diversity doubles are snapped to ppm BIGINTs before the
    * per-source mean (the DSIR λ discipline): a round-6 of a double AVG
    * proved to sit ON a rounding boundary at sf0.1 and flip with sum
    * order, while Σ of exact integers divided once is engine-identical
    * under any partitioning. Token-free docs count toward n_docs and
    * the dup rate but drop out of the token/diversity means (left join
    * + non-null count — same contract both engines).
    */
  def dataCard(docs: DataFrame, srcCol: String = "source",
               idCol: String = "doc_id", textCol: String = "text",
               langCol: String = "lang"): DataFrame = {
    val div = lexicalDiversity(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens"),
        round(col("ttr") * 1e6).cast("long").as("__ttr_ppm"),
        round(col("word_entropy") * 1e6).cast("long").as("__went_ppm"))
    val base = docs.select(col(idCol), col(srcCol), col(langCol),
      graft.functions.md5Hash31(col(textCol)).as("__th"))
    val agg = base.join(div, Seq(idCol), "left")
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"),
        countDistinct(col("__th")).as("__ndt"),
        count(col("n_tokens")).as("__ndiv"),
        sum(col("__went_ppm")).as("__swent"),
        sum(col("__ttr_ppm")).as("__sttr"))
      .select(col(srcCol), col("n_docs"), col("total_tokens"), col("__ndt"),
        round(col("__swent").cast("double") /
          (col("__ndiv") * lit(1000000L)).cast("double"), 6)
          .as("mean_entropy"),
        round(col("__sttr").cast("double") /
          (col("__ndiv") * lit(1000000L)).cast("double"), 6).as("mean_ttr"))
    val langCounts = base.groupBy(col(srcCol), col(langCol))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(srcCol))
      .orderBy(desc("__c"), asc(langCol))
    val topLang = langCounts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(srcCol), col(langCol).as("top_lang"))
    agg.join(topLang, srcCol)
      .select(col(srcCol), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") /
          col("n_docs").cast("double"), 6).as("avg_doc_tokens"),
        expr("1000000 * (n_docs - __ndt) DIV n_docs").as("dup_ppm"),
        col("mean_entropy"), col("mean_ttr"), col("top_lang"))
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the corpus-similarity matrix that tells a mixture
    * designer which sources are near-redundant (low JS) and which add
    * coverage (high JS). JS is symmetric and finite without smoothing
    * (terms absent from one side meet the mixture M = (P+Q)/2), bounded
    * by ln 2.
    *
    * Engine-exact by the DSIR snap discipline: every per-term
    * contribution is computed as one fixed double expression (IEEE
    * ÷/×/+ are correctly rounded, so both engines produce identical
    * bits up to the ln), snapped to an integer NANO unit immediately
    * after the ln, and summed as BIGINT — order-free. ppm is too coarse
    * here: per-term contributions are O(1/vocab), so the snap unit is
    * 1e-9 (sums stay ≤ ln2·1e9 ≪ 2^63).
    *
    * Scale shape: one tokenize; everything after the (source, term)
    * count reduction is vocabulary-sized — the pair fan-out multiplies
    * vocab by |sources|−1, never by the corpus.
    */
  /** `buckets` = 0 keeps raw terms (exact JS over the vocabulary);
    * `buckets` > 0 folds terms into `md5Hash31(term) % buckets` first —
    * the SKETCH tier for vocabularies too large to pair-join, with
    * bounded |buckets|-sized state per source. Bucketing can only
    * UNDERSTATE divergence (data-processing inequality: merging support
    * cells never increases JS) — SpecText gates the ordering survives.
    */
  def sourceDivergence(docs: DataFrame, srcCol: String = "source",
                       textCol: String = "text",
                       buckets: Int = 0): DataFrame = {
    require(buckets >= 0, "buckets must be >= 0 (0 = raw terms)")
    val unit =
      if (buckets == 0) col("__t0")
      else graft.functions.md5Hash31(col("__t0")) % lit(buckets.toLong)
    val tf = docs
      .select(col(srcCol).as("__src"),
        explode(tokens(col(textCol))).as("__t0"))
      .select(col("__src"), unit.as("__term"))
      .groupBy(col("__src"), col("__term"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val totals = tf.groupBy(col("__src")).agg(sum(col("__c")).as("__n"))
    val pairs = totals
      .select(col("__src").as("source_a"), col("__n").as("__na"))
      .crossJoin(broadcast(totals
        .select(col("__src").as("source_b"), col("__n").as("__nb"))))
      .filter(col("source_a") < col("source_b"))
    val va = pairs.select("source_a", "source_b")
      .join(tf.select(col("__src").as("source_a"), col("__term"),
        col("__c").as("__ca")), "source_a")
    val vb = pairs.select("source_a", "source_b")
      .join(tf.select(col("__src").as("source_b"), col("__term"),
        col("__c").as("__cb")), "source_b")
    val merged = va.join(vb, Seq("source_a", "source_b", "__term"),
        "full_outer")
      .select(col("source_a"), col("source_b"), col("__term"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
      .join(broadcast(pairs), Seq("source_a", "source_b"))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val m = (p + q) / lit(2.0)
    val contrib = (when(col("__ca") > 0, p * log(p / m))
      .otherwise(lit(0.0)) +
      when(col("__cb") > 0, q * log(q / m)).otherwise(lit(0.0))) *
      lit(0.5)
    merged
      .select(col("source_a"), col("source_b"),
        round(contrib * lit(1e9)).cast("long").as("__nano"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__nano")).as("__s"))
      .select(col("source_a"), col("source_b"), col("n_terms"),
        round(col("__s").cast("double") / lit(1e9), 6)
          .as("js_divergence"))
  }

  /** Classifier report card for the language-ID heuristic against the
    * corpus's labeled `lang` column: per-class support, prediction count,
    * hits, and precision/recall/F1. Every metric derives from the INTEGER
    * confusion counts in one rounded division — in particular F1 uses the
    * identity 2·TP/(n_true + n_pred), never the already-rounded p and r —
    * so both engines compute identical doubles. Classes are the UNION of
    * observed labels and predictions (a class that is only ever predicted,
    * like "und", still gets its precision-0 row). One corpus scan; the
    * report runs on the |classes|²-bounded confusion relation.
    */
  def langIdEvaluation(docs: DataFrame, textCol: String = "text",
                       labelCol: String = "lang"): DataFrame = {
    val conf = languageIdDf(docs, textCol)
      .groupBy(col(labelCol).as("__lab"), col("lang_pred").as("__pred"))
      .agg(count(lit(1)).as("__n"))
    val classes = conf.select(col("__lab").as("lang"))
      .union(conf.select(col("__pred")))
      .distinct()
    val trueN = conf.groupBy(col("__lab").as("lang"))
      .agg(sum(col("__n")).as("__nt"))
    val predN = conf.groupBy(col("__pred").as("lang"))
      .agg(sum(col("__n")).as("__np"))
    val hits = conf.filter(col("__lab") === col("__pred"))
      .select(col("__lab").as("lang"), col("__n").as("__nc"))
    classes
      .join(trueN, Seq("lang"), "left")
      .join(predN, Seq("lang"), "left")
      .join(hits, Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("__nt"), lit(0L)).as("n_true"),
        coalesce(col("__np"), lit(0L)).as("n_pred"),
        coalesce(col("__nc"), lit(0L)).as("n_correct"))
      .select(col("lang"), col("n_true"), col("n_pred"), col("n_correct"),
        when(col("n_pred") > 0, round(col("n_correct").cast("double") /
          col("n_pred").cast("double"), 6)).otherwise(lit(0.0))
          .as("precision"),
        when(col("n_true") > 0, round(col("n_correct").cast("double") /
          col("n_true").cast("double"), 6)).otherwise(lit(0.0))
          .as("recall"),
        when(col("n_true") + col("n_pred") > 0,
          round(lit(2.0) * col("n_correct").cast("double") /
            (col("n_true") + col("n_pred")).cast("double"), 6))
          .otherwise(lit(0.0)).as("f1"))
  }

  /** Distinct-score cumulative relation shared by [[rocPrReport]] and
    * [[prCurve]] — per distinct predicted score (already rounded to 6 by
    * [[qualityLogistic]], so the domain is ≤ 10⁶+1 values by
    * construction): positive/negative support at that exact score, plus
    * cumulative TP/FP counting every row scored AT OR ABOVE it (the
    * "predict positive at threshold = score" confusion counts). The
    * per-score aggregate is partial-combined and corpus-sized work stops
    * there; the unpartitioned cumulative window runs over the BOUNDED
    * distinct-score relation only (the q233 `__t` discipline — never the
    * corpus). Ties share one row, so every downstream metric is
    * tie-block deterministic with no per-row ordering ambiguity.
    */
  private[graft] def scoreCurve(scored: DataFrame, probCol: String,
                                labelCol: String): DataFrame =
    scoreCurveFromCounts(scored
      .select(col(probCol).as("threshold"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("threshold"))
      .agg(sum(col("__y")).as("n_pos"),
        (count(lit(1)) - sum(col("__y"))).as("n_neg")))

  /** [[scoreCurve]] from PRE-AGGREGATED (threshold, n_pos, n_neg)
    * counts — the monitor form: per-threshold class counts are
    * mergeable integers, so a streaming snapshot scored through this
    * path equals the batch curve over everything seen. Rows for the
    * same threshold re-aggregate (upsert idempotence doesn't depend on
    * perfect store dedup).
    */
  private[graft] def scoreCurveFromCounts(counts: DataFrame): DataFrame = {
    val g = counts.groupBy(col("threshold"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("threshold").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    g.withColumn("tp", sum(col("n_pos")).over(w))
      .withColumn("fp", sum(col("n_neg")).over(w))
  }

  /** Threshold-free classifier report card — ROC-AUC, Gini, average
    * precision, and the best-F1 operating point for a probabilistic
    * scorer against a binary label, in ONE row: the eval that belongs
    * next to [[calibrationBins]] whenever the frozen quality logistic
    * (or any learned filter) is retrained. All metrics derive from the
    * distinct-score cumulative relation ([[scoreCurve]]):
    *
    *  - AUC via the tie-corrected rank-sum identity (Mann–Whitney U,
    *    Hanley–McNeil 1982, public): 2U = Σ_s n_pos(s)·(2·neg_below(s)
    *    + n_neg(s)) — an exact INTEGER until the single final division,
    *    so both engines agree bit-for-bit. Gini = (2U − P·N)/(P·N) from
    *    the same integer numerator, never from the already-rounded AUC.
    *  - Average precision with tie-BLOCK semantics (every positive in a
    *    tied score block contributes that block's precision): each
    *    block's n_pos·precision term snaps to a nano BIGINT immediately
    *    (the [[sourceDivergence]] discipline) so the sum is order-free.
    *  - Best F1 over thresholds via the integer identity 2·TP/(TP+FP+P);
    *    rounded to 6 BEFORE the argmax, ties broken toward the LARGER
    *    threshold (max-struct in both engines).
    *
    * Degenerate single-class inputs yield NULL metrics rather than an
    * ANSI divide-by-zero. Integer exactness holds to ~3·10⁹ per class
    * (P·N and the nano products stay in int64); past that swap the
    * accumulators for DECIMAL, as [[graft.ops.Sampling.unimaxAllocation]]
    * documents for its ppm products.
    */
  def rocPrReport(scored: DataFrame, probCol: String,
                  labelCol: String): DataFrame =
    rocTail(scoreCurve(scored, probCol, labelCol))

  /** [[rocPrReport]] from a PRE-AGGREGATED (threshold, n_pos, n_neg)
    * relation — the monitor form (a streamed score-count snapshot
    * instead of the scored rows); pinned equal to the row form.
    */
  def rocPrReportFromCounts(counts: DataFrame): DataFrame =
    rocTail(scoreCurveFromCounts(counts))

  private def rocTail(curve: DataFrame): DataFrame = {
    val tot = curve.agg(sum(col("n_pos")).as("__P"),
      sum(col("n_neg")).as("__N"))
    val f1 = round(lit(2.0) * col("tp").cast("double") /
      (col("tp") + col("fp") + col("__P")).cast("double"), 6)
    curve.crossJoin(broadcast(tot))
      .agg(first(col("__P")).as("n_pos"), first(col("__N")).as("n_neg"),
        sum(col("n_pos") * (lit(2L) * (col("__N") - col("fp")) +
          col("n_neg"))).as("__u2"),
        sum(round(lit(1e9) * col("n_pos").cast("double") *
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .cast("long")).as("__apn"),
        max(struct(f1.as("__f1"), col("threshold"))).as("__bf"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("__u2") - col("n_pos") * col("n_neg")).cast("double") /
            (col("n_pos") * col("n_neg")).cast("double"), 6)).as("gini"),
        when(col("n_pos") > 0,
          round(col("__apn").cast("double") / (lit(1e9) * col("n_pos")), 6))
          .as("avg_precision"),
        col("__bf.__f1").as("best_f1"),
        col("__bf.threshold").as("best_f1_threshold"))
  }

  /** Flesch reading-ease per document (Flesch 1948, public) — the
    * classic readability feature a curation pipeline files next to the
    * quality logistic: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), with sentences = runs of [.!?] (min 1 —
    * fragment text is one sentence) and syllables = per-word vowel-group
    * count clamped to ≥ 1 (the standard heuristic). Entirely map-side
    * codegen — the syllable fold is one `aggregate()` over the token
    * array, no explode, nothing shuffles; the three counts are exact
    * integers and the score is one shared-op-order expression rounded
    * to 6. Zero-word docs yield NULL.
    */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val words = size(toks).cast("long")
    val sentences = greatest(lit(1L),
      regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
    val syllables = aggregate(toks, lit(0L), (acc, t) =>
      acc + greatest(lit(1L),
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long")))
    docs.select(col(idCol), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          round(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")), 6)))
  }

  /** Content-novelty curve over ingest batches — "is the crawl still
    * finding new content, or re-fetching the web it already has?": docs
    * bucket into id-ordered batches (the append-ordered ingest-snapshot
    * grain), each batch reports its distinct k-shingles, how many were
    * NEVER seen in any earlier batch (first-seen = min batch per
    * portable shingle hash — one hash-keyed aggregate, no per-batch
    * scan), the running total, and the novelty share in integer ppm.
    * A flattening curve is the spend-no-more signal the coverage greedy
    * ([[graft.ops.Sampling.greedySourceCoverage]]) gives across sources,
    * here across TIME.
    *
    * Scale shape: one reduction to distinct (batch, hash), two keyed
    * aggregates, a left join on the batch key; the cumulative window
    * runs over the #batches-sized relation — `batchSize` sets that
    * grain, so pick it like a calendar grain (snapshots, not rows):
    * the window input is snapshot-count-bounded, never corpus-sized.
    */
  def noveltyCurve(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleK: Int = 3,
                   batchSize: Long = 50L): DataFrame = {
    require(batchSize >= 1, s"batchSize ($batchSize) must be >= 1")
    // spread before the shingle explode (one-row-group scan = one core)
    val shingled = Spread.spread(docs.select(col(idCol), col(textCol)))
      .select(expr(s"$idCol DIV $batchSize").as("batch"),
        explode(graft.functions.wordShingles(col(textCol), shingleK))
          .as("__s"))
      .select(col("batch"), graft.functions.md5Hash31(col("__s")).as("__h"))
      .distinct()
      .localCheckpoint()
    val firstSeen = shingled.groupBy(col("__h"))
      .agg(min(col("batch")).as("__fb"))
    val present = shingled.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_shingles"))
    val fresh = firstSeen.groupBy(col("__fb").as("batch"))
      .agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("batch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    present.join(fresh, Seq("batch"), "left")
      .select(col("batch"), col("n_shingles"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cumulative_new", sum(col("n_new")).over(w))
      .withColumn("novelty_ppm",
        expr("1000000 * n_new DIV n_shingles"))
  }

  /** Distinctive terms per source — the "Fightin' Words" log-odds ratio
    * with an informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    * public): for each source, which terms are OVER-represented vs the
    * rest of the corpus, scored as z = δ/√var with
    * δ = ln-odds(term | source+prior) − ln-odds(term | rest+prior) and
    * var ≈ 1/(y_sw+a_w) + 1/(y_rw+a_w). The prior is the corpus term
    * distribution at full strength (a_w = y_w, a₀ = N — the standard
    * informative instantiation with zero float arithmetic in the prior),
    * so rare-term noise shrinks toward the corpus rate instead of
    * dominating the tails the way raw log-odds or PMI do. Every
    * ln/√ argument is a ratio/sum of exact INTEGER counts; z rounds to
    * 6 BEFORE the ranking (round-before-rank) with the term string as
    * tiebreak. Candidates are the OBSERVED (source, term) pairs — an
    * absent term's z is deeply negative and cannot make a top-k.
    *
    * Scale shape: one tokenize + (source, term) count reduction; the
    * corpus-wide term totals join term-keyed, source totals and the
    * corpus scalar broadcast; the final cut is the bounded-heap
    * [[graft.plans.TopK]] operator — no per-source sort, no window.
    */
  def distinctiveTerms(docs: DataFrame, srcCol: String = "source",
                       textCol: String = "text", k: Int = 5): DataFrame = {
    val tf = docs
      .select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("__ysw"))
      .localCheckpoint()
    val yw = tf.groupBy(col("term")).agg(sum(col("__ysw")).as("__yw"))
    val ns = tf.groupBy(col("source")).agg(sum(col("__ysw")).as("__ns"))
    val ntot = tf.agg(sum(col("__ysw")).as("__N"))
    val yrw = col("__yw") - col("__ysw")
    val oddsS = (col("__ysw") + col("__yw")).cast("double") /
      (col("__ns") + col("__N") - col("__ysw") - col("__yw"))
        .cast("double")
    val oddsR = (yrw + col("__yw")).cast("double") /
      (col("__N") - col("__ns") + col("__N") - yrw - col("__yw"))
        .cast("double")
    val variance = lit(1.0) / (col("__ysw") + col("__yw")).cast("double") +
      lit(1.0) / (yrw + col("__yw")).cast("double")
    val scored = tf
      .join(yw, Seq("term"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(ntot))
      .select(col("source"), col("term"),
        col("__ysw").as("n_occurrences"),
        round((log(oddsS) - log(oddsR)) / sqrt(variance), 6)
          .as("z_score"))
    graft.plans.TopK.perGroup(scored, Seq("source"),
      Seq(("z_score", true), ("term", false)), k)
  }

  /** Mutual information of each numeric feature with a discrete label —
    * the feature-selection scorecard for a learned quality filter
    * (which of the heuristic features actually carries signal about the
    * label, in nats): every feature is binned into `bins` equal-width
    * bins over its own observed [min, max] (hi folds into the last bin;
    * a constant feature collapses to one bin and scores 0), and
    * MI = Σ_{b,y} (n_by/n)·ln(n_by·n / (n_b·n_y)) over the joint bin ×
    * label counts. The log's argument is a ratio of two exact INTEGER
    * products (no pre-divided marginals), each term nano-snaps to a
    * BIGINT immediately (the [[sourceDivergence]] discipline) so the
    * sum is order-free; empty cells contribute nothing, exactly as the
    * definition's 0·ln(0) limit. Integer products stay exact to
    * n ≈ 3·10⁹ rows; past that swap for DECIMAL.
    *
    * NULL (or NaN) feature values carry no bin: they are EXCLUDED from
    * the joint/marginal counts (so the cell probabilities still sum to
    * 1 over the observed rows) and surfaced per feature as `n_null` —
    * silently folding them into a phantom bin would bias mi_nats with
    * no error, and silently dropping them would hide a data-quality
    * problem the scorecard exists to catch.
    *
    * Scale shape: one melt scan (|features| rows per input row, a
    * map-side explode), per-feature min/max (|features| rows, broadcast
    * back), then everything runs on the (features × bins × labels)-
    * bounded count relation. Returns (feature, n_docs, n_null, mi_nats).
    */
  def featureMutualInfo(df: DataFrame, featureCols: Seq[String],
                        labelCol: String, bins: Int = 10): DataFrame = {
    require(bins > 1, s"bins must be > 1: $bins")
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    val melted = df
      .select(explode(array(featureCols.map { f =>
          val v = col(f).cast("double")
          // NaN → NULL here so one null path covers both absent kinds
          struct(lit(f).as("feature"),
            when(isnan(v), lit(null).cast("double")).otherwise(v).as("__v"))
        }: _*)).as("__m"),
        col(labelCol).cast("long").as("__y"))
      .select(col("__m.feature").as("feature"), col("__m.__v").as("__v"),
        col("__y"))
    val edges = melted.groupBy(col("feature"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val binned = melted.join(broadcast(edges), Seq("feature"))
      .select(col("feature"), col("__y"),
        when(col("__v").isNull, lit(null).cast("long"))
          .when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(
            floor((col("__v") - col("__lo")) * bins /
              (col("__hi") - col("__lo"))).cast("long"),
            lit((bins - 1).toLong))).as("__b"))
    val cAll = binned.groupBy(col("feature"), col("__b"), col("__y"))
      .agg(count(lit(1)).as("__nby"))
      .localCheckpoint()
    val nNull = cAll.filter(col("__b").isNull).groupBy(col("feature"))
      .agg(sum(col("__nby")).as("__nnull"))
    val c = cAll.filter(col("__b").isNotNull)
    val nb = c.groupBy(col("feature"), col("__b"))
      .agg(sum(col("__nby")).as("__nb"))
    val ny = c.groupBy(col("feature"), col("__y"))
      .agg(sum(col("__nby")).as("__ny"))
    val nt = c.groupBy(col("feature")).agg(sum(col("__nby")).as("__n"))
    c.join(nb, Seq("feature", "__b"))
      .join(ny, Seq("feature", "__y"))
      .join(broadcast(nt), Seq("feature"))
      .select(col("feature"), col("__n"),
        round((col("__nby").cast("double") / col("__n")) *
          log((col("__nby") * col("__n")).cast("double") /
            (col("__nb") * col("__ny")).cast("double")) * lit(1e9))
          .cast("long").as("__nano"))
      .groupBy(col("feature"))
      .agg(first(col("__n")).as("n_docs"),
        round(sum(col("__nano")).cast("double") / lit(1e9), 6)
          .as("mi_nats"))
      // full outer: an ALL-null feature has no observed counts but must
      // still appear in the scorecard (n_docs 0, its rows all in n_null)
      .join(broadcast(nNull), Seq("feature"), "full_outer")
      .select(col("feature"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("__nnull"), lit(0L)).as("n_null"),
        coalesce(col("mi_nats"), lit(0.0)).as("mi_nats"))
  }

  /** One-row classifier governance report — the page a model-review
    * board reads before a learned quality filter ships: discrimination
    * ([[rocPrReport]]'s AUC/Gini/AP/best-F1) and calibration (expected
    * calibration error, the support-weighted mean of
    * [[calibrationBins]]' per-bin gaps) side by side, from ONE scored
    * scan (the narrow (prob, label) projection is localCheckpointed and
    * feeds both branches). Each bin's n·gap term nano-snaps before the
    * order-free sum; both branches fold to 1-row frames before the
    * final broadcast cross-ride, so nothing corpus-sized crosses a
    * second Exchange.
    */
  def classifierGovernanceReport(scored: DataFrame, probCol: String,
                                 labelCol: String,
                                 bins: Int = 10): DataFrame = {
    val sc = scored.select(col(probCol).as("__p"),
      col(labelCol).cast("long").as("__y")).localCheckpoint()
    val roc = rocPrReport(sc, "__p", "__y")
    val ece = calibrationBins(sc, "__p", "__y", bins)
      .agg(sum(col("n_docs")).as("__nd"),
        sum(round(col("n_docs") * col("calib_gap") * lit(1e9))
          .cast("long")).as("__en"))
      .select(col("__nd").as("n_docs"),
        round(col("__en").cast("double") / (lit(1e9) * col("__nd")), 6)
          .as("ece"))
    ece.crossJoin(broadcast(roc))
  }

  /** Precision–recall curve at every achievable operating point: one row
    * per DISTINCT predicted score (threshold = "predict positive at
    * score ≥ this"), with the confusion counts and round-6
    * precision/recall/F1 — the table a curation team reads to pick the
    * quality-filter cut, and the row-level view [[rocPrReport]] folds to
    * one line. Output is bounded by the 6-decimal score domain, never
    * corpus-sized; F1 uses the integer identity 2·TP/(TP+FP+P) so no
    * already-rounded metric feeds another.
    */
  // ----------------------------------------- multi-pattern blocklist scan

  /** `array<struct<phrase, hits>>` of non-overlapping, case-insensitive
    * occurrence counts of each literal phrase in `text` — the C4/
    * RefinedWeb-style bad-phrase gate. hits is the replace-difference
    * count ((len − len(replace)) / len(phrase)): pure string/length
    * expressions, so the identical formula runs in the DuckDB oracle
    * and the whole tier stays a map-only projection.
    */
  /** Validated, lowercased phrase list shared by every blocklist tier.
    * Lowering uses Locale.ROOT — String.toLowerCase with the JVM default
    * locale would turn 'I' into dotless 'ı' on a Turkish-locale driver
    * while Spark's lower() is locale-independent, so a phrase containing
    * 'I' would silently never match. Distinctness is required on the
    * LOWERED forms: two phrases differing only in case collide after
    * lowering and would double-count the census (the expression tier
    * accumulates the collided phrase twice per doc; the AC tier emits
    * two rows) — reject the list instead.
    */
  private def lowerPhrases(phrases: Seq[String]): Seq[String] = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      s"phrases must be non-empty: $phrases")
    val lowered = phrases.map(_.toLowerCase(java.util.Locale.ROOT))
    require(lowered.distinct.size == lowered.size,
      s"phrases must be distinct after lowercasing: $phrases")
    lowered
  }

  def blocklistHits(text: Column, phrases: Seq[String]): Column = {
    val t = lower(text)
    array(lowerPhrases(phrases).map { pl =>
      val rep = call_function("replace", t, lit(pl), lit(""))
      struct(lit(pl).as("phrase"),
        ((length(t) - length(rep)) / lit(pl.length)).cast("long").as("hits"))
    }: _*)
  }

  /** Per-document blocklist gate: total hits, phrases hit, and the
    * worst (most-frequent, ties → lexicographically first) phrase —
    * the row-level filter a curation pipeline composes with quality
    * scores. Map-only: ONE projection builds the [[blocklistHits]]
    * array, higher-order folds reduce it; no shuffle, no UDF, and the
    * text is never copied per phrase past the projection.
    */
  def blocklistPerDoc(docs: DataFrame, phrases: Seq[String],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val arr = blocklistHits(col(textCol), phrases)
    val init = struct(lit("").as("phrase"), lit(-1L).as("hits"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), arr.as("__h"))
      .select(col(idCol),
        aggregate(col("__h"), lit(0L),
          (acc, x) => acc + x.getField("hits")).as("n_hits"),
        aggregate(col("__h"), lit(0L),
          (acc, x) => acc + when(x.getField("hits") > 0, 1L).otherwise(0L))
          .as("n_phrases_hit"),
        aggregate(col("__h"), init, (acc, x) =>
          when(x.getField("hits") > acc.getField("hits") ||
            (x.getField("hits") === acc.getField("hits") &&
              x.getField("phrase") < acc.getField("phrase")), x)
            .otherwise(acc)).getField("phrase").as("__worst"))
      .select(col(idCol), col("n_hits"), col("n_phrases_hit"),
        when(col("n_hits") > 0, col("__worst")).otherwise(lit(null))
          .as("worst_phrase"),
        (col("n_hits") > 0).as("flagged"))
  }

  /** Per-phrase blocklist count relation (phrase, docs_hit, total_hits,
    * n_docs) — the COMPLETE mergeable state behind [[blocklistCensus]]:
    * counts sum across batches (every phrase reports a row per batch,
    * zero-hit included, so n_docs accumulates identically on each), which
    * is what the streaming twin merges.
    */
  def blocklistCounts(docs: DataFrame, phrases: Seq[String],
                      textCol: String = "text"): DataFrame =
    // every doc emits exactly one struct per phrase, so count(1) per
    // phrase group IS the doc count — no second corpus scan for the
    // denominator (PlanShapeSpec gates the single scan)
    docs.filter(col(textCol).isNotNull)
      .select(explode(blocklistHits(col(textCol), phrases)).as("__h"))
      .select(col("__h.phrase").as("phrase"), col("__h.hits").as("hits"))
      .groupBy(col("phrase"))
      .agg(sum((col("hits") > 0).cast("long")).as("docs_hit"),
        sum(col("hits")).as("total_hits"),
        count(lit(1)).as("n_docs"))

  /** The census statistic off a [[blocklistCounts]]-shaped relation —
    * ONE fold shared by the batch census, the AC tier, and the
    * streaming snapshot (StreamingSpec pins multi-batch ≡ one-shot).
    */
  def blocklistCensusFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("phrase"), col("docs_hit"), col("total_hits"),
      expr("1000000 * docs_hit DIV n_docs").as("docs_hit_ppm"))

  /** Corpus-level blocklist census: per phrase, documents hit, total
    * occurrences, and document incidence in integer ppm — the
    * governance rollup behind a bad-phrase release gate. Phrases with
    * zero hits still report (a release review must see the clean rows).
    *
    * Shape at 100 TB: the text is consumed in ONE map-only projection
    * (the exploded rows carry only (phrase, hits), never the text); the
    * rollup is a |phrases|-sized map-side-combined aggregate and the
    * doc count rides a broadcast 1-row join.
    */
  def blocklistCensus(docs: DataFrame, phrases: Seq[String],
                      textCol: String = "text"): DataFrame =
    blocklistCensusFromCounts(blocklistCounts(docs, phrases, textCol))

  /** Aho–Corasick multi-pattern scan — the SCALE tier of the blocklist:
    * ONE automaton pass per document regardless of |phrases|, where the
    * expression tier pays one `replace` pass per phrase. The automaton
    * is built once on the driver, broadcast, and walked inside
    * mapPartitions (SURVEY §4 tier d — imperative per-row state, like
    * the codec tiers); emits only (id, phrase, hits > 0) rows, so the
    * output is sparse however large the phrase list grows.
    *
    * Semantics: counts ALL occurrences, overlapping included (match
    * ends, the textbook automaton output). For phrases with no proper
    * border (no prefix = suffix, e.g. any two-word phrase whose words
    * differ) self-overlap is impossible and this EQUALS the
    * non-overlapping replace count of [[blocklistHits]] — pinned in
    * TextAnalysisSpec; a bordered phrase like "aa" diverges by design
    * ("aaaa": 3 overlapping vs 2 non-overlapping).
    */
  def blocklistScanAC(docs: DataFrame, phrases: Seq[String],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pats = lowerPhrases(phrases).toArray
    val acB = spark.sparkContext.broadcast(new AhoCorasick(pats))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = acB.value
        it.flatMap { case (id, text) =>
          val counts = ac.countsIn(text)
          Iterator.range(0, counts.length).collect {
            case pi if counts(pi) > 0L => BlocklistHit(id, ac.pattern(pi), counts(pi))
          }
        }
      }
      .toDF()
      .select(col("id").as(idCol), col("phrase"), col("hits"))
  }

  /** [[blocklistCensus]] computed through the [[blocklistScanAC]] scale
    * tier: the sparse hit rows re-aggregate per phrase, zero-hit phrases
    * rejoin from the literal list (a release review must see the clean
    * rows), and the doc count rides the same broadcast 1-row join. For
    * border-free phrases this is row-identical to the expression tier —
    * the tier-equivalence pair shares one oracle.
    */
  def blocklistCensusAC(docs: DataFrame, phrases: Seq[String],
                        textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.filter(col(textCol).isNotNull)
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val all = lowerPhrases(phrases).toDF("phrase")
    blocklistCensusFromCounts(
      blocklistScanAC(docs, phrases, textCol = textCol)
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("docs_hit"), sum(col("hits")).as("total_hits"))
        .join(broadcast(all), Seq("phrase"), "right")
        .select(col("phrase"),
          coalesce(col("docs_hit"), lit(0L)).as("docs_hit"),
          coalesce(col("total_hits"), lit(0L)).as("total_hits"))
        .crossJoin(broadcast(nDocs)))
  }

  def prCurve(scored: DataFrame, probCol: String,
              labelCol: String): DataFrame = {
    val curve = scoreCurve(scored, probCol, labelCol)
    val tot = curve.agg(sum(col("n_pos")).as("__P"))
    curve.crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_pos"), col("n_neg"),
        (col("tp") + col("fp")).as("n_pred"), col("tp"),
        round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6).as("precision"),
        when(col("__P") > 0, round(col("tp").cast("double") /
          col("__P").cast("double"), 6)).as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
          (col("tp") + col("fp") + col("__P")).cast("double"), 6).as("f1"))
  }
}

/** Sparse (doc, phrase) hit row emitted by [[TextAnalysis.blocklistScanAC]]. */
private[ops] case class BlocklistHit(id: Long, phrase: String, hits: Long)

/** Classic Aho–Corasick automaton (Aho & Corasick 1975) over literal
  * lowercase patterns: trie + BFS failure links with output sets merged
  * along the links, so one left-to-right walk reports every occurrence of
  * every pattern (overlapping included). Built once on the driver and
  * broadcast — construction is O(Σ|pattern|), the scan is O(|text| +
  * matches) independent of the pattern count, which is the entire point
  * versus the per-phrase `replace` expression tier.
  */
private[graft] final class AhoCorasick(patterns: Array[String])
    extends Serializable {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty")

  private val children =
    scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.HashMap.empty[Char, Int])
  private val out =
    scala.collection.mutable.ArrayBuffer[List[Int]](Nil)

  patterns.zipWithIndex.foreach { case (p, pi) =>
    var cur = 0
    p.foreach { c =>
      cur = children(cur).getOrElseUpdate(c, {
        children += scala.collection.mutable.HashMap.empty[Char, Int]
        out += Nil
        children.size - 1
      })
    }
    out(cur) = pi :: out(cur)
  }

  // BFS: a node's failure target is strictly shallower, so out(fail(v))
  // is final by the time v is processed and can be merged in place
  private val fail: Array[Int] = {
    val f = new Array[Int](children.size)
    val queue = scala.collection.mutable.Queue.empty[Int]
    children(0).valuesIterator.foreach { v => f(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      children(u).foreach { case (c, v) =>
        var t = f(u)
        while (t != 0 && !children(t).contains(c)) t = f(t)
        val target = children(t).getOrElse(c, 0)
        f(v) = if (target == v) 0 else target
        out(v) = out(v) ::: out(f(v))
        queue += v
      }
    }
    f
  }

  def pattern(i: Int): String = patterns(i)

  /** Per-pattern occurrence counts (all match end positions) in one pass. */
  def countsIn(text: String): Array[Long] = {
    val counts = new Array[Long](patterns.length)
    var s = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      while (s != 0 && !children(s).contains(c)) s = fail(s)
      s = children(s).getOrElse(c, 0)
      var o = out(s)
      while (o.nonEmpty) { counts(o.head) += 1L; o = o.tail }
      i += 1
    }
    counts
  }
}
