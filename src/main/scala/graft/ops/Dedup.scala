package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extension; SURVEY.md §2.11): exact, MinHash-LSH near-dup, SimHash
  * near-dup, and n-gram Jaccard verification.
  *
  * Scale design: every stage is a shuffle on a well-distributed key
  * (content hash, (band, bucket), simhash block) — no driver-side state, no
  * cross-join over the corpus. Candidate generation is LSH-bounded, so the
  * pairwise verification join touches only hash-colliding groups, not O(n²).
  */
object Dedup {

  // ----------------------------------------------------------- exact dedup

  /** Keep exactly one row per key, deterministically (lowest `orderCol`):
    * row_number() over (partition by key order by tiebreak) == 1.
    * `dropDuplicates` would keep an arbitrary row — unacceptable for
    * reproducible pipelines and for oracle comparison.
    *
    * At 100 TB prefer `exactByHash` below: grouping on a 128-bit content
    * hash shuffles ~16-byte keys instead of full document texts.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tiebreakCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup via content hash: min(id) per 128-bit content hash (two
    * independently-seeded xxhash64 lanes). Shuffles only (hash, id) pairs;
    * survivors are re-joined to fetch payloads. This is the 100 TB shape:
    * the wide columns never shuffle.
    *
    * Why 128 bits: a single 64-bit lane hits birthday collisions around
    * 2^32 documents — a few billion, i.e. exactly the corpus size this
    * operator exists for — and a collision here silently DELETES a unique
    * document. Two lanes push the first expected collision past 10^19 docs.
    */
  def exactByHash(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    // salt FIRST: xxhash64 chains arguments left-to-right with the running
    // hash as seed, so xxhash64(content, 1) would be a pure function of
    // lane 1 (correlated); xxhash64(1, content) re-seeds the content hash
    val keepIds = df
      .select(xxhash64(col(contentCol)).as("__h1"),
        xxhash64(lit(1L), col(contentCol)).as("__h2"), col(idCol))
      .groupBy("__h1", "__h2").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keepIds, Seq(idCol), "left_semi")
  }

  /** Canonical text form for "fuzzy-exact" dedup: lowercase, strip
    * punctuation, collapse whitespace runs, trim. Catches the re-encoded /
    * re-wrapped / re-cased duplicates exact hashing misses while staying a
    * pure map-side expression (the heavy near-dup machinery is only needed
    * beyond what normalization folds away).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[.,!?;:'\"()\\[\\]{}]", ""),
      "[ \\t\\n\\f\\r]+", " "))

  /** Exact dedup on the NORMALIZED content — same 128-bit hash shuffle as
    * `exactByHash`, keyed on `normalizeText(contentCol)`.
    */
  def exactNormalized(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val keepIds = df
      .select(xxhash64(normalizeText(col(contentCol))).as("__h1"),
        xxhash64(lit(1L), normalizeText(col(contentCol))).as("__h2"), col(idCol))
      .groupBy("__h1", "__h2").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keepIds, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------- incremental dedup

  /** Incremental exact dedup: rows of `batch` whose content does NOT
    * already appear in `corpus`, then first-per-content within the batch.
    * This is the operational shape at 100 TB — new data dedups against the
    * existing corpus via a 128-bit hash anti-join (only hashes shuffle;
    * neither side's wide columns move), never by re-deduping the corpus.
    */
  def exactNewOnly(corpus: DataFrame, batch: DataFrame,
                   contentCol: String, idCol: String): DataFrame = {
    val corpusHashes = corpus.select(
      xxhash64(col(contentCol)).as("__h1"),
      xxhash64(lit(1L), col(contentCol)).as("__h2")).distinct()
    val fresh = batch
      .withColumn("__h1", xxhash64(col(contentCol)))
      .withColumn("__h2", xxhash64(lit(1L), col(contentCol)))
      .join(corpusHashes, Seq("__h1", "__h2"), "left_anti")
      .drop("__h1", "__h2")
    exactByHash(fresh, contentCol, idCol)
  }

  /** Incremental near-dup filter: rows of `batch` with NO near-duplicate
    * (jaccard ≥ threshold on shingle sets) in `corpus`. Candidates come
    * from shared LSH band buckets between the batch's signatures and the
    * corpus's — at scale use [[nearDupNewOnlyIndexed]] against the
    * PERSISTED signature index ([[buildNearDupIndex]], bucketed by
    * (band, bucket)), so a daily batch probes buckets instead of
    * re-hashing the corpus. Batch-internal near-dups are NOT removed here
    * (run `minhashNearDupPairs` + `clusterNearDups` within the batch for
    * that); the two concerns compose.
    */
  def nearDupNewOnly(corpus: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String,
                     shingleK: Int = 3, numPerm: Int = 128,
                     bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val dupBatchIds = nearDupMatches(batch, corpus, idCol, textCol,
      shingleK, numPerm, bands, threshold)
      .select(col("__bid").as(idCol)).distinct()
    batch.join(dupBatchIds, Seq(idCol), "left_anti")
  }

  /** Verified batch↔corpus near-dup PAIRS (`__bid`, `__cid`): LSH band
    * candidates, exact jaccard on true shingle sets. The row-level core
    * behind [[nearDupNewOnly]] (which drops any matched batch doc) and
    * the incremental split assigner (which INHERITS the matched corpus
    * doc's cluster/split). Ids-only through the candidate join; shingle
    * arrays attach per side once.
    */
  def nearDupMatches(batch: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String,
                     shingleK: Int = 3, numPerm: Int = 128,
                     bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rowsPerBand = numPerm / bands
    // ONE shingle pass per side (the minhashNearDupPairs r16 refactor):
    // each side's sorted shingle relation materializes once and feeds
    // both its banding path and its verify attachment — previously each
    // side tokenized twice
    def shingled(docs: DataFrame, side: String) =
      docs.select(col(idCol).as(side),
        sort_array(shingleHashes(col(textCol), shingleK)).as(s"__sh_$side"))
        .withColumn(s"__n_$side", size(col(s"__sh_$side")))
        .localCheckpoint()
    val shB = shingled(batch, "__bid")
    val shC = shingled(corpus, "__cid")
    def banded(sh: DataFrame, side: String) =
      bandBuckets(
        minhashSignaturesOfHashes(sh, side, s"__sh_$side", numPerm),
        side, bands, rowsPerBand)
    val cands = banded(shB, "__bid")
      .join(banded(shC, "__cid"), Seq("__band", "__bucket"))
      .select("__bid", "__cid").distinct()
    val inter = sortedIntersectCount(col("__sh___bid"), col("__sh___cid")).cast("double")
    val unionSize = (col("__n___bid") + col("__n___cid")).cast("double") - inter
    // corpus shingles are corpus-sized: never broadcastable (see
    // [[minhashNearDupPairs]]); the batch side is caller-sized and left
    // to the optimizer (broadcasting a small daily batch IS the win)
    cands
      .join(shB, "__bid")
      .join(shC.hint("merge"), "__cid")
      .filter(when(unionSize === 0, lit(0.0)).otherwise(inter / unionSize) >= threshold)
      .select(col("__bid"), col("__cid"))
  }

  // ------------------------------------------- persisted signature index

  /** Build-once / probe-many lifecycle for incremental near-dup: persist
    * the corpus's LSH surface as two BUCKETED tables so daily batches probe
    * the index instead of re-scanning (or re-hashing) the corpus:
    *
    *   - `<name>_sig`  (idCol, __band, __bucket), bucketed by
    *     (__band, __bucket) — the candidate-probe join key. A batch's
    *     banded signatures shuffle into the index's bucket layout; the
    *     index side is read in place, ZERO exchange (plan-gated by
    *     PlanShapeSpec).
    *   - `<name>_shingles` (idCol, __sh, __n), bucketed by idCol — the
    *     verification side-input, joined by candidate id without
    *     shuffling the stored shingle arrays.
    *
    * Pay the corpus signature computation and one bucketing shuffle ONCE
    * at build time; every subsequent batch pays only its own (small) side.
    * The banding math is [[bandBuckets]] — the same definition the inline
    * path uses, so batch signatures land in exactly the stored buckets.
    * Probe-time (shingleK, numPerm, bands) MUST match the build call;
    * they parameterize the hash family itself.
    */
  /** The hash-family parameters of a persisted LSH index, written at
    * build time as a 1-row `<name>_params` table under `<path>/params`
    * and VALIDATED at every probe/append entry: (shingleK, numPerm,
    * bands) parameterize the hash family itself, so a caller probing a
    * bands=32 video index with the bands=16 default would get silently
    * wrong band buckets (empty or bogus candidate sets) — the contract
    * must fail fast, not live in a doc comment. `shingleK` is -1 for
    * the hash-set family (sets arrive precomputed; no tokenizer
    * parameter exists). Indexes built before this table existed skip
    * validation (legacy; documented, not silently wrong — the table is
    * written by every current build).
    */
  private def writeIndexParams(spark: org.apache.spark.sql.SparkSession,
                               name: String, path: String, shingleK: Int,
                               numPerm: Int, bands: Int): Unit = {
    import spark.implicits._
    Seq((shingleK, numPerm, bands))
      .toDF("shingle_k", "num_perm", "bands").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"$path/params")
      .format("parquet").saveAsTable(s"${name}_params")
  }

  private def requireIndexParams(spark: org.apache.spark.sql.SparkSession,
                                 name: String, shingleK: Int,
                                 numPerm: Int, bands: Int): Unit =
    if (spark.catalog.tableExists(s"${name}_params")) {
      val r = spark.table(s"${name}_params").head()
      val (sk, np, b) = (r.getInt(0), r.getInt(1), r.getInt(2))
      require((shingleK == sk || sk == -1 || shingleK == -1) &&
        numPerm == np && bands == b,
        s"index '$name' was built with (shingleK=$sk, numPerm=$np, " +
          s"bands=$b) but this call passes (shingleK=$shingleK, " +
          s"numPerm=$numPerm, bands=$bands) — the hash family would " +
          "not match; pass the build-time parameters")
    }

  def buildNearDupIndex(corpus: DataFrame, name: String, path: String,
                        idCol: String, textCol: String,
                        shingleK: Int = 3, numPerm: Int = 128, bands: Int = 16,
                        numBuckets: Int = 32): Unit = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    writeIndexParams(corpus.sparkSession, name, path, shingleK, numPerm,
      bands)
    val banded = bandBuckets(
      minhashSignatures(corpus, idCol, textCol, shingleK, numPerm),
      idCol, bands, numPerm / bands)
    graft.io.IO.writeBucketed(banded, s"${name}_sig", s"$path/sig",
      Seq("__band", "__bucket"), numBuckets, Seq("__band", "__bucket"))
    val sh = corpus.select(col(idCol),
      sort_array(shingleHashes(col(textCol), shingleK)).as("__sh"))
      .withColumn("__n", size(col("__sh")))
    graft.io.IO.writeBucketed(sh, s"${name}_shingles", s"$path/shingles",
      Seq(idCol), numBuckets)
  }

  // ------------------- persisted HASH-SET index (modality-generic LSH)

  /** [[buildNearDupIndex]] over a PRECOMPUTED shingle-hash-set column —
    * the persisted tier of [[hashSetNearDupPairs]]: the same two
    * bucketed halves (banded signatures keyed (__band, __bucket); the
    * sorted distinct hash sets keyed id), so any modality that renders
    * rows as 64-bit hash sets (video frame shingles, audio n-grams)
    * gets the build-once / probe-many lifecycle, the in-place bucket
    * read, and the marker-guarded append for free. (numPerm, bands)
    * parameterize the hash family — probe values MUST match the build.
    */
  def buildHashSetIndex(rel: DataFrame, name: String, path: String,
                        idCol: String, hashesCol: String,
                        numPerm: Int = 64, bands: Int = 16,
                        numBuckets: Int = 32): Unit = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    writeIndexParams(rel.sparkSession, name, path, -1, numPerm, bands)
    val sets = rel.select(col(idCol),
      sort_array(array_distinct(col(hashesCol))).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      .filter(col("__n") > 0)
    val banded = bandBuckets(
      minhashSignaturesOfHashes(sets, idCol, "__sh", numPerm),
      idCol, bands, numPerm / bands)
    graft.io.IO.writeBucketed(banded, s"${name}_sig", s"$path/sig",
      Seq("__band", "__bucket"), numBuckets, Seq("__band", "__bucket"))
    graft.io.IO.writeBucketed(sets, s"${name}_shingles",
      s"$path/shingles", Seq(idCol), numBuckets)
  }

  /** Verified batch↔index near-dup PAIRS (`__bid`, `__cid`) for a
    * hash-set batch against a [[buildHashSetIndex]] index — the
    * [[nearDupMatchesIndexed]] shape with the batch's sets supplied
    * instead of tokenized: banded candidates against the bucketed sig
    * table (index side read in place), exact jaccard against the
    * stored sets (merge-pinned, corpus side never broadcasts).
    */
  def hashSetMatchesIndexed(batch: DataFrame, name: String,
                            idCol: String, hashesCol: String,
                            numPerm: Int = 64, bands: Int = 16,
                            threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val spark = batch.sparkSession
    requireIndexParams(spark, name, -1, numPerm, bands)
    val sets = batch.select(col(idCol),
      sort_array(array_distinct(col(hashesCol))).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      .filter(col("__n") > 0)
    val corpusSig = spark.table(s"${name}_sig")
      .withColumnRenamed(idCol, "__cid")
    val batchBanded = bandBuckets(
      minhashSignaturesOfHashes(sets, idCol, "__sh", numPerm),
      idCol, bands, numPerm / bands)
      .withColumnRenamed(idCol, "__bid")
    val cands = batchBanded.join(corpusSig, Seq("__band", "__bucket"))
      .select("__bid", "__cid").distinct()
    val corpusSh = spark.table(s"${name}_shingles")
      .select(col(idCol).as("__cid"),
        col("__sh").as("__sh___cid"), col("__n").as("__n___cid"))
    val batchSh = sets.select(col(idCol).as("__bid"),
      col("__sh").as("__sh___bid"), col("__n").as("__n___bid"))
    val inter = sortedIntersectCount(col("__sh___bid"), col("__sh___cid"))
      .cast("double")
    val unionSize = (col("__n___bid") + col("__n___cid")).cast("double") -
      inter
    cands
      .join(batchSh, "__bid")
      .join(corpusSh.hint("merge"), "__cid")
      .filter(when(unionSize === 0, lit(0.0))
        .otherwise(inter / unionSize) >= threshold)
      .select(col("__bid"), col("__cid"))
  }

  /** Marker-guarded append of new hash-set rows — the
    * [[appendToNearDupIndex]] discipline verbatim (per-half anti-join
    * replay guards + the [[IndexCommit]] pre-listing marker). The bucket
    * spec comes from the catalog; `numBuckets` is not read.
    */
  def appendToHashSetIndex(spark: org.apache.spark.sql.SparkSession,
                           name: String, rel: DataFrame,
                           idCol: String, hashesCol: String,
                           numPerm: Int = 64, bands: Int = 16,
                           numBuckets: Int = 32): Unit = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    requireIndexParams(spark, name, -1, numPerm, bands)
    val sets = rel.select(col(idCol),
      sort_array(array_distinct(col(hashesCol))).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      .filter(col("__n") > 0)
    appendSigIndex(spark, name, "hash-set", sets, idCol)(fresh =>
      bandBuckets(minhashSignaturesOfHashes(fresh, idCol, "__sh", numPerm),
        idCol, bands, numPerm / bands), identity)
  }

  // ----------- crash-safe append markers (persisted near-dup index)

  /** The marker over the index's two bucketed halves, rooted at the
    * parent of the catalog location of the sig half — None when the
    * index is not built in this session's catalog.
    */
  private def nearDupMarker(spark: org.apache.spark.sql.SparkSession,
                            name: String): Option[IndexCommit.Marker] =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .tableLocation(spark, s"${name}_sig")
      .map(u => IndexCommit.Marker(spark,
        new org.apache.hadoop.fs.Path(u).getParent.toString,
        Seq("sig", "shingles"), Seq(s"${name}_sig", s"${name}_shingles")))

  /** Crash recovery for an interrupted [[appendToNearDupIndex]] — the
    * shared [[IndexCommit]] marker discipline over the two bucketed
    * halves (r14 verdict gap #6: replay-idempotence alone leaves a
    * crashed half-append INCONSISTENT until the same batch happens to
    * be redelivered — sig rows whose shingles are missing silently
    * drop their candidate pairs at verify time). Writer entry only
    * (append/compact/delete/maintain); single-writer contract. Returns
    * true iff a pending append was found and rolled back to the exact
    * pre-append bytes.
    */
  def recoverNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          name: String): Boolean =
    nearDupMarker(spark, name).exists(_.recover())

  /** The append body both sig-index families share: under the marker,
    * each half appends only the `rows` its OWN table lacks (per-half
    * replay guards, so the halves re-converge independently after a
    * crash between them even on redelivery; the marker rollback handles
    * no-redelivery). `signatures`/`shingles` derive each half's rows
    * from the fresh slice.
    */
  private def appendSigIndex(spark: org.apache.spark.sql.SparkSession,
                             name: String, kind: String, rows: DataFrame,
                             idCol: String)(
                             signatures: DataFrame => DataFrame,
                             shingles: DataFrame => DataFrame): Unit = {
    val marker = nearDupMarker(spark, name).getOrElse(throw
      new IllegalStateException(s"$kind index '$name' is not built"))
    def fresh(half: String) = rows.join(
      spark.table(s"${name}_$half").select(col(idCol)), Seq(idCol),
      "left_anti")
    marker.guard { fenceCheck =>
      graft.io.IO.appendBucketed(signatures(fresh("sig")), s"${name}_sig")
      fenceCheck() // between halves: bound the stolen-writer window
      graft.io.IO.appendBucketed(shingles(fresh("shingles")),
        s"${name}_shingles")
    }
  }

  /** Grow the standing index with a NEW corpus slice — batch-cost only
    * (signatures and shingles computed for the slice, bucketed appends
    * under the catalog's bucket specs, nothing re-read beyond an id
    * anti-join probe of the stored shingle table). After an accepted
    * batch dedups against the index ([[nearDupNewOnlyIndexed]]), its
    * KEPT rows append here so the next batch dedups against them too —
    * the incremental loop closed. `numBuckets` is not read.
    *
    * IDEMPOTENT under batch replay: EACH half is independently guarded —
    * the sig append anti-joins ids already in `<name>_sig`, the shingle
    * append ids already in `<name>_shingles` — so a retried or
    * re-delivered micro-batch (the streaming foreachBatch reality)
    * appends nothing (DedupSpec pins append-twice ≡ append-once).
    * CRASH-SAFE by marker ([[recoverNearDupIndex]]): the pre-append
    * listing persists before the first write and the marker clears
    * only after both halves are durable, so a crash at ANY point
    * between leaves a state the next writer rolls back to the exact
    * pre-append bytes — consistency no longer depends on the crashed
    * batch being redelivered (MaintenanceSpec pins every crash point).
    */
  def appendToNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                           name: String, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           shingleK: Int = 3, numPerm: Int = 128,
                           bands: Int = 16, numBuckets: Int = 32): Unit = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    requireIndexParams(spark, name, shingleK, numPerm, bands)
    appendSigIndex(spark, name, "near-dup", newDocs, idCol)(fresh =>
      bandBuckets(minhashSignatures(fresh, idCol, textCol, shingleK,
        numPerm), idCol, bands, numPerm / bands),
      fresh => fresh.select(col(idCol),
        sort_array(shingleHashes(col(textCol), shingleK)).as("__sh"))
        .withColumn("__n", size(col("__sh"))))
  }

  /** Writer entry of both in-place rewrites: recover, then rewrite each
    * half as `keep(current)` at its catalog location and bucket spec.
    */
  private def rewriteNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                                  name: String)(
                                  keep: DataFrame => DataFrame): Unit = {
    recoverNearDupIndex(spark, name)
    Seq("sig", "shingles").foreach(half =>
      graft.io.IO.rewriteTable(spark, s"${name}_$half")(keep))
  }

  /** Small-file hygiene after many appends: rewrite both bucketed halves
    * of the signature index in place (each append stacks a generation of
    * files per table, and the probe's in-place bucket read then opens
    * every generation). Contents are bit-identical, only the file layout
    * changes. Location and bucket spec come from the catalog; `path`,
    * `idCol` and `numBuckets` are not read.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          name: String, path: String, idCol: String,
                          numBuckets: Int = 32): Unit =
    rewriteNearDupIndex(spark, name)(identity)

  /** GDPR/right-to-be-forgotten delete for the near-dup signature index:
    * drop every signature and shingle row of `ids` from both bucketed
    * tables — the deleted docs stop matching future batches entirely.
    * Anti-join + bucketed rewrite with the BUILD's catalog specs, so
    * probe plans (bucket-pruned, exchange-free index side) are
    * unchanged; convergence with a fresh build over corpus-minus-ids is
    * unit-pinned. `path` and `numBuckets` are not read.
    */
  def deleteFromNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                             name: String, path: String, ids: DataFrame,
                             idCol: String = "doc_id",
                             numBuckets: Int = 32): Unit = {
    val gone = ids.select(col(idCol)).distinct()
    rewriteNearDupIndex(spark, name)(_.join(gone, Seq(idCol), "left_anti"))
  }

  /** Forget `ids` in a stored pair-cluster relation: drop every pair
    * touching a forgotten id, then recompute connected components over
    * the surviving pairs — removing a node can SPLIT a component (it may
    * have been the only bridge), so star compression cannot shortcut a
    * delete the way [[appendToPairClusters]] shortcuts an append; the CC
    * rerun is pairs-sized, never corpus-sized. Works on both ids-only
    * and scored pair relations (the filter keys on the two id columns
    * and carries the rest). Meta handling mirrors the append: deleted
    * first (a stale corpus fingerprint must never validate the shrunken
    * relation), rewritten only when the caller supplies the
    * post-delete fingerprint + tag. Same path lock, same single-writer
    * contract. Returns the number of pairs removed.
    */
  def deleteFromPairClusters(spark: org.apache.spark.sql.SparkSession,
                             path: String, idCol: String, ids: DataFrame,
                             fingerprint: Option[DataFrame] = None,
                             paramsTag: String = ""): Long =
    Dedup.synchronized { withPathLockFenced(spark, path) { fenceCheck =>
      // key on idCol, not columns.head: a multi-column ids frame (e.g.
      // full document rows) must still anti-join on the id
      val removed = Materialize.using(
          ids.select(col(idCol)).toDF("__gone").distinct()) { gone =>
        val stored = spark.read.parquet(s"$path/pairs")
        val before = stored.count()
        Materialize.using(stored // materialize BEFORE touching the dir
          .join(gone, stored("id_a") === col("__gone"), "left_anti")
          .join(gone, stored("id_b") === col("__gone"), "left_anti")) { kept =>
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
          graft.io.IO.writeDir(kept, s"$path/pairs")
          Materialize.owning(clusterNearDups(spark.read.parquet(s"$path/pairs")
            .select(col("id_a"), col("id_b")), idCol = idCol))(
            graft.io.IO.writeDir(_, s"$path/clusters"))
          before - kept.count()
        }
      }
      fenceCheck() // COMMIT gate: never validate a stolen store
      fingerprint.foreach(f => graft.io.IO.writeDir(
        f.withColumn("params_tag",
          org.apache.spark.sql.functions.lit(paramsTag)), s"$path/meta"))
      removed
    } }

  /** [[buildNearDupIndex]] unless BOTH of the index's tables are already
    * registered in this session's catalog (see
    * [[graft.io.IO.ensureBucketed]] for why the skip is session-scoped).
    * If either half is missing the pair is rebuilt together — the sig and
    * shingle tables must describe the same corpus snapshot. Returns true
    * iff the build ran.
    */
  def ensureNearDupIndex(corpus: DataFrame, name: String, path: String,
                         idCol: String, textCol: String,
                         shingleK: Int = 3, numPerm: Int = 128, bands: Int = 16,
                         numBuckets: Int = 32): Boolean = {
    val cat = corpus.sparkSession.catalog
    val present = cat.tableExists(s"${name}_sig") &&
      cat.tableExists(s"${name}_shingles")
    if (!present)
      buildNearDupIndex(corpus, name, path, idCol, textCol, shingleK,
        numPerm, bands, numBuckets)
    !present
  }

  /** Candidate pairs (batch id, corpus id) from probing the persisted
    * index: the batch's banded signatures equi-join the bucketed
    * `<name>_sig` table on (band, bucket). Exposed separately so the
    * shuffle-free property of the index side is plan-testable in
    * isolation.
    */
  def indexCandidates(batch: DataFrame, name: String,
                      idCol: String, textCol: String,
                      shingleK: Int, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val corpusSig = batch.sparkSession.table(s"${name}_sig")
      .withColumnRenamed(idCol, "__cid")
    val batchBanded = bandBuckets(
      minhashSignatures(batch, idCol, textCol, shingleK, numPerm),
      idCol, bands, numPerm / bands)
      .withColumnRenamed(idCol, "__bid")
    batchBanded.join(corpusSig, Seq("__band", "__bucket"))
      .select("__bid", "__cid")
  }

  /** `nearDupNewOnly` against the PERSISTED index — identical semantics
    * (rows of `batch` with no jaccard-≥-threshold neighbor in the indexed
    * corpus), but the corpus is never rescanned: candidates come from the
    * bucketed signature table, verification shingles from the bucketed
    * shingle table.
    */
  def nearDupNewOnlyIndexed(batch: DataFrame, name: String,
                            idCol: String, textCol: String,
                            shingleK: Int = 3, numPerm: Int = 128,
                            bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val dupBatchIds = nearDupMatchesIndexed(batch, name, idCol, textCol,
      shingleK, numPerm, bands, threshold)
      .select(col("__bid").as(idCol)).distinct()
    batch.join(dupBatchIds, Seq(idCol), "left_anti")
  }

  /** [[nearDupMatches]] against the PERSISTED index: verified batch↔corpus
    * near-dup PAIRS (`__bid`, `__cid`) with the corpus never rescanned —
    * the row-level core [[nearDupNewOnlyIndexed]] reduces to a drop set,
    * exposed separately so the streaming cluster-relation upkeep
    * ([[appendToPairClusters]] under `foreachBatch`) can append the
    * EDGES, not just act on the survivors.
    */
  def nearDupMatchesIndexed(batch: DataFrame, name: String,
                            idCol: String, textCol: String,
                            shingleK: Int = 3, numPerm: Int = 128,
                            bands: Int = 16,
                            threshold: Double = 0.8): DataFrame = {
    requireIndexParams(batch.sparkSession, name, shingleK, numPerm, bands)
    val cands = indexCandidates(batch, name, idCol, textCol,
      shingleK, numPerm, bands).distinct()
    val corpusSh = batch.sparkSession.table(s"${name}_shingles")
      .select(col(idCol).as("__cid"),
        col("__sh").as("__sh___cid"), col("__n").as("__n___cid"))
    val batchSh = batch.select(col(idCol).as("__bid"),
      sort_array(shingleHashes(col(textCol), shingleK)).as("__sh___bid"))
      .withColumn("__n___bid", size(col("__sh___bid")))
    val inter = sortedIntersectCount(col("__sh___bid"), col("__sh___cid")).cast("double")
    val unionSize = (col("__n___bid") + col("__n___cid")).cast("double") - inter
    // the stored shingle table is corpus-sized — same no-broadcast pin as
    // the inline path; merge keeps the bucketed index side exchange-free
    cands
      .join(batchSh, "__bid")
      .join(corpusSh.hint("merge"), "__cid")
      .filter(when(unionSize === 0, lit(0.0)).otherwise(inter / unionSize) >= threshold)
      .select(col("__bid"), col("__cid"))
  }

  // ------------------------------------------------------------ MinHash LSH

  /** Deterministic MinHash permutation parameters: h_i(x) = (a_i·x + b_i)
    * mod p with p = 2^31−1 and a, b, x all < p — a·x fits a long with no
    * overflow, and crucially the modulus matches the hash domain: with a
    * much larger p (an earlier 2^61−1 version) the product wraps at most
    * twice, leaving the "permutation" piecewise-monotone in x, so most
    * documents share band minima and LSH floods with false candidates
    * (220k candidates at sf0.1 vs ~600 with proper mixing). Seeds fixed so
    * signatures are reproducible across runs/executors.
    */
  val MersennePrime: Long = 2147483647L // 2^31-1: modulus AND hash domain
  val HashDomain: Long = MersennePrime

  def permutationParams(numPerm: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)(
      (rnd.nextLong(MersennePrime - 1) + 1, rnd.nextLong(MersennePrime)))
  }

  /** MinHash signatures: (idCol, sig array<long> of length numPerm), where
    * sig[j] = min over distinct shingles of (a_j·hash(shingle) + b_j) mod p.
    *
    * Computed entirely per-row as nested array expressions — a MAP-ONLY
    * plan with ZERO shuffle, which is the shape that survives 100 TB (an
    * earlier explode(shingle × perm) variant pushed numPerm×|shingles| rows
    * through two shuffles and was ~10× slower at sf0.1). Empty documents
    * get the sentinel p in every slot.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numPerm: Int = 128): DataFrame = {
    val params = permutationParams(numPerm)
    // non-negative 31-bit shingle hashes, so a*h never overflows a long
    val hs = transform(
      shingleHashes(col(textCol), shingleK),
      h => pmod(h, lit(HashDomain)))
    val sig = graft.functions.minhashSignature(
      hs, params.map(_._1).toArray, params.map(_._2).toArray)
    docs.select(col(idCol), sig.as("sig"))
  }

  /** [[minhashSignatures]] over a PRECOMPUTED shingle-hash array column —
    * the modality-generic entry: any pipeline that can render a row as a
    * SET of 64-bit hashes (video frame-pHash shingles, audio fingerprint
    * n-grams, token k-grams from a custom tokenizer) rides the identical
    * LSH surface. Same permutation family, same map-only shape.
    */
  def minhashSignaturesOfHashes(rel: DataFrame, idCol: String,
                                hashesCol: String,
                                numPerm: Int = 128): DataFrame = {
    val params = permutationParams(numPerm)
    val hs = transform(col(hashesCol), h => pmod(h, lit(HashDomain)))
    val sig = graft.functions.minhashSignature(
      hs, params.map(_._1).toArray, params.map(_._2).toArray)
    rel.select(col(idCol), sig.as("sig"))
  }

  /** [[minhashNearDupPairs]] over precomputed shingle-hash SETS: rows of
    * `rel` carry (idCol, hashesCol: array<long>); candidates from LSH
    * banding of the minhash signatures, verification is exact jaccard
    * over the sorted distinct sets (same two-pointer merge, same
    * merge-pinned no-broadcast verify join — the hash-set relation grows
    * with the corpus exactly like the text shingle relation).
    */
  def hashSetNearDupPairs(rel: DataFrame, idCol: String, hashesCol: String,
                          numPerm: Int = 64, bands: Int = 16,
                          threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    // the set relation feeds THREE consumers (the signature path and both
    // verify attachments); without materialization the upstream subtree —
    // typically a full decode/fingerprint pass — replays once per
    // consumer. One localCheckpoint = guide-§8 "fingerprint once":
    // heavy decode bytes are read exactly once, the checkpointed
    // (id, hashes) relation is what re-plays.
    val sets = rel.select(col(idCol),
      sort_array(array_distinct(col(hashesCol))).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      .localCheckpoint()
    val sigs = minhashSignaturesOfHashes(
      sets.filter(col("__n") > 0), idCol, "__sh", numPerm)
    val cands = lshCandidates(sigs, idCol, bands, numPerm / bands)
    val inter = sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    val unionSize = (col("n_a") + col("n_b")).cast("double") - inter
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__sh").as("sh_a"),
        col("__n").as("n_a")).hint("merge"), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__sh").as("sh_b"),
        col("__n").as("n_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        when(unionSize === 0, lit(0.0)).otherwise(inter / unionSize)
          .as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /** Oracle-parity twin of `minhashSignatures`: same permutation family and
    * native signature expression, but the shingle hash is the portable
    * md5-based 31-bit hash (`graft.functions.md5Hash31`) that DuckDB can
    * recompute bit-identically — so signatures are exactly checkable by a
    * SQL oracle. Production dedup keeps `minhashSignatures` (xxhash64 over
    * token slices, no shingle-string materialization — faster).
    */
  def minhashSignaturesPortable(docs: DataFrame, idCol: String, textCol: String,
                                shingleK: Int = 3, numPerm: Int = 64): DataFrame = {
    val params = permutationParams(numPerm)
    val hs = transform(wordShingles(col(textCol), shingleK), s => md5Hash31(s))
    val sig = graft.functions.minhashSignature(
      hs, params.map(_._1).toArray, params.map(_._2).toArray)
    docs.select(col(idCol), sig.as("sig"))
  }

  /** LSH banding: signature → (band, hash-of-band-slice) buckets; docs
    * sharing any bucket are candidates. numPerm must = bands · rowsPerBand.
    * Returns candidate pairs (idCol_a < idCol_b), distinct.
    *
    * Pairs are generated WITHIN each bucket group (sort_array(collect_list)
    * → positional pair expansion) instead of a bucket self-join: the
    * signature pipeline runs once, not twice, and the only shuffles are one
    * hash aggregation on (band, bucket) plus the distinct. Bucket groups
    * are LSH-bounded, so the in-bucket pair expansion is the candidate set
    * itself — no blow-up beyond the output size.
    *
    * DEGENERATE-BUCKET BOUND: a bucket of b ids expands to b(b−1)/2 pairs,
    * so a pathological bucket (e.g. millions of EXACT duplicates, which
    * share every band) would explode quadratically. `maxBucket` caps each
    * bucket at its first `maxBucket` ids (sorted → deterministic prefix),
    * bounding the pair expansion; overflow ids past the cap lose only
    * candidacy THROUGH that bucket, not membership in others. NOTE the cap
    * is applied by slice AFTER collect_list, so the aggregation buffer
    * still holds the full id array (8 B per id — linear, survivable;
    * the quadratic pair expansion is what kills executors). Pipeline order
    * matters: run exact dedup (`exactByHash`) FIRST — after it,
    * same-signature groups are genuine near-dup clusters, which are small;
    * the cap is a guard rail, not a recall knob.
    */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    bands: Int, rowsPerBand: Int,
                    maxBucket: Int = 10000): DataFrame =
    bucketPairs(bandBuckets(sigs, idCol, bands, rowsPerBand), idCol, maxBucket)

  /** Banding projection shared by in-corpus LSH (`lshCandidates`) and the
    * incremental probe (`nearDupNewOnly`): (id, __band, __bucket) rows,
    * one per band, bucket = seeded hash of the band's signature slice.
    * ONE definition — batch signatures must land in the same buckets as a
    * corpus index built earlier, so the band seed/slice math cannot drift.
    */
  private[ops] def bandBuckets(sigs: DataFrame, idCol: String,
                               bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col(idCol),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
        .as(Seq("__band", "__bucket")))

  /** Pair expansion within (band, bucket) groups, shared by MinHash-LSH and
    * SRP banding: sorted id list per bucket (capped at `maxBucket`, see
    * `lshCandidates`) → positional (a < b) pair expansion → distinct.
    * Expects columns (idCol, __band, __bucket).
    */
  private[ops] def bucketPairs(banded: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    banded
      .groupBy(col("__band"), col("__bucket"))
      .agg(slice(sort_array(collect_list(col(idCol))), 1, maxBucket).as("__ids"))
      .filter(size(col("__ids")) > 1)
      .select(explode(
        flatten(transform(col("__ids"), (x, i) =>
          transform(slice(col("__ids"), i + 2, size(col("__ids"))),
            y => struct(x.as("id_a"), y.as("id_b")))))).as("__pair"))
      .select(col("__pair.id_a"), col("__pair.id_b"))
      .distinct()

  /** Full near-dup pipeline: signatures → LSH candidates → Jaccard
    * verification → pairs with jaccard ≥ threshold.
    *
    * Verification works on SORTED xxhash64'd shingle arrays (jaccard is
    * preserved exactly up to 64-bit hash collisions); each side's set size
    * is precomputed and the per-pair work is one allocation-free two-pointer
    * merge (SortedIntersectCount): j = |∩| / (|A|+|B|−|∩|). Choose
    * rowsPerBand (= numPerm/bands) by the target similarity: r=8 at τ≈0.9
    * keeps the false-candidate rate ~1e-6 per pair but misses ~1% of
    * marginal (j≈0.9) true pairs; r=4/b=16 is near-perfect recall at
    * τ≥0.8 (miss ≤ 4e-8 at j=0.9) at the price of admitting ~12% of
    * j≈0.3 noise pairs as candidates — affordable because buckets are
    * capped and verification is one two-pointer merge. Below r=4 the
    * verify join floods.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleK: Int = 3, numPerm: Int = 64,
                          bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    // ONE shingle pass for all three consumers (signatures + both verify
    // attachments): the sorted shingle-hash relation is materialized once
    // and signatures derive from it (min over the set is order-insensitive,
    // and graft.functions.minhashSignature keeps the empty-array sentinel
    // behavior, so every signature bit is unchanged). Previously the
    // corpus tokenize+shingle subtree replayed once per consumer.
    val sh = docs.select(
      col(idCol), sort_array(shingleHashes(col(textCol), shingleK)).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      .localCheckpoint()
    val sigs = minhashSignaturesOfHashes(sh, idCol, "__sh", numPerm)
    val cands = lshCandidates(sigs, idCol, bands, numPerm / bands)
    val inter = sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    val unionSize = (col("n_a") + col("n_b")).cast("double") - inter
    // The shingle relation GROWS WITH THE CORPUS (one sorted hash array
    // per document) — a broadcast of it succeeds at test scale and fails
    // on any driver at some corpus size (the 100× soak's observed
    // "Not enough memory to build and broadcast" flake). Pin both verify
    // attachments to sort-merge so neither the optimizer's static
    // estimate nor AQE's runtime rewrite can ever elect a broadcast of a
    // corpus-derived side (PlanShapeSpec gates the absence).
    cands
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("sh_a"), col("__n").as("n_a")).hint("merge"), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("sh_b"), col("__n").as("n_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        when(unionSize === 0, lit(0.0)).otherwise(inter / unionSize).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  // ------------------------------------------------- near-dup clustering

  /** Connected components over a near-dup pair list: every doc in a
    * component converges to the component's smallest doc id. Each round is
    * (a) neighbor-min propagation — one join + one aggregation on
    * well-distributed ids — and (b) POINTER DOUBLING
    * (label(u) ← label(label(u)), one self-join), so convergence is
    * O(log diameter) rounds, not O(diameter): a million-node chain needs
    * ~20 rounds instead of a million. Labels only ever decrease and every
    * label value is a node id of the same component, so the converged
    * state (stable under both steps, checked by a scalar count — nothing
    * ever collects) is exactly per-component min. Returns
    * (idCol, cluster_rep) for every node in `pairs`.
    */
  /** Threshold-sensitivity report over a SCORED near-dup pair relation —
    * the curation-tuning question "how aggressive should the dedup cut
    * be?" answered as data: for each candidate threshold, the surviving
    * pair count, the connected-component count, and the docs a
    * keep-the-rep policy would remove. The pair pipeline runs ONCE
    * (callers pass a materialized/cached relation scored at or below the
    * lowest threshold — e.g. [[cachedPairs]]); each threshold pays only
    * a filter over the output-sized pair list plus a CC run over the
    * filtered edges, so the sweep's cost is bounded by the candidate
    * set, never the corpus.
    */
  def thresholdSweep(pairs: DataFrame, thresholds: Seq[Double],
                     scoreCol: String = "jaccard_sim",
                     idCol: String = "doc_id"): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    // r16: the per-threshold CC loops are INDEPENDENT job chains whose
    // rounds synchronize on the driver (guide §2.6 "overlap independent
    // jobs") — run them from a small thread pool so one sweep's
    // straggling round back-fills the executors another sweep idles;
    // FIFO scheduling keeps the earliest sweep prioritized. Each
    // thread's work is a complete, deterministic CC run — the union is
    // threshold-keyed, so result rows are identical to the sequential
    // spelling.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thresholds.length, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futs = thresholds.map { t =>
        scala.concurrent.Future {
          val p = pairs.filter(col(scoreCol) >= t).select("id_a", "id_b")
          val cl = clusterNearDups(p, idCol = idCol)
          val ps = p.agg(count(lit(1)).as("n_pairs"))
          val cs = cl.agg(
            countDistinct(col("cluster_rep")).as("n_clusters"),
            coalesce(sum((col(idCol) =!= col("cluster_rep")).cast("int")),
              lit(0)).cast("bigint").as("n_removed"))
          ps.crossJoin(cs).select(lit(t).as("threshold"), col("n_pairs"),
            col("n_clusters"), col("n_removed"))
        }
      }
      futs.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
        .reduce(_ unionAll _)
    } finally pool.shutdown()
  }

  def clusterNearDups(pairs: DataFrame, maxIter: Int = 20,
                      idCol: String = "doc_id"): DataFrame = {
    // materialize the pair list once — `pairs` is typically a full LSH
    // pipeline, and edges are re-read every iteration
    Materialize.using(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))) { edges =>
    // convergence via the label-sum invariant: labels only ever DECREASE,
    // so the total is strictly monotone and equal sums ⟺ no change — one
    // aggregation scan per round instead of a join with the previous state
    // (decimal(38) accumulator: 10^11 nodes × 10^11 max id overflows long).
    // An empty pair list has no nodes, so the sum is null: converge
    // immediately instead of NPEing on BigDecimal.compareTo
    var labelSum: java.math.BigDecimal = null
    var converged = false
    def unchanged(labels: DataFrame): Boolean = {
      val s = labels.agg(sum(col("label").cast("decimal(38,0)")))
        .head().getDecimal(0)
      converged = s == null || (labelSum != null && s.compareTo(labelSum) == 0)
      labelSum = s
      converged
    }
    // each round's labels feed the next round and the sum above; the
    // superseded round's blocks are released as soon as it is replaced
    val labels = Materialize.iterate(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .withColumn("label", col("node")), maxIter, unchanged) { labels =>
      // (a) neighbor-min: pull the smallest label across every edge.
      // The label relation is NODES-sized — it grows with the corpus, so
      // it must never ride a BroadcastExchange (an 8 MB labels frame at
      // test scale is terabytes at 10^11 nodes, and even locally the
      // driver-side broadcast build flakes when executor threads hold
      // the heap — the 100× soak failure). Every labels join below is
      // pinned to sort-merge; the one-time edge materialization plus a
      // nodes-sized shuffle per round is the 100 TB-correct cost.
      val propagated = edges
        .join(labels.withColumnRenamed("node", "src").withColumnRenamed("label", "src_label").hint("merge"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("src_label")).as("label"))
      // merge own label with the neighbor min via LEFT JOIN + least — NOT
      // union+groupBy: unioning two branches built from the same
      // checkpointed labels plan trips Spark's Union constraint rewrite
      // ("key not found" on a shared attribute). Checkpoint BEFORE the
      // doubling self-join (truncates the per-round lineage and gives the
      // self-join a plain scan to dedup).
      // r16: viaNeighbors is NOT checkpointed — the doubling self-join
      // references it twice, but both occurrences carry IDENTICAL
      // exchanges, which the engine deduplicates (ReusedExchange), so
      // fusing saves one materialization job + one full nodes-sized
      // write per round at every scale; only the cheap post-exchange
      // least-projection re-streams. (The union-constraint-rewrite
      // landmine the old per-step checkpoint also guarded against only
      // bites union branches, not this aliased self-join.)
      val viaNeighbors = labels
        .join(propagated.withColumnRenamed("label", "__nmin").hint("merge"), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("__nmin"), col("label"))).as("label"))
      // (b) pointer doubling: follow the label chain one hop — label
      // values are node ids, so the lookup is a self-join; the chained
      // label is never larger (labels are monotone decreasing)
      viaNeighbors.alias("n")
        .join(viaNeighbors.select(col("node").as("l_node"), col("label").as("l_label")).hint("merge"),
          col("n.label") === col("l_node"))
        .select(col("n.node").as("node"), col("l_label").as("label"))
    }
    // callers cannot distinguish converged from truncated labels from the
    // output alone — be loud when maxIter ran out (pointer doubling makes
    // this O(log diameter), so hitting the cap means a pathological graph
    // or a maxIter set far too low, not normal operation)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterNearDups: label propagation did NOT converge within " +
          s"$maxIter iterations — returned cluster_rep labels may be " +
          s"partially merged (some components split). Increase maxIter.")
    labels.select(col("node").as(idCol), col("label").as("cluster_rep"))
    }
  }

  // ----------------------------- session-cached pair / cluster relations

  /** Compute a near-dup PAIR relation and its connected-components
    * cluster relation ONCE per (session, path) and persist both as
    * parquet (`path/pairs`, `path/clusters`); every later consumer reads
    * the stored relations instead of re-running the pair pipeline + CC
    * loop. This is the production composition shape: a curation run
    * derives the cluster-rep relation once and every downstream stage
    * (split assignment, k-fold, keep-best, leakage audits, clustering
    * eval) joins against it — re-deriving it per consumer multiplies the
    * most expensive stage of the whole pipeline by the consumer count.
    *
    * `pairs` is BY-NAME: it is evaluated only on the building call, so
    * repeat callers pay two parquet footer reads, nothing else. The
    * cached relations are bit-identical to a fresh compute — every stage
    * is deterministic hash/integer math, [[clusterNearDups]] is
    * order-insensitive (per-component min), and parquet round-trips
    * long/double/string exactly (DedupSpec pins cached ≡ fresh).
    *
    * Staleness/race posture: the fast skip is SESSION-scoped (a
    * RuntimeConfig key) and concurrent first-callers serialize through
    * the lock. A FRESH process additionally reuses a warm on-disk
    * relation when the caller supplies a `fingerprint` (one corpus
    * aggregate — row count + two order-free hash lanes, see
    * [[corpusFingerprint]]) that matches the fingerprint persisted at
    * build time under `path/meta`: at production scale the LSH + CC
    * rebuild is the most expensive computation in the pipeline, and
    * re-paying it every process start just to avoid trusting disk is the
    * wrong trade once validity is CHECKED rather than assumed. A changed
    * corpus (any row added/removed/edited) moves the fingerprint and
    * forces the rebuild; `meta` is deleted before and rewritten after
    * the two relation writes, so a crash mid-build can never leave a
    * matching fingerprint over mixed-generation relations. Without a
    * fingerprint the behavior is unchanged: a new session always
    * rebuilds. The clusters write reads the just-written `path/pairs`
    * so the LSH/scoring pipeline runs exactly once per build.
    *
    * `paramsTag` names the PIPELINE the pairs came from (mining
    * parameters, builder version — e.g. "minhash k=2 perm=64 bands=16
    * thr=0.8"): it is persisted beside the corpus fingerprint and must
    * ALSO match for warm reuse, so a fresh process after a parameter or
    * code change (or a different pair pipeline pointed at the same
    * path) rebuilds instead of silently serving clusters mined under
    * the old parameters — the corpus fingerprint alone cannot see a
    * pipeline change because the corpus did not move.
    *
    * Cross-PROCESS writers serialize through a best-effort lock file
    * (`path/.lock`, exclusive-create, stale after 10 min); intra-JVM
    * callers additionally serialize through `Dedup.synchronized`. The
    * lock closes the interleaving window two unfingerprinted processes
    * sharing a path would otherwise have between the pairs append and
    * the clusters overwrite. On object stores without atomic create
    * the lock degrades to advisory — there the deployment contract is
    * single writer per path (one curation driver owns a relation).
    */
  def ensurePairClusters(spark: org.apache.spark.sql.SparkSession,
                         path: String, idCol: String,
                         fingerprint: Option[DataFrame] = None,
                         paramsTag: String = "")
                        (pairs: => DataFrame): Boolean =
    Dedup.synchronized {
      val key = s"graft.internal.pairClustersBuilt.$path"
      if (spark.conf.getOption(key).isDefined) false
      else withPathLockFenced(spark, path) { fenceCheck =>
        val metaPath = s"$path/meta"
        val meta = fingerprint.map(
          _.withColumn("params_tag", org.apache.spark.sql.functions
            .lit(paramsTag)))
        val fp = meta.map(_.collect().head)
        val warmValid = fp.exists { cur =>
          graft.io.IO.parquetFileCount(spark, metaPath) > 0 &&
            graft.io.IO.parquetFileCount(spark, s"$path/pairs") > 0 &&
            graft.io.IO.parquetFileCount(spark, s"$path/clusters") > 0 &&
            spark.read.parquet(metaPath).collect().headOption.contains(cur)
        }
        if (!warmValid) {
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(metaPath), true)
          graft.io.IO.writeDir(pairs, s"$path/pairs")
          Materialize.owning(clusterNearDups(
            spark.read.parquet(s"$path/pairs"), idCol = idCol))(
            graft.io.IO.writeDir(_, s"$path/clusters"))
          fenceCheck() // COMMIT gate: never validate a stolen store
          meta.foreach(m => graft.io.IO.writeDir(m, metaPath))
        }
        spark.conf.set(key, "true")
        !warmValid
      }
    }

  /** Best-effort cross-process mutex on a relation directory: exclusive
    * create of `path/.lock` carrying a UNIQUE holder token (pid:uuid),
    * retry with backoff while held elsewhere, steal locks older than
    * `staleMs` (a crashed holder never unlocks), always release — but
    * only OUR OWN acquisition (token-checked), so a racer that stole a
    * stale lock is never unlocked by the previous holder's finally.
    *
    * The steal is compare-then-rename, not blind delete: the waiter
    * first observes the lock's (token, mtime), and a stale lock is
    * MOVED aside to a private name (rename of an existing file is
    * atomic on posix local FS and HDFS — at most one stealer wins).
    * The moved file's token is then compared against the observation:
    * a match proves it is the same stale acquisition (delete it and
    * re-contend); a mismatch means the lock changed hands between the
    * age check and the rename — the fresh lock is renamed straight
    * back. This closes the TOCTOU where measure-then-delete could
    * remove a lock that was released and re-acquired in between,
    * admitting two writers.
    *
    * Still ADVISORY on stores without atomic create/rename — see the
    * single-writer contract in [[ensurePairClusters]].
    */
  private def withPathLock[A](spark: org.apache.spark.sql.SparkSession,
                              path: String, staleMs: Long = 600000L,
                              timeoutMs: Long = 600000L)(body: => A): A =
    withPathLockFenced(spark, path, staleMs, timeoutMs)(_ => body)

  /** [[withPathLock]] + the [[IndexCommit]] FENCING discipline: after
    * winning the lock the holder allocates a monotone epoch, and the
    * body receives a check thunk to call immediately before its COMMIT
    * point (for the pair-cluster store that is the meta write — the
    * store is deleted-meta-first / meta-written-last, so a writer
    * fenced before meta leaves the store recognizably INVALID, which
    * the next `ensurePairClusters` rebuilds, instead of silently
    * wrong). A stale-steal victim therefore cannot validate a store it
    * no longer owns.
    */
  private def withPathLockFenced[A](
      spark: org.apache.spark.sql.SparkSession,
      path: String, staleMs: Long = 600000L,
      timeoutMs: Long = 600000L)(body: (() => Unit) => A): A = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$path/.lock")
    val myToken = s"${java.lang.ProcessHandle.current().pid()}:" +
      java.util.UUID.randomUUID().toString
    def readToken(p: org.apache.hadoop.fs.Path): Option[String] =
      try {
        val in = fs.open(p)
        try Some(new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    val deadline = System.currentTimeMillis() + timeoutMs
    var held = false
    while (!held) {
      try {
        val out = fs.create(lock, false) // overwrite=false: exclusive
        out.write(myToken.getBytes("UTF-8"))
        out.close()
        held = true
      } catch {
        case _: java.io.IOException =>
          // observe (token, mtime) BEFORE deciding to steal
          val observed = try {
            val st = fs.getFileStatus(lock)
            readToken(lock).map(tok => (tok, st.getModificationTime))
          } catch { case _: java.io.FileNotFoundException => None }
          val age = observed.map(o => System.currentTimeMillis() - o._2)
            .getOrElse(-1L)
          if (age > staleMs) {
            val aside = new org.apache.hadoop.fs.Path(
              s"$path/.lock.steal.${java.util.UUID.randomUUID()}")
            val moved = try fs.rename(lock, aside)
            catch { case _: java.io.IOException => false }
            if (moved) {
              if (readToken(aside) == observed.map(_._1))
                fs.delete(aside, false) // genuine stale holder — stolen
              else if (!fs.rename(aside, lock)) // changed hands: restore
                fs.delete(aside, false) // racer re-created it first
            }
          }
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"withPathLock: could not acquire $lock within ${timeoutMs}ms" +
                " — another writer holds it (or raise staleMs)")
          else Thread.sleep(200)
      }
    }
    val epoch = IndexCommit.acquireFence(spark, path)
    try body(() => IndexCommit.requireFence(spark, path, epoch)) finally {
      // token-checked release: delete only if the lock is still OURS
      if (readToken(lock).contains(myToken)) fs.delete(lock, false)
    }
  }

  /** One-row corpus fingerprint for [[ensurePairClusters]]'s
    * cross-process validity check: exact row count plus two order-free
    * content lanes (a modular hash-sum and a bit-XOR over the row hash —
    * XOR alone cancels on duplicate rows, the sum alone is blind to
    * reorder-with-compensation; together with the count a collision
    * needs an engineered corpus). The modular sum stays exact past
    * 9·10⁹ rows; the aggregate is one map-side-combinable pass over
    * exactly the columns the pair pipeline consumes.
    */
  def corpusFingerprint(corpus: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    corpus.select(xxhash64(cols.map(col): _*).as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(pmod(col("__h"), lit(1000000007L))), lit(0L))
          .as("hash_sum"),
        coalesce(expr("bit_xor(__h)"), lit(0L)).as("hash_xor"))
  }

  /** The stored pair relation of [[ensurePairClusters]] — schema is
    * whatever the building pair pipeline produced (id_a, id_b, score…).
    */
  def cachedPairs(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    spark.read.parquet(s"$path/pairs")

  /** Incremental batch append for an [[ensurePairClusters]] relation —
    * the daily-ingest shape: mine ONLY the new batch's pairs
    * ([[nearDupMatches]] batch↔corpus + [[minhashNearDupPairs]] within
    * the batch), then merge them into the stored clusters WITHOUT
    * re-running LSH or CC over the old corpus. Correctness rests on star
    * compression: each old cluster collapses to (rep, member) edges,
    * which preserve connectivity exactly, so CC over
    * (star edges ∪ new pairs) equals CC over (old pairs ∪ new pairs) —
    * and the star graph re-converges in O(1) pointer-doubling rounds.
    * Cost is O(old cluster members + new pairs), never O(corpus²) mining.
    *
    * Replay-idempotent (the near-dup/kNN index append discipline): new
    * pairs are canonicalized (id_a < id_b) and anti-joined against the
    * stored relation, so a crash-window replay of the same batch appends
    * nothing and rewrites the same clusters. The stored pair relation
    * must be ids-only (id_a, id_b) — scored relations (thresholdSweep
    * inputs) stay on the full-rebuild path where the score column is
    * meaningful corpus-wide. `fingerprint`/`paramsTag` refresh the
    * [[ensurePairClusters]] validity meta; pass the fingerprint of the
    * BASE corpus (the one the ensure call checks) so a fresh process
    * warm-reuses the relation and replays only this idempotent append —
    * a full-corpus fingerprint would force the ensure call to rebuild
    * every process start. The delete-meta-first / write-meta-last
    * ordering keeps crash windows rebuild-safe, and the append holds
    * the same `path/.lock` as the build (see [[ensurePairClusters]] —
    * single logical writer per path across processes). Returns the
    * number of pairs actually appended.
    */
  def appendToPairClusters(spark: org.apache.spark.sql.SparkSession,
                           path: String, idCol: String,
                           newPairs: DataFrame,
                           fingerprint: Option[DataFrame] = None,
                           paramsTag: String = ""): Long =
    Dedup.synchronized { withPathLockFenced(spark, path) { fenceCheck =>
      val stored = spark.read.parquet(s"$path/pairs")
      require(stored.columns.toSeq == Seq("id_a", "id_b"),
        s"appendToPairClusters needs an ids-only pair relation " +
          s"(id_a, id_b); found ${stored.columns.mkString(", ")} — " +
          "scored pair relations stay on the full-rebuild path")
      val nFresh = Materialize.using(newPairs.select( // materialize first
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .distinct()) { canon =>
      // the anti-join guards the FILE append only (no duplicate rows on
      // disk); the cluster merge below uses ALL canonical batch pairs —
      // a replay after a crash between the pairs append and the clusters
      // write would otherwise see nFresh = 0 and drop the batch's edges
      // from the clusters forever
      val fresh = canon.join(stored, Seq("id_a", "id_b"), "left_anti")
      val nFresh = fresh.count()
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
      if (nFresh > 0)
        fresh.write.mode("append").parquet(s"$path/pairs")
      val star = spark.read.parquet(s"$path/clusters")
        .filter(col(idCol) =!= col("cluster_rep"))
        .select(col("cluster_rep").as("id_a"), col(idCol).as("id_b"))
      // clusterNearDups materializes its state eagerly, so overwriting
      // the clusters dir it read the star edges from is safe
      Materialize.owning(clusterNearDups(star.unionAll(canon), idCol = idCol))(
        graft.io.IO.writeDir(_, s"$path/clusters"))
      nFresh
      }
      fenceCheck() // COMMIT gate: never validate a stolen store
      fingerprint.foreach(f => graft.io.IO.writeDir(
        f.withColumn("params_tag",
          org.apache.spark.sql.functions.lit(paramsTag)), s"$path/meta"))
      nFresh
    } }

  /** The stored (idCol, cluster_rep) relation of [[ensurePairClusters]]. */
  def cachedClusters(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.parquet(s"$path/clusters")

  // --------------------------------------------------------------- SimHash

  /** SimHash over word tokens: per-bit ±1 votes weighted by token
    * frequency, sign → bit. Map-only per row via the native codegen'd
    * SimHashBits expression (the earlier HOF formulation ran
    * |tokens|×numBits interpreted lambda calls per row) — no shuffle at
    * all until the caller groups by (or bands) the signature.
    *
    * Default: 64 bits over xxhash64 (production path). The oracle-parity
    * twin passes `md5Hash60` + 60 bits so DuckDB can recompute the exact
    * signature (q27).
    */
  def simhash(text: Column,
              tokenHash: Column => Column = xxhash64(_),
              numBits: Int = 64): Column =
    graft.functions.simhashBits(transform(tokens(text), t => tokenHash(t)), numBits)

  /** Hamming distance between two 64-bit signatures. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates at hamming distance ≤ 3 via the classic
    * 4-block pigeonhole banding (any pair within distance 3 shares at least
    * one exact 16-bit block). Join key is (block index, block value) —
    * bounded buckets, no O(n²).
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxDistance: Int = 3): DataFrame = {
    val sigs = docs.select(col(idCol), simhash(col(textCol)).as("__sig"))
    val blocks = sigs.select(
      col(idCol), col("__sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftright", col("__sig"), i * 16).bitwiseAND(0xffffL)))
        .as(Seq("__blk", "__blkv")))
    val a = blocks.select(col("__blk"), col("__blkv"),
      col(idCol).as("id_a"), col("__sig").as("sig_a"))
    val b = blocks.select(col("__blk"), col("__blkv"),
      col(idCol).as("id_b"), col("__sig").as("sig_b"))
    a.join(b, Seq("__blk", "__blkv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Quality-aware keeper selection — the SemDeDup-paper refinement of
    * [[clusterNearDups]]'s lowest-id keeper convention: within each
    * near-dup cluster keep the HIGHEST-quality member (ties to the lower
    * id), so dedup removes redundancy without discarding the best copy.
    * `clusters` is (idCol, clusterCol) from [[clusterNearDups]]; `scored`
    * is (idCol, scoreCol) with the score already rounded
    * (round-before-rank). Returns one row per cluster:
    * (clusterCol, keeper_id, keeper_quality, cluster_size).
    *
    * The argmax is a single hash aggregation — max(struct(score, −id)) —
    * not a window sort: ~#clusters groups of partial aggregation, the
    * [[graft.ops.Similarity.nearestNeighbor]] discipline.
    */
  def keepBestPerCluster(clusters: DataFrame, scored: DataFrame,
                         idCol: String = "doc_id",
                         scoreCol: String = "quality_prob",
                         clusterCol: String = "cluster_rep"): DataFrame =
    clusters.join(scored, Seq(idCol))
      .groupBy(col(clusterCol))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("__negid"))).as("__k"),
        count(lit(1)).as("cluster_size"))
      .select(col(clusterCol), (-col("__k.__negid")).as("keeper_id"),
        col(s"__k.$scoreCol").as("keeper_quality"), col("cluster_size"))

  // ------------------------------------------------------ chunk-level dedup

  /** Chunk-level exact dedup — the RefinedWeb "paragraph dedup" shape
    * (Penedo et al. 2023) generalized to non-overlapping token-window
    * chunks, since real paragraph delimiters are corpus-specific: chunk
    * every document into windows of `chunkTokens` tokens, keep only the
    * corpus-wide FIRST occurrence of each distinct chunk (lowest
    * (id, chunk_idx), the same deterministic-keeper rule as [[exact]]),
    * and reassemble each document from its surviving chunks in order.
    * Returns one row per input document with at least one chunk:
    * (idCol, n_chunks, n_kept, kept_text). Empty documents chunk to
    * nothing and drop out, mirroring [[TextAnalysis.chunkDocuments]].
    *
    * Scale shape: the keep decision shuffles only (128-bit hash, id,
    * chunk_idx) — partial-aggregated map-side, so a boilerplate chunk
    * repeated 10^9 times collapses before the exchange (a window over the
    * chunk hash would sort the hot key in one task). Chunk text crosses
    * the wire exactly twice — into the keeper join and into the per-doc
    * reassembly — which is the floor for any reassembling dedup; the
    * keeper relation itself stays narrow.
    */
  def chunkDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", chunkTokens: Int = 3): DataFrame = {
    val chunked = chunkedHashed(docs, idCol, textCol, chunkTokens)
    val keepers = chunked
      .groupBy("__h1", "__h2")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__k"))
      .select(col("__h1"), col("__h2"),
        col(s"__k.$idCol").as(idCol), col("__k.chunk_idx").as("chunk_idx"))
      .withColumn("__keep", lit(1))
    chunked.join(keepers, Seq("__h1", "__h2", idCol, "chunk_idx"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(coalesce(col("__keep"), lit(0))).cast("int").as("n_kept"),
        reassemble(col("__keep") === 1).as("kept_text"))
  }

  /** Boilerplate removal — the CCNet/RefinedWeb line-dedup filter shape:
    * a chunk whose text occurs in at least `minDocFreq` DISTINCT documents
    * is boilerplate (headers, footers, cookie banners) and is removed from
    * EVERY document, including the first. Complements [[chunkDedup]]
    * (which keeps one copy): dedup preserves content once, boilerplate
    * removal deletes it everywhere. Returns
    * (idCol, n_chunks, n_boiler, clean_text).
    *
    * Same scale shape as [[chunkDedup]]: the document-frequency count
    * shuffles (hash, id) pairs only; the distinct-inside-count collapses
    * a document's repeated chunk map-side.
    */
  def boilerplateRemove(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", chunkTokens: Int = 3,
                        minDocFreq: Int = 3): DataFrame =
    scrubBoilerplate(docs,
      boilerplateChunkSet(docs, idCol, textCol, chunkTokens, minDocFreq),
      idCol, textCol, chunkTokens)

  /** The ≥minDocFreq boilerplate decision set as a RELATION (__h1, __h2)
    * — the join-side form that scales: at web scale the boilerplate
    * vocabulary GROWS with the crawl (every shared header/footer/banner
    * across billions of pages), so the decision set must stay a joinable
    * side input (persist it, refresh it batch-side), never a collected
    * driver literal. [[boilerplateRemove]] composes it with
    * [[scrubBoilerplate]]; a streaming scrub joins a frozen copy per
    * micro-batch ([[graft.streaming.EventStream.scrubbedDocuments]]).
    */
  def boilerplateChunkSet(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", chunkTokens: Int = 3,
                          minDocFreq: Int = 3): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq ($minDocFreq) must be >= 2")
    chunkedHashed(docs, idCol, textCol, chunkTokens)
      .groupBy("__h1", "__h2")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__h1"), col("__h2"))
  }

  /** Scrub documents against a PRE-DERIVED boilerplate decision relation
    * — the reusable tail of [[boilerplateRemove]], exposed so the
    * decision set can be computed once (or loaded from a standing
    * snapshot) and applied to any frame, batch or micro-batch, via a
    * plain equi-join on the two hash lanes. Output is
    * (idCol, n_chunks, n_boiler, clean_text), identical to
    * [[boilerplateRemove]] given the same set.
    */
  def scrubBoilerplate(docs: DataFrame, boilerSet: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       chunkTokens: Int = 3): DataFrame = {
    val chunked = chunkedHashed(docs, idCol, textCol, chunkTokens)
    // distinct: the decision set is a SET — a caller-supplied relation
    // with duplicate (__h1, __h2) rows (e.g. a snapshot unioned across
    // refreshes) must not multiply chunk rows through the join, which
    // would inflate n_chunks/n_boiler and repeat tokens in clean_text.
    // The set is tiny next to the chunk relation; the dedup is free.
    val boiler = boilerSet.select(col("__h1"), col("__h2")).distinct()
      .withColumn("__boiler", lit(1))
    chunked.join(boiler, Seq("__h1", "__h2"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(coalesce(col("__boiler"), lit(0))).cast("int").as("n_boiler"),
        reassemble(col("__boiler").isNull).as("clean_text"))
  }

  /** [[boilerplateChunkSet]] COLLECTED as 128-bit hash pairs — the
    * frozen-literal producer for the map-only column scrub
    * ([[removeBoilerplateColumn]]). ⚠ The set is small on curated
    * corpora but NOT bounded by construction — it grows with crawl
    * breadth — so the collect is guarded: more than `maxRows` decision
    * pairs fails loudly (use the relation form + [[scrubBoilerplate]] /
    * the stream-static join path instead of a bigger literal).
    */
  def boilerplateChunkHashes(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text", chunkTokens: Int = 3,
                             minDocFreq: Int = 3,
                             maxRows: Int = 100000): Array[(Long, Long)] = {
    val rows = boilerplateChunkSet(docs, idCol, textCol, chunkTokens,
      minDocFreq).limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"boilerplateChunkHashes: decision set exceeds maxRows=$maxRows — " +
          "a snapshot this large must stay distributed; join against " +
          "boilerplateChunkSet (scrubBoilerplate) instead of collecting")
    rows.map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Map-only boilerplate scrub against a FROZEN hash-pair set — the
    * streaming form of [[boilerplateRemove]] (which needs a corpus-wide
    * aggregate and therefore cannot run per-row): chunk the text with the
    * identical tokenize/window rule, drop chunks whose two-lane hash is in
    * the snapshot, rejoin in order. Pure column expression — applies to a
    * stream with no watermark or state store; StreamingSpec pins it
    * text-for-text to the batch operator given the same snapshot.
    */
  def removeBoilerplateColumn(text: Column, frozen: Seq[(Long, Long)],
                              chunkTokens: Int = 3): Column = {
    val ct = chunkTokens
    val toks = graft.functions.tokens(text)
    val n = size(toks)
    val nChunks = when(n === 0, lit(0)).otherwise(
      lit(1) + greatest(lit(0),
        floor((n - ct + (ct - 1)).cast("double") / ct).cast("int")))
    val idxs = when(nChunks === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), nChunks - 1))
    val chunks = transform(idxs,
      i => array_join(slice(toks, i * ct + 1, lit(ct)), " "))
    // two-lane keys as strings: array_contains over a literal array —
    // single-lane would admit a 2^-64 false-drop, and the batch pin test
    // compares text exactly
    val keys = frozen.map { case (a, b) => s"$a:$b" }
    val kept =
      if (keys.isEmpty) chunks
      else filter(chunks, c => !array_contains(lit(keys.toArray),
        concat(xxhash64(c).cast("string"), lit(":"),
          xxhash64(lit(1L), c).cast("string"))))
    array_join(kept, " ")
  }

  /** Shared chunk → 128-bit-hash relation for the chunk-granular dedup
    * pair. localCheckpoint: the relation feeds both the decision aggregate
    * and the reassembly join — one tokenize pass, not two (the
    * termFrequencies discipline; the caller's consume-then-release hygiene
    * applies).
    */
  private def chunkedHashed(docs: DataFrame, idCol: String, textCol: String,
                            chunkTokens: Int): DataFrame =
    TextAnalysis.chunkDocuments(docs, idCol, textCol,
        size = chunkTokens, stride = chunkTokens)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"),
        xxhash64(col("chunk_text")).as("__h1"),
        xxhash64(lit(1L), col("chunk_text")).as("__h2"))
      .localCheckpoint()

  /** In-order rejoin of the chunks satisfying `keep`: array_sort on
    * (chunk_idx, text) structs is ordinal, so chunks re-concatenate in
    * document order; a document losing every chunk yields ''.
    */
  private def reassemble(keep: Column): Column =
    array_join(transform(array_sort(collect_list(
      when(keep, struct(col("chunk_idx"), col("chunk_text"))))),
      s => s.getField("chunk_text")), " ")

  // ------------------------------------------------- duplicate span mining

  /** Cross-document duplicate-SPAN detection — the exact-substring-dedup
    * shape of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), which finds verbatim token runs shared between
    * documents (quotation, mirroring, memorized passages) that whole-doc
    * ([[exactByHash]]) and chunk ([[chunkDedup]]) granularities both miss
    * (a run straddling chunk boundaries collides in neither). The
    * reference pipeline builds a suffix array — inherently sequential; the
    * distributed re-expression is positional k-gram fingerprints +
    * diagonal run-merging:
    *
    *  1. every document emits (pos, hash of tokens[pos..pos+k-1]) — one
    *     tokenize, map-only, the winnowing shingle construction WITHOUT
    *     the min-window (runs need every position);
    *  2. grams occurring more than `maxOcc` times corpus-wide are dropped
    *     via a broadcast ANTI-join — the droplist (boilerplate grams) is
    *     small by construction, so the cap costs one hash-only aggregate
    *     and no extra shuffle of the gram relation, and it bounds the
    *     self-join fanout at `maxOcc²` per surviving hash (the same
    *     quadratic-expansion cap as LSH's `maxBucket`);
    *  3. the hash self-join yields match points (doc_a, pos_a, doc_b,
    *     pos_b); consecutive matches of one shared run all fall on one
    *     DIAGONAL (pos_a − pos_b constant), so grouping by (pair,
    *     diagonal) and splitting islands with the pos−row_number trick
    *     merges them into maximal spans — the window sorts only matched
    *     points of one document pair, never the corpus.
    *
    * Returns (doc_a, doc_b, start_a, start_b, n_grams, run_tokens): a
    * maximal shared run of `n_grams` consecutive k-grams = `n_grams+k−1`
    * verbatim shared tokens starting at 1-based token positions
    * (start_a, start_b). Spans shorter than `minRun` grams are noise
    * (single-gram collisions) and dropped. `shingleHash` is pluggable:
    * xxhash64 in production, [[graft.functions.md5Hash31]] when an
    * independent engine must recompute the exact spans (q153).
    */
  def duplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 3,
                     minRun: Int = 2, maxOcc: Int = 20,
                     shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(minRun >= 1, s"minRun ($minRun) must be >= 1")
    require(maxOcc >= 2, s"maxOcc ($maxOcc) must be >= 2: a gram must be " +
      "allowed to occur in two documents for any span to surface")
    val grams = positionalGrams(docs, idCol, textCol, k, shingleHash)
    val hot = grams.groupBy("h")
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > maxOcc)
      .select("h")
    val g = grams.join(broadcast(hot), Seq("h"), "left_anti")
    val m = g.select(col(idCol).as("doc_a"), col("pos").as("pos_a"), col("h"))
      .join(g.select(col(idCol).as("doc_b"), col("pos").as("pos_b"), col("h")),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
    diagonalIslands(m, k, minRun)
  }

  /** Positional k-gram hashes (1-based pos): let-bound token vector →
    * per-position shingle hash, exploded. localCheckpoint: the relation
    * feeds a droplist aggregate AND join sides — one tokenize (the
    * chunkedHashed discipline).
    */
  private def positionalGrams(docs: DataFrame, idCol: String, textCol: String,
                              k: Int,
                              shingleHash: Column => Column): DataFrame = {
    val hs = element_at(
      transform(array(tokens(col(textCol))), tsv =>
        when(size(tsv) < k, array().cast("array<bigint>"))
          .otherwise(
            transform(sequence(lit(1), size(tsv) - lit(k - 1)),
              i => shingleHash(array_join(slice(tsv, i, lit(k)), " "))))),
      1)
    docs
      .select(col(idCol), posexplode(hs).as(Seq("__p0", "h")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("h"))
      .localCheckpoint()
  }

  /** Match points (doc_a, pos_a, doc_b, pos_b) → maximal diagonal runs:
    * group by (pair, diagonal), split islands with the pos−row_number
    * trick, keep runs of ≥ minRun grams. The window sorts only matched
    * points of one document pair.
    */
  private def diagonalIslands(m: DataFrame, k: Int, minRun: Int): DataFrame = {
    val w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("pos_a")
    m.withColumn("__diag", col("pos_a") - col("pos_b"))
      .withColumn("__grp", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "__diag", "__grp")
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        count(lit(1)).as("n_grams"))
      .filter(col("n_grams") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("n_grams"), (col("n_grams") + lit(k - 1)).as("run_tokens"))
  }

  /** INCREMENTAL [[duplicateSpans]] — the q59-shape: a new batch probes an
    * existing corpus for verbatim runs it shares with ANY corpus document
    * (doc_a = corpus id, doc_b = batch id; the batch always loses, the
    * corpus is immutable). The hot-gram droplist comes from the CORPUS
    * side only — that is the relation a production pipeline fingerprints
    * ONCE and persists (the contamination-index lifecycle; the corpus gram
    * relation bucketed by h is exactly what `buildContaminationIndex`
    * would store for this operator), while each batch pays only its own
    * tokenize + an equi-join on h. No batch-batch pairs are reported —
    * in-batch dedup is [[duplicateSpans]]'s job.
    */
  def duplicateSpansAgainst(batch: DataFrame, corpus: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text", k: Int = 3,
                            minRun: Int = 2, maxOcc: Int = 20,
                            shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxOcc >= 1, s"maxOcc ($maxOcc) must be >= 1")
    val cg = positionalGrams(corpus, idCol, textCol, k, shingleHash)
    val bg = positionalGrams(batch, idCol, textCol, k, shingleHash)
    val hot = cg.groupBy("h")
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > maxOcc)
      .select("h")
    val m = cg.join(broadcast(hot), Seq("h"), "left_anti")
      .select(col(idCol).as("doc_a"), col("pos").as("pos_a"), col("h"))
      .join(bg.select(col(idCol).as("doc_b"), col("pos").as("pos_b"),
        col("h")), Seq("h"))
    diagonalIslands(m, k, minRun)
  }

  /** The ACTION for [[duplicateSpans]] — Lee et al. 2022 remove one copy
    * of every duplicated substring; the deterministic keeper rule here is
    * the same as [[exact]]'s: the LOWEST-id document keeps its text, every
    * higher-id partner loses the shared tokens (`doc_b` of each mined
    * span). Per-document token ranges from different partners may overlap,
    * so ranges are first merged (sort by start, split islands where a
    * start clears the running max end — the window sorts one document's
    * few ranges, never tokens), then tokens are dropped by POSITION with
    * an indexed array filter — map-only over the rejoined corpus, no
    * explode. Returns (idCol, n_tokens, n_removed, clean_text), one row
    * per document with ≥ 1 token (empty documents drop, the
    * [[chunkDedup]] convention).
    *
    * Scale shape: the span relation is already hot-gram-capped and tiny
    * next to the corpus; merging windows over per-doc range lists; the
    * final equi-join on id puts a small struct array next to each text
    * row. Text crosses the wire once (into the rewrite join) — the floor.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", k: Int = 3,
                           minRun: Int = 2, maxOcc: Int = 20,
                           shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, k, minRun, maxOcc,
      shingleHash)
    // distinct FIRST: partners can contribute byte-identical ranges, and
    // a tie in (s, e) would make the merge windows' sort order ambiguous
    // (an independent engine may order ties differently between two
    // window passes and split them into overlapping islands); distinct
    // ranges make ORDER BY (s, e) a total order per document
    scrubSpans(docs, spans, idCol, textCol)
  }

  /** INCREMENTAL span scrub — [[duplicateSpansAgainst]]'s ACTION: every
    * batch document loses the token runs it shares with the immutable
    * corpus (decontamination against an already-published training set,
    * or dedup of a new crawl against the accumulated corpus). Returns the
    * batch as (idCol, n_tokens, n_removed, clean_text).
    */
  def removeCorpusSpans(batch: DataFrame, corpus: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 3, minRun: Int = 2, maxOcc: Int = 20,
                        shingleHash: Column => Column = xxhash64(_)): DataFrame =
    scrubSpans(batch,
      duplicateSpansAgainst(batch, corpus, idCol, textCol, k, minRun,
        maxOcc, shingleHash),
      idCol, textCol)

  /** [[removeDuplicateSpans]] against PRE-MINED spans — the
    * compute-once composition shape: a curation run mines the span
    * relation once ([[duplicateSpans]], typically persisted) and both
    * the report and the scrub consume it, instead of each re-running
    * the mining join. `spans` is any (doc_b, start_b, run_tokens)
    * relation with [[duplicateSpans]]'s semantics.
    */
  def removeSpans(docs: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    scrubSpans(docs, spans, idCol, textCol)

  /** Shared rewrite tail: mined spans → per-doc_b merged cover ranges →
    * positional token drop over `docs`. Ranges are DISTINCTed first (see
    * the tie-order note in [[removeDuplicateSpans]]); the merge windows
    * sort one document's few ranges; the token drop is a map-only indexed
    * array filter after one equi-join on id.
    */
  private def scrubSpans(docs: DataFrame, spans: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val ranges = spans.select(col("doc_b").as(idCol),
      col("start_b").cast("long").as("s"),
      (col("start_b") + col("run_tokens") - 1).as("e"))
      .distinct()
    val wPrev = Window.partitionBy(idCol).orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, 0)
    val merged = ranges
      .withColumn("__brk",
        when(col("s") > coalesce(max("e").over(wPrev), lit(-1L)), 1)
          .otherwise(0))
      .withColumn("__isl", sum("__brk").over(wRun))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("s").as("s"), max("e").as("e"))
      .groupBy(idCol)
      .agg(collect_list(struct(col("s"), col("e"))).as("__rs"))
    docs.join(merged, Seq(idCol), "left")
      .select(col(idCol), tokens(col(textCol)).as("__t"),
        coalesce(col("__rs"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("__rs"))
      .filter(size(col("__t")) > 0)
      .withColumn("__kept", filter(col("__t"), (x, i) =>
        !exists(col("__rs"), r =>
          r.getField("s") <= i + 1 && i + 1 <= r.getField("e"))))
      .select(col(idCol), size(col("__t")).as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).as("n_removed"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  // ----------------------------------------- fuzzy (edit-distance) matching

  /** All distinct string pairs within edit distance 1 — the spelling-variant
    * / entity-resolution primitive (OCR noise, typo'd hostnames, serial-ID
    * drift). Candidate generation is DELETION-NEIGHBORHOOD BLOCKING (the
    * FastSS scheme): each string s emits {s} ∪ {s with one char deleted},
    * and two strings are within one edit (insert / delete / substitute) iff
    * they share a blocking key — substitutions meet at the common deletion,
    * insert/delete pairs meet at the shorter string itself. An equi-join on
    * the key therefore finds EVERY candidate (no recall loss), and an exact
    * `levenshtein` confirms, so the quadratic all-pairs compare never runs:
    * work is Σ len(s) keys shuffled on well-spread short strings, bucket
    * sizes bounded by how many strings actually collide at one key.
    *
    * The self-join dedups pairs via `<` ordering. The levenshtein verify
    * runs per candidate ROW (Catalyst pushes a deterministic filter below
    * the pair-dedup aggregate regardless of call order, so a pair meeting
    * at several shared keys is verified once per key) — that is the right
    * trade: the filter shrinks the pair set BEFORE the distinct's
    * shuffle, and levenshtein on short keys is cheaper than shuffling the
    * unverified candidate multiset.
    */
  def editDistancePairs(df: DataFrame, strCol: String): DataFrame = {
    val names = df.select(col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull).distinct()
    // sequence(1, 0) counts DOWN in Spark — guard the empty string
    val deletions = when(length(col("s")) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("s"))),
        i => concat(substr(col("s"), lit(1), i - 1),
          substr(col("s"), i + 1, length(col("s"))))))
    val keyed = names.select(col("s"),
      explode(array_union(array(col("s")), deletions)).as("__k"))
    keyed.select(col("__k"), col("s").as("name_a"))
      .join(keyed.select(col("__k"), col("s").as("name_b")), "__k")
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) === 1)
      .select(col("name_a"), col("name_b"))
      .distinct()
  }

  /** ASYMMETRIC containment pairs — |shingles(a) ∩ shingles(b)| /
    * |shingles(a)| ≥ threshold, the doc-inside-doc relation Jaccard
    * misses when the container is much larger (a quote, a mirrored
    * article with boilerplate, a prefix crawl of the same page).
    *
    * Candidates come from MIN-SHINGLE anchoring: each doc anchors on the
    * minimum of its sorted portable-hash shingle set, the probe side
    * explodes every shingle (the contamination-index fan-out shape), and
    * an anchor joins every doc whose set contains it. A fully-contained
    * doc is ALWAYS found (its min is in the container); at threshold
    * t < 1 recall depends on the min surviving into the intersection —
    * anchor on the j smallest shingles (j ≈ ⌈(1−t)·|set|⌉ + 1) to make
    * the guarantee exact, at j× candidate cost. The oracle replays the
    * SAME anchoring, so the two engines agree by construction.
    *
    * Everything compares over the portable 31-bit hashes (identical in
    * both engines even under collision); containment rounds to 6 BEFORE
    * the threshold.
    *
    * SCALE SHAPE: candidate generation shuffles (key, id) SCALARS only —
    * the shingle arrays never ride the corpus-shingle-sized explode.
    * Both sides of the anchor join are capped per key at `maxBucket` ids
    * (deterministic sorted prefix via a row_number window, the LSH
    * `bucketPairs` discipline), so a degenerate hot shingle shared by M
    * docs produces at most maxBucket² candidate pairs instead of
    * O(M·anchors); ids past the cap lose candidacy only THROUGH that
    * key, not membership in others. The surviving (id_a, id_b) pairs —
    * candidate-set-sized, not corpus-shingle-sized — then fetch the two
    * sorted-hash arrays ONCE each by id equi-join against the
    * checkpointed base, so total array shuffle volume is Σ|set| per
    * joined side, not Σ|shingles|·|set|. The oracle replays the same
    * anchoring AND the same row_number caps, so the engines agree by
    * construction even when a cap binds.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.9,
                       anchorCount: Int = 1, maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(anchorCount >= 1, s"anchorCount must be >= 1: $anchorCount")
    val base = containmentBase(df, idCol, textCol, k).localCheckpoint()
    val cands = containmentCandidates(base, anchorCount, maxBucket)
    containmentVerify(cands, base, base, threshold)
  }

  /** [[containmentPairs]] over PRECOMPUTED hash sets — the modality-
    * generic entry, and the metric that matters for DEEP edits: a copy
    * missing half its frames/paragraphs has jaccard ≈ ½ and escapes any
    * sane jaccard cut, while its shingle set is still ⊆ the original's
    * (containment 1). Same min-shingle anchoring, same capped candidate
    * discipline, same verify — only the base construction differs.
    */
  def hashSetContainmentPairs(rel: DataFrame, idCol: String,
                              hashesCol: String, threshold: Double = 0.9,
                              anchorCount: Int = 1,
                              maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(anchorCount >= 1, s"anchorCount must be >= 1: $anchorCount")
    val base = rel.select(col(idCol).as("__id"),
      array_sort(array_distinct(col(hashesCol))).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint()
    val cands = containmentCandidates(base, anchorCount, maxBucket)
    containmentVerify(cands, base, base, threshold)
  }

  /** Build-once / probe-many lifecycle for HASH-SET containment — the
    * persisted tier of [[hashSetContainmentPairs]], mirroring
    * [[buildContainmentIndex]] with the sets supplied instead of
    * tokenized: any modality that renders rows as 64-bit hash sets
    * (video frame shingles, audio windows, image tiles) gets
    * incremental deep-trim/crop detection — the corpus's anchor-key
    * surface persists once (capped, bucketed by `__key` so the probe
    * reads it in place), daily batches pay only their own decode.
    */
  def buildHashSetContainmentIndex(rel: DataFrame, name: String,
                                   path: String, idCol: String,
                                   hashesCol: String,
                                   maxBucket: Int = 10000,
                                   numBuckets: Int = 32): Unit = {
    val base = rel.select(col(idCol).as("__id"),
      array_sort(array_distinct(col(hashesCol))).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val keys = capPerKey(base.select(col("__id").as("id_b"),
      explode(col("__sh")).as("__key")), "id_b", maxBucket)
    graft.io.IO.writeBucketed(keys, s"${name}_keys", s"$path/keys",
      Seq("__key"), numBuckets, Seq("__key"))
    graft.io.IO.writeBucketed(base, s"${name}_shingles",
      s"$path/shingles", Seq("__id"), numBuckets)
  }

  /** Containment of batch rows IN indexed corpus rows against a
    * [[buildHashSetContainmentIndex]] index: (batch id_a, corpus id_b,
    * containment ≥ threshold) — the [[containmentPairsIndexed]] chain
    * with precomputed sets; candidates from the bucketed key table,
    * verification arrays from the bucketed shingle table, corpus never
    * rescanned.
    */
  def hashSetContainmentPairsIndexed(batch: DataFrame, name: String,
                                     idCol: String, hashesCol: String,
                                     threshold: Double = 0.9,
                                     anchorCount: Int = 1,
                                     maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val batchBase = batch.select(col(idCol).as("__id"),
      array_sort(array_distinct(col(hashesCol))).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint()
    val cands = containmentCandidatesIndexed(batchBase, name,
      anchorCount, maxBucket)
    containmentVerify(cands, batchBase,
      batch.sparkSession.table(s"${name}_shingles"), threshold)
  }

  /** (__id, __sh) relation shared by the inline and indexed containment
    * tiers: sorted distinct portable-hash k-shingle sets, empty docs
    * dropped.
    */
  private[graft] def containmentBase(df: DataFrame, idCol: String,
                                   textCol: String, k: Int): DataFrame = {
    val sh = array_sort(array_distinct(transform(
      graft.functions.wordShingles(col(textCol), k),
      s => graft.functions.md5Hash31(s))))
    // NO Spread here (r17 matched A/B, confirming the r16 revert): the
    // shingle+hash projection is cheap relative to the round-robin
    // exchange it would buy — q176 2.57→3.19 s, q183 2.21→2.88 s,
    // q85 1.49→1.84 s min-of-3 WITH it. The capPerKey window exchange
    // right after restores parallelism anyway.
    df.select(col(idCol).as("__id"), sh.as("__sh"))
      .filter(size(col("__sh")) > 0)
  }

  /** Capped candidate pairs for [[containmentPairs]]: distinct
    * (id_a, id_b) whose docs share an anchor key. EVERY Exchange in this
    * sub-plan carries scalar columns only (plan-gated) — the per-key cap
    * is a row_number window, not a collect_list, precisely so no
    * array-typed aggregation buffer crosses a shuffle.
    */
  private[graft] def containmentCandidates(base: DataFrame, anchorCount: Int,
                                         maxBucket: Int): DataFrame = {
    val anchors = containmentAnchors(base, anchorCount, maxBucket)
    val probes = capPerKey(base.select(col("__id").as("id_b"),
      explode(col("__sh")).as("__key")), "id_b", maxBucket)
    anchors.join(probes, "__key")
      .filter(col("id_a") =!= col("id_b"))
      // j > 1 anchors (and the probe fan-out) can produce the same
      // (a, b) via several shared keys — dedup the SCALAR pair list
      // before the array fetch so each pair is fetched and scored once
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Deterministic per-key cap (the LSH `bucketPairs` discipline as a
    * row_number window): keep the `maxBucket` smallest ids at each
    * `__key`. A window, not a collect_list, so the Exchange it induces
    * carries (key, id) scalars only.
    */
  private def capPerKey(df: DataFrame, idName: String,
                        maxBucket: Int): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__key")).orderBy(col(idName))))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")

  /** Capped (id_a, __key) anchor rows — ONE definition shared by the
    * inline candidate join and the persisted-index probe, so a batch's
    * anchor keys land exactly on the values an index stored earlier.
    */
  private def containmentAnchors(base: DataFrame, anchorCount: Int,
                                 maxBucket: Int): DataFrame =
    capPerKey(base.select(col("__id").as("id_a"),
      explode(slice(col("__sh"), 1, anchorCount)).as("__key")), "id_a",
      maxBucket)

  /** Fetch-and-score stage shared by the inline and indexed containment
    * tiers: join the scalar candidate pairs back to the (__id, __sh)
    * relation of each side — arrays move once per surviving pair side —
    * then one allocation-free two-pointer intersect per pair.
    */
  private[graft] def containmentVerify(cands: DataFrame, baseA: DataFrame,
                                     baseB: DataFrame,
                                     threshold: Double): DataFrame =
    cands
      .join(baseA.select(col("__id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(baseB.select(col("__id").as("id_b"), col("__sh").as("__shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.functions.sortedIntersectCount(col("__sha"), col("__shb"))
          .cast("double") / size(col("__sha")), 6).as("containment"))
      .filter(col("containment") >= threshold)

  // ------------------------------------- persisted containment index

  /** Build-once / probe-many lifecycle for containment detection: the
    * corpus's probe surface is persisted as two bucketed tables so
    * incremental batches ask "is this new doc contained in any corpus
    * doc?" without re-sharding the corpus (the
    * [[graft.ops.TextAnalysis.buildContaminationIndex]] pattern):
    *
    *   - `<name>_keys` (id_b, __key): the corpus's exploded shingle keys,
    *     CAPPED per key at build time (same row_number discipline as the
    *     inline tier) and bucketed by `__key` — the anchor-probe join
    *     key, so the index side of the probe is read in place with ZERO
    *     exchange (plan-gated in PlanShapeSpec).
    *   - `<name>_shingles` (__id, __sh): the sorted-hash sets, bucketed
    *     by id — the verification side-input, joined per surviving pair
    *     without shuffling stored arrays.
    *
    * Probe-time (k, maxBucket) MUST match the build call — they
    * parameterize the shingle family and the stored cap.
    */
  def buildContainmentIndex(corpus: DataFrame, name: String, path: String,
                            idCol: String, textCol: String, k: Int = 3,
                            maxBucket: Int = 10000,
                            numBuckets: Int = 32): Unit = {
    val base = containmentBase(corpus, idCol, textCol, k)
    val keys = capPerKey(base.select(col("__id").as("id_b"),
      explode(col("__sh")).as("__key")), "id_b", maxBucket)
    graft.io.IO.writeBucketed(keys, s"${name}_keys", s"$path/keys",
      Seq("__key"), numBuckets, Seq("__key"))
    graft.io.IO.writeBucketed(base, s"${name}_shingles", s"$path/shingles",
      Seq("__id"), numBuckets)
  }

  /** [[buildContainmentIndex]] unless BOTH index tables are already
    * registered in this session's catalog; a missing half rebuilds the
    * pair (keys and shingles must describe the same corpus snapshot).
    * Returns true iff the build ran.
    */
  def ensureContainmentIndex(corpus: DataFrame, name: String, path: String,
                             idCol: String, textCol: String, k: Int = 3,
                             maxBucket: Int = 10000,
                             numBuckets: Int = 32): Boolean = {
    val cat = corpus.sparkSession.catalog
    val present = cat.tableExists(s"${name}_keys") &&
      cat.tableExists(s"${name}_shingles")
    if (!present)
      buildContainmentIndex(corpus, name, path, idCol, textCol, k,
        maxBucket, numBuckets)
    !present
  }

  /** Candidate (batch id_a, corpus id_b) pairs from probing the persisted
    * index: the batch's capped anchor keys equi-join the `__key`-bucketed
    * `<name>_keys` table in place. Exposed separately so the
    * zero-exchange property of the index side is plan-testable.
    */
  private[graft] def containmentCandidatesIndexed(batchBase: DataFrame,
                                                  name: String,
                                                  anchorCount: Int,
                                                  maxBucket: Int): DataFrame =
    containmentAnchors(batchBase, anchorCount, maxBucket)
      .join(batchBase.sparkSession.table(s"${name}_keys"), "__key")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** [[containmentPairs]] of a batch AGAINST the persisted corpus index:
    * (batch id_a, corpus id_b, containment of a in b ≥ threshold) —
    * identical semantics to running the inline tier over batch ∪ corpus
    * and keeping the batch-anchored/corpus-probed direction, but the
    * corpus is never rescanned: candidates come from the bucketed key
    * table, verification arrays from the bucketed shingle table.
    */
  def containmentPairsIndexed(batch: DataFrame, name: String,
                              idCol: String, textCol: String,
                              k: Int = 3, threshold: Double = 0.9,
                              anchorCount: Int = 1,
                              maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val batchBase = containmentBase(batch, idCol, textCol, k).localCheckpoint()
    val cands = containmentCandidatesIndexed(batchBase, name, anchorCount,
      maxBucket)
    containmentVerify(cands, batchBase,
      batch.sparkSession.table(s"${name}_shingles"), threshold)
  }

  /** The anchor count that makes [[containmentPairs]]'s recall EXACT at
    * threshold t for a doc with n distinct shingles: a pair at
    * containment ≥ t misses at most ⌊(1−t)·n⌋ of a's shingles, so among
    * the ⌊(1−t)·n⌋ + 1 smallest at least one survives into the
    * intersection (pigeonhole) and anchors the candidate. Callers pass
    * the corpus-max n (or a cap) for a uniform anchor count.
    */
  def exactRecallAnchors(threshold: Double, maxShingles: Int): Int =
    math.max(1, ((1.0 - threshold) * maxShingles).toInt + 1)

  /** Blocked fuzzy-name matching (the classic entity-resolution /
    * record-linkage shape, Winkler 1990): candidate pairs come from
    * EQUALITY blocking — here the name's first token — and only blocked
    * candidates pay the Jaro–Winkler compare, so there is no quadratic
    * all-pairs scan; the distinct-name relation is vocabulary-sized
    * (names dedup before blocking, like [[editDistancePairs]]).
    * Similarity rounds to 6 BEFORE the threshold compare (the oracle
    * engine's double division can differ in the last ulp).
    *
    * At 100 TB the block key is the scale lever: TWO cheap keys are
    * stacked and their candidate sets unioned — (a) the first token,
    * which catches edits anywhere past it, and (b) prefix-2-gram ×
    * length band (⌊len/4⌋), which catches first-token edits past
    * position 2 that key (a) blocks apart. A pathological hot block
    * (every name sharing one first token, or one prefix) is the LSH
    * `maxBucket` situation: each block keeps its `maxBlock` smallest
    * names (deterministic row_number prefix), bounding the pair
    * expansion at maxBlock² per block; names past the cap lose
    * candidacy only through that key, not membership in the other.
    * Pairs found via both keys dedup BEFORE the Jaro–Winkler verify so
    * each pair is scored once. The oracle replays the same keys and
    * caps, so the engines agree by construction.
    */
  def jaroWinklerPairs(df: DataFrame, strCol: String,
                       threshold: Double, maxBlock: Int = 10000): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1]: $threshold")
    // ANSI mode: element_at on an empty array throws, so guard the
    // token-free (whitespace-only) name before indexing
    val toks = graft.functions.tokens(col("s"))
    val names = df.select(col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull).distinct()
    val t = trim(col("s"))
    val k1 = when(size(toks) > 0, concat(lit("t:"), element_at(toks, 1)))
    val k2 = when(length(t) > 0, concat_ws(":", lit("p"),
      substring(t, 1, 2), floor(length(t) / 4).cast("string")))
    val keyed = names
      .select(col("s"), explode(array(k1, k2)).as("__blk"))
      .filter(col("__blk").isNotNull)
    val blocked = keyed.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__blk")).orderBy(col("s"))))
      .filter(col("__rn") <= maxBlock)
      .drop("__rn")
    blocked.select(col("__blk"), col("s").as("name_a"))
      .join(blocked.select(col("__blk"), col("s").as("name_b")), "__blk")
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
      .distinct()
      .select(col("name_a"), col("name_b"),
        round(graft.functions.jaroWinkler(col("name_a"), col("name_b")), 6)
          .as("jw"))
      .filter(col("jw") >= threshold)
  }

  /** Cross-source duplicate matrix: for each unordered source pair, how
    * many distinct document texts appear in BOTH — the provenance-overlap
    * diagnostic that decides which source to drop (or dedup against which)
    * before mixing a corpus. Reduces to DISTINCT (source, text-hash)
    * first, so the self-join and everything after it shuffle 60-bit
    * hashes only — text never moves, and the join's per-hash fan-out is
    * bounded by the source count, not the corpus (a hash duplicated a
    * million times within one source is still ONE row per source here).
    */
  def crossSourceDuplicates(docs: DataFrame, srcCol: String = "source",
                            textCol: String = "text"): DataFrame = {
    val sh = docs
      .select(col(srcCol).as("__src"),
        graft.functions.md5Hash60(col(textCol)).as("__h"))
      .distinct()
    sh.select(col("__src").as("source_a"), col("__h"))
      .join(sh.select(col("__src").as("source_b"), col("__h")), "__h")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ----------------- generic exact-fingerprint dup index (any modality)

  /** Persisted EXACT-dup index over any fingerprint tuple — the
    * modality-agnostic complement of the per-modality NEAR-dup indexes
    * (text LSH bands, image aHash bands): a corpus's (id, key…) rows
    * live in a table bucketed on the key columns, and a probe is one
    * equi-join read in place. This is how exact audio-fingerprint dedup
    * (keys: fingerprint + n_samples) and exact video dedup (keys: the
    * decoded per-video metric triple) run against a STANDING corpus at
    * batch cost instead of recomputing a corpus-wide groupBy per batch.
    * `fps` must carry `idCol` plus exactly `keyCols`.
    */
  def buildFingerprintIndex(fps: DataFrame, name: String, path: String,
                            keyCols: Seq[String], idCol: String,
                            numBuckets: Int = 32): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    graft.io.IO.writeBucketed(
      fps.select((idCol +: keyCols).map(col): _*),
      s"${name}_fp", s"$path/fp", keyCols, numBuckets, keyCols)
  }

  /** Replay-idempotent append (anti-join on `idCol`) under the
    * catalog's bucket spec; `numBuckets` is not read.
    */
  def appendToFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                               name: String, batchFps: DataFrame,
                               keyCols: Seq[String], idCol: String,
                               numBuckets: Int = 32): Unit =
    graft.io.IO.appendBucketed(
      batchFps.join(spark.table(s"${name}_fp").select(col(idCol)),
        Seq(idCol), "left_anti").select((idCol +: keyCols).map(col): _*),
      s"${name}_fp")

  /** Every (batch id, corpus id) pair with IDENTICAL key tuple —
    * (batch_id, corpus_id), index side read in place.
    */
  def probeFingerprintIndex(batchFps: DataFrame, name: String,
                            keyCols: Seq[String],
                            idCol: String): DataFrame = {
    val spark = batchFps.sparkSession
    batchFps.select((idCol +: keyCols).map(col): _*)
      .withColumnRenamed(idCol, "batch_id")
      .join(spark.table(s"${name}_fp")
        .withColumnRenamed(idCol, "corpus_id"), keyCols)
      .select(col("batch_id"), col("corpus_id"))
  }

  /** GDPR delete: anti-join + bucketed rewrite with the build's exact
    * specs (catalog-derived), probe plans unchanged. `path`, `keyCols`
    * and `numBuckets` are not read.
    */
  def deleteFromFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                                 name: String, path: String,
                                 ids: DataFrame, keyCols: Seq[String],
                                 idCol: String,
                                 numBuckets: Int = 32): Unit =
    graft.io.IO.rewriteTable(spark, s"${name}_fp")(
      _.join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_anti"))
}
