package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer rules and physical plans"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "another unrelated document mentioning parquet columnar storage formats")
  ).toDF("doc_id", "text")

  test("exact dedup (window) keeps lowest id per text") {
    val kept = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("exact dedup (content hash) keeps min id per text") {
    val kept = Dedup.exactByHash(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("minhash signatures are deterministic with fixed length") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", shingleK = 3, numPerm = 32)
    val rows = sigs.collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getSeq[Long](r.fieldIndex("sig")).length == 32))
    // identical texts → identical signatures
    val byId = rows
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](r.fieldIndex("sig")).toList)
      .toMap
    assert(byId(1L) == byId(4L))
    assert(byId(1L) != byId(3L))
  }

  test("minhash LSH near-dup pipeline finds planted near-dup and exact-dup pairs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleK = 3, numPerm = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("LSH candidate rate: pairwise-disjoint docs produce zero candidates") {
    // 200 docs with fully disjoint vocabularies → every pairwise jaccard is
    // 0, so an r=8 band match is (collision-level) impossible. This is the
    // regression guard for the degenerate-permutation bug (a piecewise-
    // monotone family made unrelated docs share band minima en masse).
    val docs = (0 until 200)
      .map(i => (i.toLong, (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", shingleK = 2, numPerm = 64)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 8)
    assert(cands.count() == 0)
  }

  test("normalized dedup folds case/punctuation/whitespace variants") {
    val variants = Seq(
      (1L, "Hello, World!  How are you?"),
      (2L, "hello world how are you"), // same after normalization
      (3L, "HELLO   world, how ARE you."), // same after normalization
      (4L, "an entirely different text")).toDF("doc_id", "text")
    val kept = Dedup.exactNormalized(variants, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("incremental exact dedup: batch rows already in the corpus are dropped") {
    val corpus = Seq(
      (100L, "existing document one"),
      (101L, "existing document two")).toDF("doc_id", "text")
    val batch = Seq(
      (200L, "existing document one"), // exact dup of corpus
      (201L, "a genuinely new document"),
      (202L, "a genuinely new document"), // in-batch dup
      (203L, "another new document")).toDF("doc_id", "text")
    val kept = Dedup.exactNewOnly(corpus, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(201L, 203L))
  }

  test("incremental near-dup filter: batch rows near a corpus doc are dropped") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (200L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup
      (201L, "completely different text about catalyst optimizer rules and physical plans")
    ).toDF("doc_id", "text")
    val kept = Dedup.nearDupNewOnly(corpus, batch, "doc_id", "text",
      shingleK = 3, numPerm = 32, bands = 8, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(201L))
  }

  test("degenerate bucket: 10k identical docs complete under the bucket cap") {
    // every doc shares every band bucket; uncapped this is one 10k-element
    // array row and C(10k,2) ≈ 50M pairs per band. The cap keeps the sorted
    // prefix of each bucket: candidates = C(cap, 2), computed quickly.
    val many = spark.range(10000)
      .selectExpr("id AS doc_id", "'the exact same text in every document' AS text")
    val sigs = Dedup.minhashSignatures(many, "doc_id", "text", shingleK = 2, numPerm = 16)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 2, rowsPerBand = 8,
      maxBucket = 100)
    assert(cands.count() == 100L * 99 / 2)
  }

  test("simhash: identical text → distance 0, near-dup close, unrelated far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(4L)) == 0)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("simhash banding returns exact-dup pair at distance 0") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDistance = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("native SimHashBits matches the HOF bit-vote formulation exactly") {
    // re-build the original HOF formulation and compare on real docs
    val hashes = transform(graft.functions.tokens(col("text")), t => xxhash64(t))
    val bitsOf = (h: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0), lit(63)),
        i => when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
    val votes = aggregate(hashes,
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, h) => zip_with(acc, bitsOf(h), (x, y) => x + y))
    val hof = aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    val both = Tables.documents(spark, sf0001).limit(100)
      .select(graft.functions.simhashBits(hashes, 64).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(both.count() == 0)
  }

  test("ensureNearDupIndex builds once per session; a missing half rebuilds the pair") {
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("graft_ens_ndi").toString
    val name = "ensure_ndi_test"
    def ensure() = Dedup.ensureNearDupIndex(corpus, name, dir,
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
    assert(ensure())  // builds both tables
    assert(!ensure()) // both present → skip
    // sig and shingles must describe the same corpus snapshot: losing
    // either half forces the PAIR to rebuild
    spark.sql(s"DROP TABLE ${name}_sig")
    assert(ensure())
    assert(!ensure())
    val probe = Dedup.nearDupNewOnlyIndexed(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 90), name,
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
    assert(probe.count() > 0)
  }

  test("ensurePairClusters: cached relations are row-identical to a fresh compute, built once") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 150)
    val dir = java.nio.file.Files.createTempDirectory("graft_ens_pc").toString
    def freshPairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8, threshold = 0.8)
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id")(freshPairs))
    // by-name contract: the second call must NOT evaluate the pair
    // pipeline (a thunk that throws proves it) and must report no build
    assert(!Dedup.ensurePairClusters(spark, dir, "doc_id")(
      throw new IllegalStateException("pairs re-evaluated on cached call")))
    // cached ≡ fresh, bit-for-bit: deterministic hash/CC math + parquet
    // round-trip of longs/doubles
    val cachedP = Dedup.cachedPairs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    val freshP = freshPairs.as[(Long, Long, Double)].collect().toSet
    assert(cachedP == freshP && cachedP.nonEmpty)
    val cachedC = Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet
    val freshC = Dedup.clusterNearDups(freshPairs)
      .as[(Long, Long)].collect().toSet
    assert(cachedC == freshC && cachedC.nonEmpty)
  }

  test("ensurePairClusters: a FRESH process reuses the warm relation iff " +
    "the corpus fingerprint matches, rebuilds on any corpus change") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 150)
    val dir = java.nio.file.Files.createTempDirectory("graft_ens_fp").toString
    val key = s"graft.internal.pairClustersBuilt.$dir"
    def fp(corpus: org.apache.spark.sql.DataFrame) =
      Some(Dedup.corpusFingerprint(corpus, Seq("doc_id", "text")))
    def pairsOf(corpus: org.apache.spark.sql.DataFrame) =
      Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleK = 2, numPerm = 32, bands = 8, threshold = 0.8)
    // first process: builds and persists the fingerprint
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id", fp(docs))(
      pairsOf(docs)))
    val built = Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet
    // "fresh process" = the session-scoped skip key is gone; unchanged
    // corpus must REUSE (the by-name thunk throwing proves no rebuild)
    spark.conf.unset(key)
    assert(!Dedup.ensurePairClusters(spark, dir, "doc_id", fp(docs))(
      throw new IllegalStateException("rebuilt despite matching fingerprint")))
    assert(Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet == built)
    // fresh process over a CHANGED corpus (one row dropped) must rebuild
    spark.conf.unset(key)
    val changed = docs.filter(col("doc_id") =!= 7L)
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id", fp(changed))(
      pairsOf(changed)))
    assert(!Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().map(_._1).contains(7L))
    // no fingerprint supplied → a fresh process always rebuilds (old
    // posture preserved for callers that cannot cheaply fingerprint)
    spark.conf.unset(key)
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id")(pairsOf(docs)))
  }

  test("ensurePairClusters: warm reuse requires the params tag too — a " +
    "pipeline change rebuilds even when the corpus did not move; the " +
    "append restores the meta; the path lock always releases") {
    val corpus = Tables.documents(spark, sf0001).filter(col("doc_id") < 150)
    val dir = java.nio.file.Files.createTempDirectory("graft_ens_tag").toString
    val key = s"graft.internal.pairClustersBuilt.$dir"
    def fp = Some(Dedup.corpusFingerprint(corpus, Seq("doc_id", "text")))
    def pairsOf(bands: Int) =
      Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleK = 2, numPerm = 32, bands = bands, threshold = 0.8)
        .select("id_a", "id_b")
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id", fp,
      paramsTag = "bands=8")(pairsOf(8)))
    // fresh process, unchanged corpus AND unchanged tag → warm reuse
    spark.conf.unset(key)
    assert(!Dedup.ensurePairClusters(spark, dir, "doc_id", fp,
      paramsTag = "bands=8")(
      throw new IllegalStateException("rebuilt despite matching meta")))
    // fresh process, unchanged corpus but CHANGED mining params → the
    // corpus fingerprint alone is blind to this; the tag forces a rebuild
    // (ADVICE r11: checked validity must cover pipeline identity)
    spark.conf.unset(key)
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id", fp,
      paramsTag = "bands=4")(pairsOf(4)))
    // an append that passes the same fingerprint+tag restores the meta,
    // so the NEXT fresh process warm-reuses and replays only the append
    Dedup.appendToPairClusters(spark, dir, "doc_id",
      Seq((1L, 2L)).toDF("id_a", "id_b"), fp, paramsTag = "bands=4")
    spark.conf.unset(key)
    assert(!Dedup.ensurePairClusters(spark, dir, "doc_id", fp,
      paramsTag = "bands=4")(
      throw new IllegalStateException("rebuilt despite restored meta")))
    // ...while an append under a DIFFERENT tag (another pipeline writing
    // to the same path) invalidates the warm path
    Dedup.appendToPairClusters(spark, dir, "doc_id",
      Seq((1L, 3L)).toDF("id_a", "id_b"), fp, paramsTag = "bands=2")
    spark.conf.unset(key)
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id", fp,
      paramsTag = "bands=4")(pairsOf(4)))
    // the cross-process lock file never outlives its critical section
    assert(!new java.io.File(s"$dir/.lock").exists(),
      "path lock must release after build/append")
  }

  test("appendToPairClusters: star-compressed batch merge equals the " +
    "full rebuild; replay appends nothing; crash window self-heals") {
    val docs = Tables.documents(spark, sf0001)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    def mine(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashNearDupPairs(d, "doc_id", "text",
        shingleK = 2, numPerm = 32, bands = 8, threshold = 0.8)
        .select("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    Dedup.ensurePairClusters(spark, dir, "doc_id")(mine(base))
    val newPairs = Dedup.nearDupMatches(batch, base, "doc_id", "text",
        shingleK = 2, numPerm = 32, bands = 8, threshold = 0.8)
      .select(col("__bid").as("id_a"), col("__cid").as("id_b"))
      .unionAll(mine(batch))
    val n1 = Dedup.appendToPairClusters(spark, dir, "doc_id", newPairs)
    assert(n1 > 0, "fixture must contain batch-touching pairs")
    val incremental = Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet
    // full rebuild over the whole corpus
    val full = Dedup.clusterNearDups(mine(docs))
      .as[(Long, Long)].collect().toSet
    assert(incremental == full && full.nonEmpty)
    // replay: nothing appended, clusters unchanged
    assert(Dedup.appendToPairClusters(spark, dir, "doc_id", newPairs) == 0L)
    assert(Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet == full)
    // crash window: pairs appended but clusters NOT rewritten — simulate
    // by rebuilding the base-only clusters over the already-merged pairs
    graft.io.IO.writeDir(
      Dedup.clusterNearDups(mine(base)), s"$dir/clusters")
    assert(Dedup.appendToPairClusters(spark, dir, "doc_id", newPairs) == 0L)
    assert(Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet == full,
      "replay after the crash window must re-merge the batch edges")
    // scored pair relations are rejected loudly (full-rebuild path only)
    val scoredDir = java.nio.file.Files
      .createTempDirectory("graft_incr_scored").toString
    Dedup.ensurePairClusters(spark, scoredDir, "doc_id")(
      Dedup.minhashNearDupPairs(base, "doc_id", "text",
        shingleK = 2, numPerm = 32, bands = 8, threshold = 0.8))
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToPairClusters(spark, scoredDir, "doc_id", newPairs)
    }
    assert(err.getMessage.contains("ids-only"))
  }

  test("deleteFromNearDupIndex: forgotten docs stop matching, survivors " +
    "unaffected — converges to a build over corpus-minus-forgotten") {
    val all = Tables.documents(spark, sf0001)
    val corpus = all.filter(col("doc_id") < 120)
    val gone = corpus.filter(col("doc_id") % 4 === 0).select("doc_id")
    val batch = all.filter(col("doc_id") >= 120 && col("doc_id") < 200)
    def probe(name: String) = Dedup.nearDupNewOnlyIndexed(batch, name,
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
      .select("doc_id").as[Long].collect().toSet
    val dirD = java.nio.file.Files.createTempDirectory("graft_nd_del").toString
    // (the bucket spec surviving the rewrite is pinned for every
    // bucketed family in IndexBucketSpecSpec)
    Dedup.buildNearDupIndex(corpus, "del_nd", dirD, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8, numBuckets = 8)
    Dedup.deleteFromNearDupIndex(spark, "del_nd", dirD, gone)
    // every trace of the forgotten ids is out of both tables
    assert(spark.table("del_nd_sig")
      .join(gone, Seq("doc_id"), "left_semi").count() == 0)
    assert(spark.table("del_nd_shingles")
      .join(gone, Seq("doc_id"), "left_semi").count() == 0)
    // ...and the index behaves exactly like one built without them
    val dirR = java.nio.file.Files.createTempDirectory("graft_nd_ref").toString
    Dedup.buildNearDupIndex(corpus.join(gone, Seq("doc_id"), "left_anti"),
      "del_nd_ref", dirR, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8)
    assert(probe("del_nd") == probe("del_nd_ref"))
    Seq("del_nd_sig", "del_nd_shingles", "del_nd_ref_sig",
      "del_nd_ref_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("deleteFromPairClusters: pairs touching forgotten ids leave, CC " +
    "recomputes (bridge removal splits), meta is invalidated") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pc_del").toString
    val corpus = Tables.documents(spark, sf0001).filter(col("doc_id") < 150)
    def fp = Some(Dedup.corpusFingerprint(corpus, Seq("doc_id", "text")))
    Dedup.ensurePairClusters(spark, dir, "doc_id", fp, paramsTag = "t")(
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b"))
    // forgetting the bridge node 2 splits {1,2,3}: 1 and 3 lose their
    // only connection and drop out of the pair relation entirely.
    // ids is a MULTI-column frame with the id NOT first — the delete
    // must key on idCol, not on whatever column happens to lead
    val removed = Dedup.deleteFromPairClusters(spark, dir, "doc_id",
      Seq(("full row", 2L)).toDF("text", "doc_id"))
    assert(removed == 2L)
    assert(Dedup.cachedPairs(spark, dir)
      .as[(Long, Long)].collect().toSet == Set((4L, 5L)))
    assert(Dedup.cachedClusters(spark, dir)
      .as[(Long, Long)].collect().toSet == Set((4L, 4L), (5L, 4L)))
    // meta was deleted (corpus changed): a fresh process must rebuild
    spark.conf.unset(s"graft.internal.pairClustersBuilt.$dir")
    assert(Dedup.ensurePairClusters(spark, dir, "doc_id", fp,
      paramsTag = "t")(Seq((1L, 2L)).toDF("id_a", "id_b")))
    // the path lock released through both operations
    assert(!new java.io.File(s"$dir/.lock").exists())
  }

  test("appendToNearDupIndex converges to the full build") {
    val docs = Tables.documents(spark, sf0001)
    val sliceA = docs.filter(col("doc_id") < 60)
    val sliceB = docs.filter(col("doc_id") >= 60 && col("doc_id") < 120)
    val batch = docs.filter(col("doc_id") >= 120 && col("doc_id") < 180)
    def probe(name: String) = Dedup.nearDupNewOnlyIndexed(batch, name,
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
      .select("doc_id").as[Long].collect().toSet
    val dirI = java.nio.file.Files.createTempDirectory("graft_ndi_inc").toString
    Dedup.buildNearDupIndex(sliceA, "ndi_inc", dirI, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8)
    Dedup.appendToNearDupIndex(spark, "ndi_inc", sliceB, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8)
    val dirF = java.nio.file.Files.createTempDirectory("graft_ndi_full").toString
    Dedup.buildNearDupIndex(sliceA.unionAll(sliceB), "ndi_full", dirF,
      "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8)
    assert(probe("ndi_inc") == probe("ndi_full"))
    // replay idempotence: re-appending an already-ingested slice (retry /
    // micro-batch re-delivery) must write NOTHING — same row counts, same
    // probe (duplicate index rows would duplicate candidates forever)
    val sizesBefore = (spark.table("ndi_inc_sig").count(),
      spark.table("ndi_inc_shingles").count())
    Dedup.appendToNearDupIndex(spark, "ndi_inc", sliceB, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8)
    assert((spark.table("ndi_inc_sig").count(),
      spark.table("ndi_inc_shingles").count()) == sizesBefore)
    assert(probe("ndi_inc") == probe("ndi_full"))
    // mid-sequence crash window: sig appended, shingles NOT (the operator
    // writes sig first) — recreate that state by rewriting the shingle
    // table without sliceB, then replay. The per-half guards must skip
    // the already-written sig rows and fill in the missing shingle rows.
    val shSansB = spark.table("ndi_inc_shingles")
      .join(sliceB.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    graft.io.IO.writeBucketed(shSansB, "ndi_inc_shingles",
      s"$dirI/shingles", Seq("doc_id"), 32)
    Dedup.appendToNearDupIndex(spark, "ndi_inc", sliceB, "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8)
    assert((spark.table("ndi_inc_sig").count(),
      spark.table("ndi_inc_shingles").count()) == sizesBefore)
    assert(probe("ndi_inc") == probe("ndi_full"))
    spark.sql("DROP TABLE ndi_inc_sig"); spark.sql("DROP TABLE ndi_inc_shingles")
    spark.sql("DROP TABLE ndi_full_sig"); spark.sql("DROP TABLE ndi_full_shingles")
  }

  test("skewSafeDistinctCount: NULLs skipped but all-NULL keys keep their group") {
    val df = Seq(
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(2L)), ("a", None),
      ("b", None) // all-NULL key: count(DISTINCT) semantics = (b, 0)
    ).toDF("k", "v")
    val got = graft.ops.Salting.skewSafeDistinctCount(df, Seq("k"), "v")
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 0L))
  }

  test("saltedSumCount equals the plain aggregation") {
    val ev = Tables.events(spark, sf0001)
    val salted = graft.ops.Salting.saltedSumCount(ev, Seq("event_type"), "value")
      .as[(String, Double, Long)].collect().toMap2
    val plain = ev.groupBy("event_type")
      .agg(sum(col("value")).as("s"), count(lit(1)).as("c"))
      .as[(String, Double, Long)].collect().toMap2
    assert(salted.keySet == plain.keySet)
    for (k <- plain.keySet) {
      val (ss, sc) = salted(k); val (ps, pc) = plain(k)
      assert(sc == pc)
      assert(math.abs(ss - ps) < 1e-6) // summation order differs
    }
  }

  test("skewReport: hand-computed hot-key shares, ratios, and the salt " +
    "knob; top-k ties break on the key; plans as TakeOrderedAndProject") {
    // 4 keys, 20 rows: hot=10, warm=6, two cold=2 each → mean 5
    val rows = Seq.fill(10)("hot") ++ Seq.fill(6)("warm") ++
      Seq.fill(2)("cold_a") ++ Seq.fill(2)("cold_b")
    val df = rows.toDF("k")
    val got = graft.ops.Salting.skewReport(df, "k", topK = 3)
    val s = got.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"), s)
    val r = got.as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      ("hot", 10L, 500000L, 200L, 2L),   // 10/20 rows, 2× the mean key
      ("warm", 6L, 300000L, 120L, 2L),   // ceil(6/5) = 2 salt buckets
      ("cold_a", 2L, 100000L, 40L, 1L))) // tie with cold_b → key asc
  }

  test("editDistancePairs finds exactly the ED-1 pairs (sub/ins/del), no ED-2") {
    val df = Seq("cat", "bat", "cart", "ca", "dog", "dig", "zebra", "cat")
      .toDF("s")
    val got = Dedup.editDistancePairs(df, "s")
      .as[(String, String)].collect().toSet
    // cat~bat substitution; cat~cart insertion; cat~ca deletion;
    // dog~dig substitution; bat~cart is ED-3; ca~bat ED-2; duplicate
    // "cat" collapses (no self-pair)
    assert(got == Set(("bat", "cat"), ("cart", "cat"), ("ca", "cat"),
      ("dig", "dog")))
  }

  test("editDistancePairs: empty and null strings don't blow up the key gen") {
    val df = Seq(Some(""), Some("a"), Some("ab"), None).toDF("s")
    val got = Dedup.editDistancePairs(df, "s")
      .as[(String, String)].collect().toSet
    // ""~"a" insertion, "a"~"ab" insertion; ""~"ab" is ED-2
    assert(got == Set(("", "a"), ("a", "ab")))
  }

  test("editDistancePairs property: equals naive all-pairs levenshtein on random vocab") {
    // the FastSS recall claim (every sub/ins/del pair meets at a shared
    // deletion key) proven against the quadratic reference on a seeded
    // random vocabulary over a tiny alphabet (dense ED-1 neighborhoods)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val vocab = Seq.fill(120)(
      (0 until 1 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(3)).toChar)
        .mkString).distinct
    val expected = (for {
      i <- vocab.indices; j <- vocab.indices if vocab(i) < vocab(j)
      if lev(vocab(i), vocab(j)) == 1
    } yield (vocab(i), vocab(j))).toSet
    val got = Dedup.editDistancePairs(vocab.toDF("s"), "s")
      .as[(String, String)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty) // the harness actually exercised something
  }

  test("chunkDedup keeps the first occurrence of a repeated chunk, drops the rest") {
    // 4-token docs, 2-token chunks: "a b" appears in docs 1, 2, 3 — only
    // doc 1 (lowest (id, idx)) keeps it; within-doc repeats also dedup
    val d = Seq(
      (1L, "a b c d"),      // chunks: "a b", "c d" — both first occurrences
      (2L, "a b e f"),      // "a b" dup'd away, "e f" kept
      (3L, "g h a b"),      // "a b" dup'd away, "g h" kept
      (4L, "c d c d")       // both chunks dup: "c d" first seen in doc 1
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(d, chunkTokens = 2)
      .select("doc_id", "n_chunks", "n_kept", "kept_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((2, 2, "a b c d")))
    assert(out(2L) == ((2, 1, "e f")))
    assert(out(3L) == ((2, 1, "g h")))
    assert(out(4L) == ((2, 0, ""))) // loses every chunk → empty text
  }

  test("chunkDedup: short tail chunk participates; empty doc drops out") {
    val d = Seq((1L, "a b c"), (2L, "c"), (3L, "  ")).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(d, chunkTokens = 2)
      .select("doc_id", "n_chunks", "n_kept", "kept_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((2, 2, "a b c"))) // tail chunk "c" is its own chunk
    assert(out(2L) == ((1, 0, "")))      // "c" already claimed by doc 1's tail
    assert(!out.contains(3L))            // blank doc chunks to nothing
  }

  test("boilerplateRemove deletes a >=minDocFreq chunk from EVERY doc, first included") {
    val d = Seq(
      (1L, "x y a b"), (2L, "x y c d"), (3L, "x y e f"), // "x y" in 3 docs
      (4L, "a b g h")                                    // "a b" in only 2
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateRemove(d, chunkTokens = 2, minDocFreq = 3)
      .select("doc_id", "n_chunks", "n_boiler", "clean_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((2, 1, "a b")))   // boilerplate gone from doc 1 too
    assert(out(2L) == ((2, 1, "c d")))
    assert(out(3L) == ((2, 1, "e f")))
    assert(out(4L) == ((2, 0, "a b g h"))) // below threshold → untouched
  }

  test("scrubBoilerplate: a non-distinct decision set does not multiply chunks") {
    // a snapshot unioned across refreshes carries duplicate (__h1,__h2)
    // rows — the join must treat the relation as a SET, not inflate
    // n_chunks/n_boiler or repeat tokens in clean_text
    val d = Seq(
      (1L, "x y a b"), (2L, "x y c d"), (3L, "x y e f")
    ).toDF("doc_id", "text")
    val set = Dedup.boilerplateChunkSet(d, chunkTokens = 2, minDocFreq = 3)
    val clean = Dedup.scrubBoilerplate(d, set, chunkTokens = 2)
      .select("doc_id", "n_chunks", "n_boiler", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSet
    val dup = Dedup.scrubBoilerplate(d, set.unionAll(set).unionAll(set),
      chunkTokens = 2)
      .select("doc_id", "n_chunks", "n_boiler", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSet
    assert(dup == clean && clean.nonEmpty)
    assert(clean.map(r => r._1 -> r._2).toMap.apply(1L) == 2) // not tripled
  }

  test("boilerplateChunkHashes: over-maxRows decision sets refuse to collect") {
    // 3 distinct chunks each shared by 2 docs → 3 decision pairs; a
    // 2-row cap must fail loudly (the unbounded-snapshot guard) while
    // the default cap returns all three
    val d = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "c d"), (4L, "c d"),
      (5L, "e f"), (6L, "e f")).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Dedup.boilerplateChunkHashes(d, chunkTokens = 2, minDocFreq = 2,
        maxRows = 2)
    }
    assert(ex.getMessage.contains("scrubBoilerplate"))
    assert(Dedup.boilerplateChunkHashes(d, chunkTokens = 2,
      minDocFreq = 2).length == 3)
  }

  test("boilerplateRemove: within-doc repeats count once toward doc frequency") {
    // "x y" repeats inside doc 1 but that is ONE document — countDistinct
    // must not let a single spammy doc promote its own content
    val d = Seq((1L, "x y x y"), (2L, "x y a b")).toDF("doc_id", "text")
    val out = Dedup.boilerplateRemove(d, chunkTokens = 2, minDocFreq = 3)
      .select("doc_id", "n_boiler").as[(Long, Int)].collect().toMap
    assert(out(1L) == 0 && out(2L) == 0)
  }

  test("duplicateSpans finds the maximal shared run with correct positions") {
    // docs 10/20 share "alpha beta gamma delta" at different offsets:
    // 4 shared tokens, k=3 → 2 consecutive grams on one diagonal
    val d = Seq(
      (10L, "alpha beta gamma delta unique1 unique2 unique3"),
      (20L, "pre1 pre2 alpha beta gamma delta post1"),
      (30L, "no overlap with anything else at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, k = 3, minRun = 2, maxOcc = 20)
      .select("doc_a", "doc_b", "start_a", "start_b", "n_grams", "run_tokens")
      .as[(Long, Long, Int, Int, Long, Long)].collect().toSeq
    assert(spans == Seq((10L, 20L, 1, 3, 2L, 4L)))
  }

  test("duplicateSpans splits disjoint shared runs into separate islands") {
    // same pair shares two runs separated by non-matching middles; the
    // second run sits on a DIFFERENT diagonal (offsets drift by one)
    val d = Seq(
      (1L, "r1a r1b r1c r1d x1 x2 r2a r2b r2c r2d y1"),
      (2L, "r1a r1b r1c r1d z1 r2a r2b r2c r2d z2 z3")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, k = 3, minRun = 2, maxOcc = 20)
      .select("start_a", "start_b", "n_grams")
      .as[(Int, Int, Long)].collect().toSeq.sorted
    assert(spans == Seq((1, 1, 2L), (7, 6, 2L)))
  }

  test("duplicateSpans drops grams over the occurrence cap (boilerplate)") {
    // "h1 h2 h3 h4" appears in 5 docs -> every gram occurs 5 times; with
    // maxOcc=4 the whole span family is capped out, with maxOcc=10 the
    // C(5,2)=10 pairs all surface
    val d = (1L to 5L).map(i => (i, s"h1 h2 h3 h4 tail$i")).toDF("doc_id", "text")
    val capped = Dedup.duplicateSpans(d, k = 3, minRun = 2, maxOcc = 4)
    assert(capped.count() == 0L)
    val full = Dedup.duplicateSpans(d, k = 3, minRun = 2, maxOcc = 10)
    assert(full.count() == 10L)
  }

  test("duplicateSpans is repartition-invariant and ignores short docs") {
    val d = Seq(
      (1L, "s1 s2 s3 s4 s5 a b c"),
      (2L, "s1 s2 s3 s4 s5 d e f"),
      (3L, "ab cd") // shorter than k: no grams, must not blow up
    ).toDF("doc_id", "text")
    val a = Dedup.duplicateSpans(d, k = 3, minRun = 2, maxOcc = 20)
      .collect().map(_.toSeq).toSet
    val b = Dedup.duplicateSpans(d.repartition(7), k = 3, minRun = 2, maxOcc = 20)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.map(r => (r.head, r(1))) == Set((1L, 2L)))
  }

  test("removeDuplicateSpans: lowest id keeps text, doc_b loses the span") {
    val d = Seq(
      (1L, "alpha beta gamma delta tail1 tail2"),
      (2L, "head1 alpha beta gamma delta tail3")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, k = 3, minRun = 2, maxOcc = 20)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Int, Int, String)].collect().toMap2Plus
    assert(out(1L) == (6, 0, "alpha beta gamma delta tail1 tail2"))
    assert(out(2L) == (6, 4, "head1 tail3"))
  }

  test("removeDuplicateSpans merges overlapping ranges from two partners") {
    // doc 3 shares [a b c d] with doc 1 and [c d e f] with doc 2 — its
    // covered ranges overlap on "c d" and must merge, removing 6 tokens
    // once, not 8 with a double-claimed middle
    val d = Seq(
      (1L, "a b c d x1 x2 x3"),
      (2L, "c d e f y1 y2 y3"),
      (3L, "a b c d e f z1")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, k = 3, minRun = 2, maxOcc = 20)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Int, Int, String)].collect().toMap2Plus
    assert(out(1L)._2 == 0 && out(2L)._2 == 0)
    assert(out(3L) == (7, 6, "z1"))
  }

  test("removeDuplicateSpans: identical docs scrub every copy but the first") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w5"),
      (3L, "w1 w2 w3 w4 w5")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, k = 3, minRun = 2, maxOcc = 20)
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Int, String)].collect().toMap2
    assert(out(1L) == (0, "w1 w2 w3 w4 w5"))
    assert(out(2L) == (5, ""))
    assert(out(3L) == (5, ""))
  }

  test("removeCorpusSpans scrubs batch-vs-corpus runs, never batch-batch") {
    val corpus = Seq(
      (100L, "c1 c2 c3 c4 cx cy")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "c1 c2 c3 c4 b1 b2"), // shares 4 tokens with corpus → scrubbed
      (2L, "s1 s2 s3 s4 q1 q2"), // shares with batch doc 3 ONLY → kept
      (3L, "s1 s2 s3 s4 r1 r2")
    ).toDF("doc_id", "text")
    val out = Dedup.removeCorpusSpans(batch, corpus, k = 3, minRun = 2,
      maxOcc = 20)
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Int, String)].collect().toMap2
    assert(out(1L) == (4, "b1 b2"))
    assert(out(2L) == (0, "s1 s2 s3 s4 q1 q2"))
    assert(out(3L) == (0, "s1 s2 s3 s4 r1 r2"))
    assert(!out.contains(100L), "corpus docs must not appear in the output")
  }

  test("containmentPairs: prefix doc found inside its container, asymmetric") {
    // doc 2 = first half of doc 1 → containment(2 in 1) = 1.0; the
    // reverse direction is well below threshold; doc 3 shares nothing
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e"),
      (3L, "x y z w v u t s r q")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((2L, 1L, 1.0)))
    // the documented recall property of single-min anchoring: at loose
    // thresholds a PARTIAL containment (1-in-2 is 3/8 = 0.375) is only
    // found if the anchor's min shingle survives into the intersection —
    // here doc 1's min hashes outside the shared prefix, so the pair is
    // (correctly, per the contract) absent while the FULL containment
    // (2-in-1, min guaranteed present) is always found
    val loose = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(loose.contains((2L, 1L, 1.0)))
    assert(!loose.contains((1L, 2L, 0.375)))
  }

  test("containmentCandidates: hot-shingle cap bounds the candidate set deterministically") {
    // 20 docs all sharing ONE degenerate shingle ("h h h") plus unique
    // tails: uncapped, that key alone yields 20×19 = 380 ordered
    // candidate pairs; with maxBucket = 3 both sides keep only the 3
    // smallest ids at the key, so candidates are exactly the ordered
    // pairs among ids 1..3 (anchorCount=4 anchors every shingle, and
    // the unique-tail keys only ever self-join)
    val docs = (1L to 20L)
      .map(i => (i, s"h h h u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
    val base = Dedup.containmentBase(docs, "doc_id", "text", k = 3)
    val capped = Dedup.containmentCandidates(base, anchorCount = 4,
      maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    val expected = (for { a <- 1L to 3L; b <- 1L to 3L if a != b }
      yield (a, b)).toSet
    assert(capped == expected, s"got $capped")
    val uncapped = Dedup.containmentCandidates(base, anchorCount = 4,
      maxBucket = 10000)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size == 380, s"got ${uncapped.size}")
  }

  test("containmentPairsIndexed equals the inline tier's batch-anchored direction") {
    // index over the corpus, probe with prefix-truncation batch docs:
    // the persisted tier must return exactly the (batch → corpus) pairs
    // the inline tier finds over the union
    val all = Tables.documents(spark, sf0001).select("doc_id", "text")
    val corpus = all.filter(col("doc_id") < 60)
    val toks = graft.functions.tokens(col("text"))
    val batch = corpus.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(toks, lit(1),
        greatest((size(toks) / 2).cast("int"), lit(1))), " ").as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_contidx_eq").toString
    val name = "cont_idx_eq_test"
    assert(Dedup.ensureContainmentIndex(corpus, name, dir, "doc_id", "text", k = 3))
    assert(!Dedup.ensureContainmentIndex(corpus, name, dir, "doc_id", "text", k = 3))
    try {
      val indexed = Dedup.containmentPairsIndexed(batch, name, "doc_id", "text",
        k = 3, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
      val inline = Dedup.containmentPairs(corpus.unionByName(batch),
        "doc_id", "text", k = 3, threshold = 0.5)
        .as[(Long, Long, Double)].collect()
        .filter { case (a, b, _) => a >= 1000000L && b < 1000000L }.toSet
      assert(indexed.nonEmpty)
      assert(indexed == inline,
        s"indexed-only: ${indexed -- inline}; inline-only: ${inline -- indexed}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${name}_keys")
      spark.sql(s"DROP TABLE IF EXISTS ${name}_shingles")
    }
  }

  test("containmentPairs property: exactRecallAnchors finds EVERY pair above threshold") {
    // random word-soup docs with engineered overlaps; brute-force
    // containment is the ground truth, and with j = exactRecallAnchors
    // every pair >= t must surface (pigeonhole guarantee)
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (1L to 20L).map { id =>
      val n = 8 + rnd.nextInt(12)
      val base = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      // every third doc embeds doc-1's word sequence → high containment
      val tks = if (id % 3 == 0 && id > 3)
        base.take(3) ++ Seq.fill(10)(vocab((id % 7).toInt)) else base
      (id, tks.mkString(" "))
    }.toDF("doc_id", "text")
    val t = 0.7
    def shingles(s: String): Set[String] =
      s.split(" ").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = docs.as[(Long, String)].collect().toMap.view
      .mapValues(shingles).filter(_._2.nonEmpty).toMap
    val truth = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      c = sa.count(sb.contains).toDouble / sa.size
      if math.rint(c * 1e6) / 1e6 >= t
    } yield (a, b)).toSet
    val maxN = sets.values.map(_.size).max
    val j = Dedup.exactRecallAnchors(t, maxN)
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
      threshold = t, anchorCount = j)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(got),
      s"missing pairs: ${truth -- got} (j=$j, maxN=$maxN)")
    assert(got == truth, s"extra pairs: ${got -- truth}")
  }

  test("crossSourceDuplicates counts distinct shared texts per source pair") {
    val df = Seq(
      ("web", "alpha"), ("web", "beta"), ("web", "beta"), // within-src dup
      ("books", "alpha"), ("books", "gamma"),
      ("code", "alpha"), ("code", "beta"),
      ("code", "delta")).toDF("source", "text")
    val got = Dedup.crossSourceDuplicates(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // alpha in all three; beta in web+code; within-source repeats don't
    // inflate, and pairs are canonical (source_a < source_b)
    assert(got == Map(
      ("books", "web") -> 1L,
      ("books", "code") -> 1L,
      ("code", "web") -> 2L))
  }

  test("thresholdSweep: per-cut pair/cluster/removal counts; empty cut is a zero row") {
    val pairs = Seq(
      (1L, 2L, 0.95), (2L, 3L, 0.92), (4L, 5L, 0.99)
    ).toDF("id_a", "id_b", "jaccard_sim")
    val got = Dedup.thresholdSweep(pairs, Seq(0.90, 0.94, 0.97, 1.0))
      .as[(Double, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0.90, 3L, 2L, 3L), // {1,2,3} + {4,5}
      (0.94, 2L, 2L, 2L), // {1,2} + {4,5}
      (0.97, 1L, 1L, 1L), // {4,5}
      (1.0, 0L, 0L, 0L))) // nothing clears the cut
  }

  test("generic fingerprint index: probe equals a brute-force key join, " +
    "append is replay-idempotent, delete converges to build-minus-" +
    "forgotten, index side reads in place") {
    // fingerprints: (id, k1, k2) where the key tuple repeats every 4 ids
    def fps(ids: Range) = ids.map(i =>
      (i.toLong, (i % 4).toLong, (i % 4) * 10L + 3)).toDF("id", "k1", "k2")
    val dir = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
    val keys = Seq("k1", "k2")
    Dedup.buildFingerprintIndex(fps(0 until 40), "t_fp_idx", dir, keys,
      "id", numBuckets = 8)
    def probe() = Dedup.probeFingerprintIndex(fps(100 until 120),
      "t_fp_idx", keys, "id").as[(Long, Long)].collect().toSet
    val got = probe()
    val brute = (for {
      b <- 100 until 120; c <- 0 until 40 if b % 4 == c % 4
    } yield (b.toLong, c.toLong)).toSet
    assert(got == brute && got.nonEmpty)
    // append joins new corpus rows in; replay writes nothing
    Dedup.appendToFingerprintIndex(spark, "t_fp_idx", fps(40 until 60),
      keys, "id")
    val afterAppend = probe()
    assert(afterAppend.size > got.size)
    val rows = spark.table("t_fp_idx_fp").count()
    Dedup.appendToFingerprintIndex(spark, "t_fp_idx", fps(40 until 60),
      keys, "id")
    assert(spark.table("t_fp_idx_fp").count() == rows)
    // delete: forgotten corpus ids stop matching (bucket spec: pinned
    // in IndexBucketSpecSpec)
    Dedup.deleteFromFingerprintIndex(spark, "t_fp_idx", dir,
      Seq(0L, 4L, 44L).toDF("id"), keys, "id")
    assert(probe() == afterAppend.filterNot(p => Set(0L, 4L, 44L)(p._2)))
    // scale shape: the probe's index side reads the bucketed table in
    // place (no exchange under the join)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = Dedup.probeFingerprintIndex(fps(100 until 120), "t_fp_idx",
        keys, "id")
      p.collect()
      val scans = p.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.bucketedScan), p.queryExecution.executedPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
    spark.sql("DROP TABLE IF EXISTS t_fp_idx_fp")
  }

  test("hash-set index lifecycle: probe ≡ inline pairs; marker-guarded " +
    "append closes the incremental loop idempotently") {
    import org.apache.spark.sql.functions._
    val rel = (0L until 300L).map { i =>
      // blocks of 3 share most of their hash set → within-block pairs
      val base = (i / 3) * 100L
      (i, Seq(base, base + 1, base + 2, base + 3, i % 3 + base + 10))
    }.toDF("id", "hs")
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_life").toString
    graft.ops.Dedup.buildHashSetIndex(rel.filter(col("id") < 200),
      "t_hsl_idx", dir, "id", "hs", numPerm = 32, bands = 16,
      numBuckets = 8)
    try {
      val batch = rel.filter(col("id") >= 200)
      val got = graft.ops.Dedup.hashSetMatchesIndexed(batch, "t_hsl_idx",
        "id", "hs", numPerm = 32, bands = 16, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // inline ground truth: exact jaccard ≥ 0.5 between batch and
      // corpus sets (sets here are small — brute force is the oracle)
      val sets = rel.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val expected = (for {
        b <- 200L until 300L; c <- 0L until 200L
        j = sets(b).intersect(sets(c)).size.toDouble /
          sets(b).union(sets(c)).size
        if j >= 0.5
      } yield (b, c)).toSet
      assert(got == expected, s"got=${got.size} want=${expected.size}")
      assert(got.nonEmpty)
      // append the batch; replay must add nothing; a fresh probe of the
      // batch now matches ITSELF in the index (j = 1 self-pairs appear)
      graft.ops.Dedup.appendToHashSetIndex(spark, "t_hsl_idx", batch,
        "id", "hs", numPerm = 32, bands = 16, numBuckets = 8)
      val n1 = spark.table("t_hsl_idx_shingles").count()
      graft.ops.Dedup.appendToHashSetIndex(spark, "t_hsl_idx", batch,
        "id", "hs", numPerm = 32, bands = 16, numBuckets = 8)
      assert(spark.table("t_hsl_idx_shingles").count() == n1)
      val self = graft.ops.Dedup.hashSetMatchesIndexed(batch, "t_hsl_idx",
        "id", "hs", numPerm = 32, bands = 16, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((200L until 300L).forall(b => self.contains((b, b))))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_hsl_idx_sig")
      spark.sql("DROP TABLE IF EXISTS t_hsl_idx_shingles")
    }
  }

  test("sorted_intersect_count codegen survives double evaluation in one " +
    "stage (freshName regression gate)") {
    // The r16 find: fixed local-variable names in doGenCode made any plan
    // that evaluates the expression twice in one codegen scope (the
    // jaccard value + a pushed-down threshold filter on it, i.e. EVERY
    // LSH verify join) fail Janino compilation and silently run the whole
    // stage interpreted. Gate on the log like MultimodalSpec's codec gate.
    val ctx = org.apache.logging.log4j.core.LoggerContext.getContext(false)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-sic-gate", null, null, false, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        events.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    val got = try {
      Seq((Array(1L, 2L, 3L), Array(2L, 3L, 4L)),
          (Array(1L, 2L), Array(3L, 4L)))
        .toDF("a", "b")
        // two evaluations of the SAME expression in one projection plus a
        // filter over it — the shape that used to redeclare `siNa`
        .select(graft.functions.sortedIntersectCount(col("a"), col("b"))
            .as("n"),
          (graft.functions.sortedIntersectCount(col("a"), col("b")) * 2)
            .as("n2"))
        .filter(col("n") >= 0)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    } finally {
      rootCfg.removeAppender("graft-sic-gate")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(got == Set((2, 4), (0, 0)))
    import scala.jdk.CollectionConverters._
    val bad = events.asScala.filter(m =>
      m.contains("Failed to compile") ||
        m.contains("falling back to interpreter"))
    assert(bad.isEmpty, s"codegen fallback:\n${bad.mkString("\n")}")
  }

  implicit class Tuple3Ops[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
  implicit class Tuple4Ops[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2Plus: Map[A, (B, C, D)] =
      rows.map(r => r._1 -> (r._2, r._3, r._4)).toMap
  }
}
