package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Maintenance, Similarity, TextAnalysis}

/** The auto-maintenance policy: fragmentation triggers run the compactor
  * (search/probe results bit-identical), quiet indexes are left alone,
  * and vector-index drift flags a rebuild instead of silently degrading.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_maint_$tag").toString

  test("IVF-PQ: fragmented appends trigger compaction, search unchanged; drifted cell flags rebuild") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val seed = emb.filter(col("vec_id") < 300)
    val cents = seed.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val codebook = seed
      .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
      .select((col("vec_id") / 37).cast("int").as("cid"),
        col("embedding").as("centroid"))
    val path = tmp("ivfpq")
    Similarity.buildIvfPqIndex(seed, cents, codebook, path, m = 4)
    // three appends fragment the touched cells
    Seq((300, 360), (360, 430), (430, 500)).foreach { case (lo, hi) =>
      Similarity.appendToIvfPqIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    def search() = Similarity
      .ivfPqTopKIndexed(spark, path, emb, queryId = 1L, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search()
    val r1 = Maintenance.maintainIvfPqIndex(spark, path,
      maxFilesPerCell = 1)
    assert(r1.compacted, s"expected compaction: $r1")
    assert(search() == before)
    // compacted layout is back under threshold → second pass is a no-op
    val r2 = Maintenance.maintainIvfPqIndex(spark, path,
      maxFilesPerCell = 1)
    assert(!r2.compacted && r2.files <= r2.fileThreshold, s"$r2")
    assert(!r2.rebuildRecommended)
    // drift: a pile of near-identical vectors all routing to one cell —
    // the frozen centroids can't rebalance, only a rebuild can
    val drifted = spark.range(10000L, 10600L)
      .select(col("id").as("vec_id"))
      .crossJoin(emb.filter(col("vec_id") === 1L).select(col("embedding")))
    Similarity.appendToIvfPqIndex(spark, path, drifted)
    val r3 = Maintenance.maintainIvfPqIndex(spark, path,
      maxFilesPerCell = 100, maxSkewRatio = 2.0)
    assert(r3.rebuildRecommended && r3.maxCellRatio > 2.0, s"$r3")
  }

  test("kNN graph: fragmented vectors dir compacts, pairs unchanged") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = tmp("knng")
    Similarity.buildKnnGraphIndex(emb.filter(col("vec_id") < 300),
      k = 5, path)
    Seq((300, 400), (400, 500)).foreach { case (lo, hi) =>
      Similarity.appendToKnnGraphIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    def pairs() = Similarity.mutualKnnPairsIndexed(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    val quiet = Maintenance.maintainKnnGraphIndex(spark, path,
      maxFiles = 10000)
    assert(!quiet.compacted)
    val r = Maintenance.maintainKnnGraphIndex(spark, path, maxFiles = 2)
    assert(r.compacted && r.files > r.fileThreshold, s"$r")
    assert(pairs() == before && before.nonEmpty)
  }

  test("BM25: over-threshold generations compact, quiet index untouched, search unchanged") {
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("bm25")
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") < 250),
      "maint_bm25", path, numBuckets = 8)
    Seq((250, 380), (380, 500)).foreach { case (lo, hi) =>
      TextAnalysis.appendToBm25Index(spark, "maint_bm25", path,
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        numBuckets = 8)
    }
    def search() = TextAnalysis.bm25SearchIndexed(spark, "maint_bm25",
      Seq("dup", "vector"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search()
    val quiet = Maintenance.maintainBm25Index(spark, "maint_bm25", path,
      numBuckets = 8, maxGenerations = 5)
    assert(!quiet.compacted) // 3 generations < 5 → leave it alone
    val r = Maintenance.maintainBm25Index(spark, "maint_bm25", path,
      numBuckets = 8, maxGenerations = 2)
    assert(r.compacted && r.files > r.fileThreshold, s"$r")
    assert(search() == before)
    spark.sql("DROP TABLE IF EXISTS maint_bm25_postings")
    spark.sql("DROP TABLE IF EXISTS maint_bm25_docstats")
    spark.sql("DROP TABLE IF EXISTS maint_bm25_meta")
  }

  test("near-dup + contamination: append generations compact, probes unchanged") {
    val docs = Tables.documents(spark, sf0001)
    val ndPath = tmp("nd")
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 200), "maint_nd",
      ndPath, "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
      numBuckets = 8)
    Seq((200, 300), (300, 400)).foreach { case (lo, hi) =>
      Dedup.appendToNearDupIndex(spark, "maint_nd",
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
        numBuckets = 8)
    }
    def probe() = Dedup.nearDupNewOnlyIndexed(
      docs.filter(col("doc_id") >= 400), "maint_nd", "doc_id", "text",
      shingleK = 2, numPerm = 32, bands = 8)
      .select("doc_id").as[Long].collect().toSet
    val ndBefore = probe()
    val nd = Maintenance.maintainNearDupIndex(spark, "maint_nd", ndPath,
      numBuckets = 8, maxGenerations = 2)
    assert(nd.compacted, s"$nd")
    assert(probe() == ndBefore)

    val ctPath = tmp("ct") + "/fps"
    TextAnalysis.buildContaminationIndex(docs.filter(col("doc_id") < 200),
      "maint_ct", ctPath, k = 5, w = 8,
      shingleHash = graft.functions.md5Hash31(_), numBuckets = 8)
    Seq((200, 300), (300, 400)).foreach { case (lo, hi) =>
      TextAnalysis.appendToContaminationIndex(spark, "maint_ct",
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        k = 5, w = 8, shingleHash = graft.functions.md5Hash31(_),
        numBuckets = 8)
    }
    def flags() = TextAnalysis.contaminationFlagsIndexed(
      docs.filter(col("doc_id") >= 400), "maint_ct", k = 5, w = 8,
      shingleHash = graft.functions.md5Hash31(_))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ctBefore = flags()
    val ct = Maintenance.maintainContaminationIndex(spark, "maint_ct",
      ctPath, numBuckets = 8, maxGenerations = 2)
    assert(ct.compacted, s"$ct")
    assert(flags() == ctBefore)
    Seq("maint_nd_sig", "maint_nd_shingles", "maint_ct")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("near-dup index append crash windows: the pending marker rolls " +
    "every partial-append state back to the exact pre-append bytes") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("ndcrash")
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 200), "crash_nd",
      path, "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
      numBuckets = 8)
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = new Path(root, "_append_pending")
      def files(half: String): Set[String] =
        fs.listStatus(new Path(root, half)).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      def sigIds(): Set[Long] = spark.table("crash_nd_sig")
        .select("doc_id").distinct().as[Long].collect().toSet
      def writeMarker(sig: Set[String], sh: Set[String]): Unit =
        graft.io.IO.writeDir(
          (sig.toSeq.sorted.map(("sig", _)) ++
            sh.toSeq.sorted.map(("shingles", _)))
            .toDF("half", "file_name"), pending.toString)
      val l0sig = files("sig"); val l0sh = files("shingles")
      val s0 = sigIds()
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)

      // committed append: marker must be gone, ids grown
      Dedup.appendToNearDupIndex(spark, "crash_nd", batch, "doc_id",
        "text", shingleK = 2, numPerm = 32, bands = 8, numBuckets = 8)
      assert(!fs.exists(pending), "commit must clear the marker")
      val s1 = sigIds()
      assert(s0.subsetOf(s1) && s1.size > s0.size)

      // (a) crash BETWEEN halves — the silent-miss state replay-
      // idempotence alone cannot repair without redelivery: sig holds
      // the batch, shingles doesn't, marker still pending
      files("shingles").diff(l0sh).foreach(f =>
        fs.delete(new Path(root, s"shingles/$f"), false))
      spark.catalog.refreshTable("crash_nd_shingles")
      writeMarker(l0sig, l0sh)
      assert(Dedup.recoverNearDupIndex(spark, "crash_nd"))
      assert(files("sig") == l0sig && files("shingles") == l0sh,
        "rollback must reconverge both halves to the pre-append files")
      assert(sigIds() == s0)
      assert(!fs.exists(pending))

      // (b) the replayed append completes and re-reaches the committed
      // state (ids; file names differ across write jobs)
      Dedup.appendToNearDupIndex(spark, "crash_nd", batch, "doc_id",
        "text", shingleK = 2, numPerm = 32, bands = 8, numBuckets = 8)
      assert(sigIds() == s1)
      val l1sig = files("sig"); val l1sh = files("shingles")

      // (c) crash BEFORE any write: marker present, nothing extra —
      // recovery acts (marker consumed), state untouched
      writeMarker(l1sig, l1sh)
      assert(Dedup.recoverNearDupIndex(spark, "crash_nd"))
      assert(files("sig") == l1sig && files("shingles") == l1sh)

      // (d) torn marker (crash during the marker write itself): no
      // listing → no append ever started → marker just drops
      fs.mkdirs(pending)
      assert(!Dedup.recoverNearDupIndex(spark, "crash_nd"))
      assert(!fs.exists(pending))

      // (e) crash AFTER both halves but before commit, then the WRITER
      // path itself recovers: append batch2, fake the un-cleared
      // marker, and let the next appendToNearDupIndex's entry recovery
      // discard + its own body re-append — net state = one clean append
      val batch2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      Dedup.appendToNearDupIndex(spark, "crash_nd", batch2, "doc_id",
        "text", shingleK = 2, numPerm = 32, bands = 8, numBuckets = 8)
      val s2 = sigIds()
      writeMarker(l1sig, l1sh) // as if the commit delete never ran
      Dedup.appendToNearDupIndex(spark, "crash_nd", batch2, "doc_id",
        "text", shingleK = 2, numPerm = 32, bands = 8, numBuckets = 8)
      assert(sigIds() == s2)
      assert(!fs.exists(pending))
    } finally {
      Seq("crash_nd_sig", "crash_nd_shingles")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bm25 index append crash window: marker rollback prevents the " +
    "replay postings-duplication and rebuilds the meta") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("bm25crash")
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") < 300),
      "crash_bm", path, numBuckets = 8)
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(d: String): Set[String] =
        fs.listStatus(new Path(root, d)).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      def search() = TextAnalysis.bm25SearchIndexed(spark, "crash_bm",
        Seq("table", "scan", "vector"), topK = 10)
        .collect().map(_.toSeq).toSeq
      def postingsCount() = spark.table("crash_bm_postings").count()
      val p0 = search(); val l0p = files("postings"); val l0d = files("docstats")
      val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      TextAnalysis.appendToBm25Index(spark, "crash_bm", path, batch,
        numBuckets = 8)
      val p1 = search(); val n1 = postingsCount()
      assert(p1 != p0)
      // fabricate the worst window: postings appended, docstats NOT,
      // meta stale, marker still pending — the state whose naive replay
      // would append the batch's postings a SECOND time (the guard
      // anti-joins docstats, which never saw the batch)
      files("docstats").diff(l0d).foreach(f =>
        fs.delete(new Path(root, s"docstats/$f"), false))
      spark.catalog.refreshTable("crash_bm_docstats")
      graft.io.IO.writeDir(
        (l0p.toSeq.sorted.map(("postings", _)) ++
          l0d.toSeq.sorted.map(("docstats", _)))
          .toDF("half", "file_name"),
        s"$path/${graft.ops.IndexCommit.MarkerDir}")
      // the next WRITER call recovers then appends: net = one clean
      // append — postings count equals the clean-append count (no
      // duplicates), search and meta equal the committed state
      TextAnalysis.appendToBm25Index(spark, "crash_bm", path, batch,
        numBuckets = 8)
      assert(postingsCount() == n1,
        "crashed-then-replayed append must not duplicate postings")
      assert(search() == p1)
      val meta = spark.table("crash_bm_meta").head()
      val expectDocs = spark.table("crash_bm_docstats").count()
      assert(meta.getLong(0) == expectDocs)
    } finally {
      Seq("crash_bm_postings", "crash_bm_docstats", "crash_bm_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  /** The pending marker a crashed mutation leaves: the pre-mutation
    * data-file listing of each participating directory.
    */
  private def writeCrashMarker(root: String,
                               listing: Seq[(String, Set[String])]): Unit =
    graft.io.IO.writeDir(
      listing.flatMap { case (d, fs) => fs.toSeq.sorted.map((d, _)) }
        .toDF("half", "file_name"),
      s"$root/${graft.ops.IndexCommit.MarkerDir}")

  private def dataFiles(root: String, d: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root, d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
  }

  /** Roll one directory back to `keep` by hand — the half of a crashed
    * append that never landed.
    */
  private def dropNewFiles(root: String, d: String, keep: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataFiles(root, d).diff(keep).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(p, f), false))
  }

  test("near-dup index crash window, then compact and delete: every " +
    "writer entry recovers first and the replay re-reaches the " +
    "committed state") {
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("ndcrash_rw")
    def append(b: org.apache.spark.sql.DataFrame) =
      Dedup.appendToNearDupIndex(spark, "crw_nd", b, "doc_id", "text",
        shingleK = 2, numPerm = 32, bands = 8, numBuckets = 8)
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 200), "crw_nd",
      path, "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
      numBuckets = 8)
    try {
      def state() = (spark.table("crw_nd_sig").count(),
        spark.table("crw_nd_shingles").count(),
        Dedup.nearDupNewOnlyIndexed(docs.filter(col("doc_id") >= 300),
          "crw_nd", "doc_id", "text", shingleK = 2, numPerm = 32,
          bands = 8).select("doc_id").as[Long].collect().toSet)
      val l0 = Seq("sig", "shingles").map(d => d -> dataFiles(path, d))
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      append(batch)
      val committed = state()
      // crash between halves: sig holds the batch, shingles doesn't
      dropNewFiles(path, "shingles", l0(1)._2)
      spark.catalog.refreshTable("crw_nd_shingles")
      writeCrashMarker(path, l0)
      Dedup.compactNearDupIndex(spark, "crw_nd", path, "doc_id", 8)
      Dedup.deleteFromNearDupIndex(spark, "crw_nd", path,
        batch.select("doc_id").limit(5), numBuckets = 8)
      append(batch) // the replay
      assert(state() == committed)
    } finally {
      Seq("crw_nd_sig", "crw_nd_shingles", "crw_nd_params")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bm25 index crash window, then compact and delete: every writer " +
    "entry recovers first, so the replay re-reaches the committed " +
    "postings, docstats, search results and meta") {
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("bm25crash_rw")
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") < 300),
      "crw_bm", path, numBuckets = 8)
    try {
      def state() = (spark.table("crw_bm_postings").count(),
        spark.table("crw_bm_docstats").count(),
        TextAnalysis.bm25SearchIndexed(spark, "crw_bm",
          Seq("table", "scan", "vector"), topK = 10).collect().toSeq,
        spark.table("crw_bm_meta").collect().toSeq)
      val l0 = Seq("postings", "docstats").map(d => d -> dataFiles(path, d))
      val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      TextAnalysis.appendToBm25Index(spark, "crw_bm", path, batch,
        numBuckets = 8)
      val committed = state()
      // crash between halves: postings appended, docstats not, meta stale
      dropNewFiles(path, "docstats", l0(1)._2)
      spark.catalog.refreshTable("crw_bm_docstats")
      writeCrashMarker(path, l0)
      TextAnalysis.compactBm25Index(spark, "crw_bm", path, numBuckets = 8)
      TextAnalysis.deleteFromBm25Index(spark, "crw_bm", path,
        batch.select("doc_id").as[Long].collect().take(5).toSeq,
        numBuckets = 8)
      TextAnalysis.appendToBm25Index(spark, "crw_bm", path, batch,
        numBuckets = 8) // the replay
      assert(state() == committed)
    } finally {
      Seq("crw_bm_postings", "crw_bm_docstats", "crw_bm_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("binary-quant index crash window, then compact and delete: every " +
    "writer entry recovers first and the replay re-reaches the " +
    "committed state") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = tmp("binq_crash_rw")
    Similarity.buildBinaryQuantIndex(emb.filter(col("vec_id") < 300), path)
    def state() = (spark.read.parquet(s"$path/vectors").count(),
      spark.read.parquet(s"$path/codes").collect().toSet,
      Similarity.binaryQuantTopKIndexed(spark, path,
        emb.filter(col("vec_id") % 101 === 0), shortlist = 40, k = 10)
        .collect().toSet)
    val l0 = Seq("vectors", "codes").map(d => d -> dataFiles(path, d))
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    Similarity.appendToBinaryQuantIndex(spark, path, batch)
    val committed = state()
    // crash between halves: vectors hold the batch, codes don't
    dropNewFiles(path, "codes", l0(1)._2)
    writeCrashMarker(path, l0)
    Maintenance.maintainBinaryQuantIndex(spark, path, maxFiles = 1)
    Similarity.deleteFromBinaryQuantIndex(spark, path,
      batch.select("vec_id").limit(5))
    Similarity.appendToBinaryQuantIndex(spark, path, batch)
    assert(state() == committed)
  }

  test("binary-quant: fragmented tables compact, search unchanged, quiet untouched") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = tmp("binq")
    Similarity.buildBinaryQuantIndex(emb.filter(col("vec_id") < 300), path)
    Seq((300, 400), (400, 500)).foreach { case (lo, hi) =>
      Similarity.appendToBinaryQuantIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    def search() = Similarity.binaryQuantTopKIndexed(spark, path,
        emb.filter(col("vec_id") % 101 === 0), shortlist = 40, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = search()
    val quiet = Maintenance.maintainBinaryQuantIndex(spark, path,
      maxFiles = 10000)
    assert(!quiet.compacted)
    val r = Maintenance.maintainBinaryQuantIndex(spark, path, maxFiles = 2)
    assert(r.compacted && r.files > r.fileThreshold, s"$r")
    assert(search() == before && before.nonEmpty)
  }

  test("missing / not-yet-built index: maintenance is a graceful no-op") {
    // a sweep over a partially-built index set must skip absent members
    // instead of throwing from spark.read on the missing dir
    val ghost = tmp("ghost") + "/never_built"
    val pq = Maintenance.maintainIvfPqIndex(spark, ghost)
    assert(!pq.compacted && !pq.rebuildRecommended && pq.files == 0L, s"$pq")
    val ivf = Maintenance.maintainIvfIndex(spark, ghost)
    assert(!ivf.compacted && !ivf.rebuildRecommended && ivf.files == 0L, s"$ivf")
    val kg = Maintenance.maintainKnnGraphIndex(spark, ghost)
    assert(!kg.compacted && kg.files == 0L, s"$kg")
    val bq = Maintenance.maintainBinaryQuantIndex(spark, ghost)
    assert(!bq.compacted && bq.files == 0L, s"$bq")
  }

  test("binary-quant: HALF-built index (vectors fragmented, codes absent " +
    "after a crash between appends) compacts what exists, no throw") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val path = tmp("binq_half")
    Similarity.buildBinaryQuantIndex(emb.filter(col("vec_id") < 300), path)
    Seq((300, 400), (400, 500)).foreach { case (lo, hi) =>
      Similarity.appendToBinaryQuantIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    // simulate the crash window: codes dir vanishes, vectors stays
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes"), true)
    val r = Maintenance.maintainBinaryQuantIndex(spark, path, maxFiles = 2)
    assert(r.compacted, s"$r") // vectors side compacted
    assert(spark.read.parquet(s"$path/vectors").count() == 500)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codes")))
  }

  test("z-order layout: appends degrade the clustering, the sweep " +
    "re-clusters past the byte threshold, content held, skip restored") {
    import graft.ops.Layout
    val dir = s"${tmp("zmaint")}/t"
    // managed clustered write of a 16×16 grid, then a SHUFFLED full-range
    // append — the appended file spans the whole z-domain, so every
    // selective footer check has to touch it
    val grid = (for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    Layout.writeZOrderedManaged(grid, Seq("x", "y"), dir, numFiles = 8,
      bits = 4)
    val r0 = Maintenance.maintainZOrderedTable(spark, dir, Seq("x", "y"),
      maxUnclusteredPpm = 100000L, numFiles = 8, bits = 4)
    assert(!r0.rewritten && r0.unclusteredPpm == 0L, s"$r0")
    grid.orderBy(org.apache.spark.sql.functions.hash(col("x"), col("y")))
      .coalesce(1).write.mode("append").parquet(dir)
    def spanTouched(): Int = {
      val files = Layout.dataFiles(spark, dir)
      files.count { f =>
        val m = spark.read.parquet(f.getPath.toString)
          .agg(min("x"), max("x")).head()
        m.getLong(0) <= 3 && m.getLong(1) >= 3 // file's x-span covers x=3
      }
    }
    assert(spanTouched() >= 1, "appended full-span file must be visible")
    val r1 = Maintenance.maintainZOrderedTable(spark, dir, Seq("x", "y"),
      maxUnclusteredPpm = 100000L, numFiles = 8, bits = 4)
    assert(r1.rewritten && r1.unclusteredPpm > 100000L, s"$r1")
    // content held through the rewrite: the appended rows are KEPT (the
    // table now has each grid point twice), just re-clustered
    val out = spark.read.parquet(dir)
    assert(out.count() == 512 && out.distinct().count() == 256)
    // quiet after the sweep: everything is in the manifest again
    val r2 = Maintenance.maintainZOrderedTable(spark, dir, Seq("x", "y"),
      maxUnclusteredPpm = 100000L, numFiles = 8, bits = 4)
    assert(!r2.rewritten && r2.unclusteredPpm == 0L, s"$r2")
  }

  test("z-order layout crash windows: an uncommitted stage discards " +
    "(even when complete — it may be stale), a committed swap replays " +
    "from the durable manifest deleting only its consumed sources — " +
    "rows appended between a crash and the recovery sweep survive " +
    "every path") {
    import graft.ops.Layout
    val fsConf = spark.sparkContext.hadoopConfiguration
    val grid = (for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong)).toDF("x", "y")

    // (a) incomplete stage (no _SUCCESS): discarded, source intact
    val dirA = s"${tmp("zcrashA")}/t"
    Layout.writeZOrderedManaged(grid, Seq("x", "y"), dirA, 8, 4)
    val tmpA = new org.apache.hadoop.fs.Path(s"$dirA/_rewrite_tmp")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dirA), fsConf)
    fs.mkdirs(tmpA)
    fs.create(new org.apache.hadoop.fs.Path(tmpA, "part-junk.parquet"),
      true).close()
    val ra = Maintenance.maintainZOrderedTable(spark, dirA, Seq("x", "y"),
      200000L, 8, 4)
    assert(!fs.exists(tmpA) && !ra.rewritten)
    assert(spark.read.parquet(dirA).count() == 256)

    // (b) complete stage (has _SUCCESS) but manifest never committed,
    // and the writer APPENDS between the crash and the next sweep: the
    // stage's snapshot does not cover the append, so completing it would
    // lose those rows — recovery must DISCARD the stage instead
    val dirB = s"${tmp("zcrashB")}/t"
    Layout.writeZOrderedManaged(grid, Seq("x", "y"), dirB, 8, 4)
    grid.limit(64).coalesce(1).write.mode("append").parquet(dirB)
    Layout.writeZOrderedN(spark.read.parquet(dirB), Seq("x", "y"),
      s"$dirB/_rewrite_tmp", 8, 4) // staged (has _SUCCESS), then "crash"
    grid.limit(32).coalesce(1).write.mode("append").parquet(dirB)
    val rb = Maintenance.maintainZOrderedTable(spark, dirB, Seq("x", "y"),
      200000L, 8, 4)
    val outB = spark.read.parquet(dirB)
    assert(outB.count() == 352,
      s"post-crash append must survive stage recovery: $rb")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dirB/_rewrite_tmp")))
    // the discarded stage's staleness re-triggered the rewrite (the
    // appends' byte share is over threshold), so the layout is quiet now
    assert(!Maintenance.maintainZOrderedTable(spark, dirB, Seq("x", "y"),
      200000L, 8, 4).rewritten)
    assert(spark.read.parquet(dirB).count() == 352)

    // (c) mid-swap crash (manifest + _sources committed, one staged file
    // already moved) with a post-crash append: replay converges from the
    // manifest, deletes ONLY the consumed sources, keeps the append
    val dirC = s"${tmp("zcrashC")}/t"
    Layout.writeZOrderedManaged(grid, Seq("x", "y"), dirC, 8, 4)
    grid.limit(64).coalesce(1).write.mode("append").parquet(dirC)
    val tmpC = new org.apache.hadoop.fs.Path(s"$dirC/_rewrite_tmp")
    val sourcesC = Layout.dataFiles(spark, dirC).map(_.getPath.getName)
    Layout.writeZOrderedN(spark.read.parquet(dirC), Seq("x", "y"),
      tmpC.toString, 8, 4)
    // phases 1b+2 by hand: _sources + manifest := staged names + marker,
    // then move ONE file and "crash"
    graft.io.IO.writeDir(sourcesC.sorted.toDF("file_name"),
      new org.apache.hadoop.fs.Path(tmpC, "_sources").toString)
    val staged = fs.listStatus(tmpC)
      .filter(_.getPath.getName.endsWith(".parquet"))
    graft.io.IO.writeDir(
      staged.map(_.getPath.getName).sorted.toSeq.toDF("file_name"),
      Layout.zorderManifestPath(dirC))
    fs.create(new org.apache.hadoop.fs.Path(tmpC, "_MANIFEST_COMMITTED"),
      true).close()
    fs.rename(staged.head.getPath,
      new org.apache.hadoop.fs.Path(dirC, staged.head.getPath.getName))
    grid.limit(32).coalesce(1).write.mode("append").parquet(dirC)
    val rc = Maintenance.maintainZOrderedTable(spark, dirC, Seq("x", "y"),
      1000000L, 8, 4) // threshold high: isolate the replay from a rewrite
    assert(spark.read.parquet(dirC).count() == 352,
      s"mid-swap replay must keep staged rows AND the post-crash append: $rc")
    assert(!fs.exists(tmpC))

    // (d) legacy committed stage (no _sources): falls back to the old
    // snapshot-consumed-everything semantics and still converges
    val dirD = s"${tmp("zcrashD")}/t"
    Layout.writeZOrderedManaged(grid, Seq("x", "y"), dirD, 8, 4)
    grid.limit(64).coalesce(1).write.mode("append").parquet(dirD)
    val tmpD = new org.apache.hadoop.fs.Path(s"$dirD/_rewrite_tmp")
    Layout.writeZOrderedN(spark.read.parquet(dirD), Seq("x", "y"),
      tmpD.toString, 8, 4)
    val stagedD = fs.listStatus(tmpD)
      .filter(_.getPath.getName.endsWith(".parquet"))
    graft.io.IO.writeDir(
      stagedD.map(_.getPath.getName).sorted.toSeq.toDF("file_name"),
      Layout.zorderManifestPath(dirD))
    fs.create(new org.apache.hadoop.fs.Path(tmpD, "_MANIFEST_COMMITTED"),
      true).close()
    val rd = Maintenance.maintainZOrderedTable(spark, dirD, Seq("x", "y"),
      1000000L, 8, 4)
    assert(spark.read.parquet(dirD).count() == 320,
      s"legacy committed stage must still replay losslessly: $rd")
    assert(!fs.exists(tmpD))
  }

  test("z-order GDPR delete: forgotten ids leave clustered AND unclustered " +
    "files, result equals a fresh managed write over the survivors, " +
    "an uncommitted delete stage discards (retry contract)") {
    import graft.ops.Layout
    val base = (for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong)).toDF("x", "y")
      .select(col("x"), col("y"), (col("x") * 1000 + col("y")).as("rid"))
    val dir = s"${tmp("zdel")}/t"
    Layout.writeZOrderedManaged(base, Seq("x", "y"), dir, 8, 4) // 256 rows
    // unclustered append that ALSO carries forgotten rows (x<2 ⊂ x<4)
    base.filter(col("x") < 4).coalesce(1).write.mode("append").parquet(dir)
    val gone = base.filter(col("x") < 2).select("rid") // 32 distinct rids
    val removed = Maintenance.deleteFromZOrderedTable(spark, dir,
      Seq("x", "y"), gone, "rid", 8, 4)
    // 32 clustered + 32 appended copies of the forgotten rids
    assert(removed == 64L, s"removed=$removed")
    val out = spark.read.parquet(dir)
    assert(out.filter(col("x") < 2).count() == 0, "forgotten rows remain")
    assert(out.count() == 320 - 64)
    // fully clustered again: the sweep right after is quiet
    assert(!Maintenance.maintainZOrderedTable(spark, dir, Seq("x", "y"),
      200000L, 8, 4).rewritten)
    // equivalence with a fresh managed write over the survivors
    val refDir = s"${tmp("zdelref")}/t"
    Layout.writeZOrderedManaged(out, Seq("x", "y"), refDir, 8, 4)
    assert(spark.read.parquet(refDir).orderBy("rid", "y").collect()
      .toSeq == out.orderBy("rid", "y").collect().toSeq)
    // crash window: a delete stage without the committed marker discards
    // — the table is unchanged and the delete simply has not happened
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val tmpP = new org.apache.hadoop.fs.Path(s"$dir/_rewrite_tmp")
    Layout.writeZOrderedN(out.filter(col("x") >= 8), Seq("x", "y"),
      tmpP.toString, 8, 4) // staged partial delete, then "crash"
    val rows = out.count()
    val r = Maintenance.maintainZOrderedTable(spark, dir, Seq("x", "y"),
      1000000L, 8, 4)
    assert(!fs.exists(tmpP) && spark.read.parquet(dir).count() == rows,
      s"uncommitted delete stage must discard: $r")
  }

  test("LSH index params persist at build and mismatched probe/append " +
    "fails fast (silently-wrong band buckets are unreachable)") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 200)
    // hash-set family: any array<long> rendering works as the set
    val sets = docs.select(col("doc_id"), array(
      col("doc_id") % 7, col("doc_id") % 11 + 100,
      col("doc_id") % 13 + 200).as("hs"))
    val hsPath = tmp("hsparams")
    Dedup.buildHashSetIndex(sets, "params_hs", hsPath, "doc_id", "hs",
      numPerm = 32, bands = 8, numBuckets = 4)
    try {
      // matching params probe: runs (content is irrelevant here)
      Dedup.hashSetMatchesIndexed(sets.limit(5), "params_hs", "doc_id",
        "hs", numPerm = 32, bands = 8).count()
      // the exact ADVICE scenario: a caller relying on the (64, 16)
      // defaults against a differently-built index must ERROR, not
      // return empty/bogus candidate sets
      val eProbe = intercept[IllegalArgumentException] {
        Dedup.hashSetMatchesIndexed(sets.limit(5), "params_hs",
          "doc_id", "hs").count()
      }
      assert(eProbe.getMessage.contains("hash family"), eProbe.getMessage)
      val eApp = intercept[IllegalArgumentException] {
        Dedup.appendToHashSetIndex(spark, "params_hs", sets, "doc_id",
          "hs", numPerm = 64, bands = 8, numBuckets = 4)
      }
      assert(eApp.getMessage.contains("built with"), eApp.getMessage)
      // text family shares the discipline (shingleK validated too)
      val tdPath = tmp("ndparams")
      Dedup.buildNearDupIndex(docs, "params_nd", tdPath, "doc_id",
        "text", shingleK = 2, numPerm = 32, bands = 8, numBuckets = 4)
      Dedup.nearDupMatchesIndexed(docs.limit(5), "params_nd", "doc_id",
        "text", shingleK = 2, numPerm = 32, bands = 8).count()
      val eTxt = intercept[IllegalArgumentException] {
        Dedup.nearDupMatchesIndexed(docs.limit(5), "params_nd",
          "doc_id", "text", shingleK = 3, numPerm = 32, bands = 8)
          .count()
      }
      assert(eTxt.getMessage.contains("shingleK"), eTxt.getMessage)
    } finally {
      Seq("params_hs_sig", "params_hs_shingles", "params_hs_params",
        "params_nd_sig", "params_nd_shingles", "params_nd_params")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("partially-committed marker (no _SUCCESS) is torn: recovery " +
    "drops it WITHOUT rollback — committed index files survive") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("tornmk")
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 200), "torn_nd",
      path, "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
      numBuckets = 4)
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(half: String): Set[String] =
        fs.listStatus(new Path(root, half)).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      val l0sig = files("sig"); val l0sh = files("shingles")
      Dedup.appendToNearDupIndex(spark, "torn_nd",
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 300),
        "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
        numBuckets = 4)
      val l1sig = files("sig"); val l1sh = files("shingles")
      assert(l1sig.size > l0sig.size)
      // fabricate the v1-commit-interrupted marker: the listing parquet
      // is present (possibly a SUBSET of the real listing — here the
      // pre-append one) but _SUCCESS never landed. Acting on it would
      // delete the COMMITTED append's files as "partial output" —
      // silent loss of durable data. The gate must treat it as torn.
      val pending = new Path(root, graft.ops.IndexCommit.MarkerDir)
      graft.io.IO.writeDir(
        (l0sig.toSeq.sorted.map(("sig", _)) ++
          l0sh.toSeq.sorted.map(("shingles", _)))
          .toDF("half", "file_name"), pending.toString)
      fs.delete(new Path(pending, "_SUCCESS"), false)
      assert(!Dedup.recoverNearDupIndex(spark, "torn_nd"),
        "a marker without _SUCCESS must be torn, not valid")
      assert(!fs.exists(pending), "torn marker must still be consumed")
      assert(files("sig") == l1sig && files("shingles") == l1sh,
        "committed files must survive a torn-marker recovery")
    } finally {
      Seq("torn_nd_sig", "torn_nd_shingles", "torn_nd_params")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("fencing: a paused writer that was stale-stolen CANNOT commit — " +
    "its commit throws, the stealing writer's state stands") {
    import org.apache.hadoop.fs.Path
    import graft.ops.{IndexCommit, FencedWriterException}
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("fence")
    Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 200), "fence_nd",
      path, "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
      numBuckets = 4)
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(half: String): Set[String] =
        fs.listStatus(new Path(root, half)).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      def sigIds(): Set[Long] = spark.table("fence_nd_sig")
        .select("doc_id").distinct().as[Long].collect().toSet
      // epochs allocate monotonically, and the current holder passes
      val e1 = IndexCommit.acquireFence(spark, path)
      val e2 = IndexCommit.acquireFence(spark, path)
      assert(e2 > e1)
      IndexCommit.requireFence(spark, path, e2)
      intercept[FencedWriterException] {
        IndexCommit.requireFence(spark, path, e1)
      }
      // the double-steal interleaving: writer A enters its marker
      // window and writes a partial mutation, stalls past staleMs; B
      // steals, enters (B's recovery rolls A's partial back off A's
      // marker), appends a real batch, COMMITS; A resumes and tries to
      // commit — the fence gate must reject A, and the index must hold
      // exactly B's committed state
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      var afterB: (Set[String], Set[String], Set[Long]) = null
      val thrown = intercept[FencedWriterException] {
        IndexCommit.withMarkerFenced(spark, path, Seq("sig", "shingles"),
          Seq("fence_nd_sig", "fence_nd_shingles")) { _ =>
          // A's partial mutation: an orphan data file in the sig half
          val donor = fs.listStatus(new Path(root, "sig"))
            .map(_.getPath).find(_.getName.endsWith(".parquet")).get
          org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs,
            new Path(root, s"sig/zz_orphan_${donor.getName}"), false,
            spark.sparkContext.hadoopConfiguration)
          // B steals and runs a full committed append (higher epoch;
          // entry recovery consumes A's marker and deletes A's orphan)
          Dedup.appendToNearDupIndex(spark, "fence_nd", batch, "doc_id",
            "text", shingleK = 2, numPerm = 32, bands = 8,
            numBuckets = 4)
          afterB = (files("sig"), files("shingles"), sigIds())
          assert(!afterB._1.exists(_.startsWith("zz_orphan_")),
            "B's entry recovery must have rolled back A's partial file")
          // A resumes here; the commit gate must now reject it
        }
      }
      assert(thrown.getMessage.contains("fenced off"), thrown.getMessage)
      assert((files("sig"), files("shingles"), sigIds()) == afterB,
        "A's rejected commit must leave B's committed state untouched")
      assert(!fs.exists(new Path(root, IndexCommit.MarkerDir)),
        "B committed: no marker may remain")
      // lifecycle unchanged: the next writer enters, appends, commits
      Dedup.appendToNearDupIndex(spark, "fence_nd",
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
        "doc_id", "text", shingleK = 2, numPerm = 32, bands = 8,
        numBuckets = 4)
      assert(sigIds().size > afterB._3.size)
    } finally {
      Seq("fence_nd_sig", "fence_nd_shingles", "fence_nd_params")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("fencing: a stolen pair-clusters writer cannot VALIDATE the " +
    "store — meta stays absent and the next entry rebuilds") {
    import graft.ops.{IndexCommit, FencedWriterException}
    val path = tmp("fencepc") + "/rel"
    val fp = Seq((42L, 7L)).toDF("n", "h")
    def pairs() = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // writer A starts the build; B "steals" mid-body (allocates a newer
    // epoch while A computes); A's commit — validating the store by
    // writing meta — must be rejected, leaving the store meta-less
    intercept[FencedWriterException] {
      graft.ops.Dedup.ensurePairClusters(spark, path, "doc_id",
        fingerprint = Some(fp), paramsTag = "t") {
        IndexCommit.acquireFence(spark, path) // B enters here
        pairs()
      }
    }
    assert(graft.io.IO.parquetFileCount(spark, s"$path/meta") == 0L,
      "a fenced writer must never validate the store")
    // the store is recognizably invalid → the next writer rebuilds and
    // validates; lifecycle unchanged
    assert(graft.ops.Dedup.ensurePairClusters(spark, path, "doc_id",
      fingerprint = Some(fp), paramsTag = "t")(pairs()))
    assert(graft.io.IO.parquetFileCount(spark, s"$path/meta") > 0L)
    assert(graft.ops.Dedup.cachedClusters(spark, path).count() == 3L)
  }

  test("crash between rollback and postRecover re-enters recovery: the " +
    "marker outlives a failed derived-state rebuild") {
    import org.apache.hadoop.fs.Path
    val root = tmp("postrec")
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    graft.io.IO.writeDir(Seq((1L, "a")).toDF("k", "v"), s"$root/d")
    def dFiles(): Set[String] =
      fs.listStatus(new Path(root, "d")).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    val pre = dFiles()
    // a mutation wrote an extra file, then crashed before commit
    val extraDir = tmp("postrec_extra")
    graft.io.IO.writeDir(Seq((2L, "b")).toDF("k", "v"), extraDir)
    val extra = fs.listStatus(new Path(extraDir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(extra, new Path(s"$root/d/zz_${extra.getName}"))
    assert(dFiles().size == pre.size + 1)
    val pending = new Path(root, graft.ops.IndexCommit.MarkerDir)
    graft.io.IO.writeDir(
      pre.toSeq.sorted.map(("d", _)).toDF("half", "file_name"),
      pending.toString)
    // recovery whose postRecover "crashes": rollback runs, marker stays
    intercept[RuntimeException] {
      graft.ops.IndexCommit.recover(spark, root, Seq("d"),
        postRecover = () => throw new RuntimeException("boom"))
    }
    assert(fs.exists(pending),
      "marker must survive a postRecover crash so recovery re-enters")
    assert(dFiles() == pre, "rollback itself ran before the crash")
    // next entry re-runs the full (idempotent) path and commits
    assert(graft.ops.IndexCommit.recover(spark, root, Seq("d")))
    assert(!fs.exists(pending) && dFiles() == pre)
  }
}
