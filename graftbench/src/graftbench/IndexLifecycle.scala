package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** The persisted-index lifecycle of three families: near-dup LSH
  * ([[Dedup]]), IVF-PQ ([[Similarity]]) and BM25 ([[TextAnalysis]]).
  *
  * A pass runs one family's lifecycle under pass-unique names and paths:
  * build, append a batch (exact copies of corpus rows under new ids, plus
  * novel rows), delete a set of ids, probe, compact, probe again, and call
  * `ensure*` on the built index. Variant v of a pass is family v, so a run's
  * first pass covers near-dup and its steady passes IVF-PQ and BM25. The
  * probe holds originals of appended copies (each copy must come back),
  * near-copies of deleted rows (none may come back) and novel rows; the
  * probe after the compaction must fold to the same checksum as the one
  * before it.
  *
  * Inputs are seed-generated: documents over a skewed vocabulary with
  * near-duplicate groups, and clustered unit vectors.
  */
object IndexLifecycle extends Workload {
  val name = "index_lifecycle"

  final case class Sizes(docs: Int, vocab: Int, vecs: Int, docBatch: Int,
                         vecBatch: Int, appends: Int, deletes: Int)
  val sizes: Map[Scale, Sizes] = Map(
    Scale.Full -> Sizes(docs = 600, vocab = 1500, vecs = 600, docBatch = 12,
      vecBatch = 12, appends = 24, deletes = 18),
    Scale.Tiny -> Sizes(docs = 400, vocab = 600, vecs = 400, docBatch = 6,
      vecBatch = 6, appends = 12, deletes = 10))

  val Dim = 32
  val Cells = 16
  val M = 4
  val K = 10
  val Buckets = 4
  private val ProbeIdBase = 50000000L
  private val AppendIdBase = 20000000L
  private val Families = Seq("dedup", "similarity", "text")

  // ---- staged inputs (DataFrames over Parquet written at set-up) -------
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var centroids: DataFrame = _
  private var codebook: DataFrame = _
  private var appendDocs: DataFrame = _
  private var appendVecs: DataFrame = _
  private var deleteDocs: DataFrame = _
  private var deleteVecs: DataFrame = _
  private var docProbes: DataFrame = _
  private var vecProbes: DataFrame = _
  private var query: Seq[String] = Nil
  /** Appended copy id → original id, for docs and for vectors. */
  private var docCopies: Map[Long, Long] = Map.empty
  private var vecCopies: Map[Long, Long] = Map.empty
  private var deletedDocIds: Set[Long] = Set.empty
  private var deletedVecIds: Set[Long] = Set.empty
  private var sz: Sizes = _

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Scale): Unit = {
    import spark.implicits._
    sz = sizes(scale)
    val rnd = new scala.util.Random(seed)
    def zipfWord(): String = word((sz.vocab * math.pow(rnd.nextDouble(), 2.2)).toInt)
    def novelText(): Array[String] = Array.fill(25 + rnd.nextInt(26))(zipfWord())
    def mutate(t: Array[String]): Array[String] = {
      val c = t.clone(); c(rnd.nextInt(c.length)) = zipfWord(); c
    }

    // corpus: novel documents, 15% of them near-copies of an earlier one
    val texts = new Array[Array[String]](sz.docs)
    for (i <- texts.indices)
      texts(i) = if (i > 10 && rnd.nextDouble() < 0.15) mutate(texts(rnd.nextInt(i)))
                 else novelText()

    val centers = Array.fill(Cells)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    def member(): Array[Double] = unit(centers(rnd.nextInt(Cells)).map(_ + rnd.nextGaussian() * 0.12))
    def nearVec(v: Array[Double]) = unit(v.map(_ + rnd.nextGaussian() * 0.005))
    val vectors = Array.fill(sz.vecs)(member())
    // row i has id i + 1 in both corpora
    def ids(idx: Seq[Int]): Set[Long] = idx.map(_ + 1L).toSet

    val delDoc = rnd.shuffle(texts.indices.toList).take(sz.deletes).toIndexedSeq
    val delVec = rnd.shuffle(vectors.indices.toList).take(sz.deletes).toIndexedSeq
    deletedDocIds = ids(delDoc)
    deletedVecIds = ids(delVec)

    // appends: exact copies of kept rows under new ids, plus novel rows
    val nCopies = sz.appends / 4
    val copyDoc = rnd.shuffle(texts.indices.filterNot(delDoc.contains).toList).take(nCopies).toIndexedSeq
    val copyVec = rnd.shuffle(vectors.indices.filterNot(delVec.contains).toList).take(nCopies).toIndexedSeq
    docCopies = copyDoc.indices.map(k => (AppendIdBase + k) -> (copyDoc(k) + 1L)).toMap
    vecCopies = copyVec.indices.map(k => (AppendIdBase + k) -> (copyVec(k) + 1L)).toMap
    val appendDocRows = copyDoc.indices.map(k => (AppendIdBase + k, texts(copyDoc(k)))) ++
      (nCopies until sz.appends).map(k => (AppendIdBase + k, novelText()))
    val appendVecRows = copyVec.indices.map(k => (AppendIdBase + k, vectors(copyVec(k)))) ++
      (nCopies until sz.appends).map(k => (AppendIdBase + k, member()))

    // probe batches: thirds of copy originals, near-copies of deleted
    // rows, and novel rows
    var pid = ProbeIdBase
    def pick[T](src: IndexedSeq[Int], all: Array[T]): T = all(src(rnd.nextInt(src.size)))
    val docProbeRows = (0 until sz.docBatch).map { j =>
      pid += 1
      val t = j % 3 match {
        case 0 => pick(copyDoc, texts)
        case 1 => mutate(pick(delDoc, texts))
        case _ => novelText()
      }
      (pid, t)
    }
    val vecProbeRows = (0 until sz.vecBatch).map { j =>
      pid += 1
      (pid, j % 3 match {
        case 0 => pick(copyVec, vectors)
        case 1 => nearVec(pick(delVec, vectors))
        case _ => member()
      })
    }
    // the query: the two rarest words of a copy original and of a deleted
    // document, and one common word
    def rarest(t: Array[String]): Seq[String] =
      t.distinct.sortBy(w => -Integer.parseInt(w.drop(1), 36)).take(2).toSeq
    query = (rarest(pick(copyDoc, texts)) ++ rarest(pick(delDoc, texts)) :+ word(0)).distinct

    // full-dimension codebook centroids: subspace j codes against slice j
    val codebookRows = (0 until 16).map(c => (c, Array.fill(Dim)(rnd.nextGaussian() * 0.04)))

    def stage(df: DataFrame, name: String): DataFrame = {
      val p = new File(dir, s"$name.parquet").toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    // one staged file per corpus, its rows tagged corpus / append / probe
    val docsAll = stage((texts.indices.map(i => (i + 1L, texts(i), "corpus")) ++
      appendDocRows.map { case (i, t) => (i, t, "append") } ++
      docProbeRows.map { case (i, t) => (i, t, "probe") })
      .map { case (i, t, kind) => (i, t.mkString(" "), kind) }
      .toDF("doc_id", "text", "kind"), "docs")
    val vecsAll = stage((vectors.indices.map(i => (i + 1L, vectors(i), "corpus")) ++
      appendVecRows.map { case (i, v) => (i, v, "append") } ++
      vecProbeRows.map { case (i, v) => (i, v, "probe") })
      .toDF("vec_id", "embedding", "kind"), "vecs")
    def part(all: DataFrame, kind: String) = all.filter(col("kind") === kind).drop("kind")
    docs = part(docsAll, "corpus")
    appendDocs = part(docsAll, "append")
    docProbes = part(docsAll, "probe")
    vecs = part(vecsAll, "corpus")
    appendVecs = part(vecsAll, "append")
    vecProbes = part(vecsAll, "probe")
    deleteDocs = docs.filter(col("doc_id").isin(deletedDocIds.toSeq: _*)).select("doc_id")
    deleteVecs = vecs.filter(col("vec_id").isin(deletedVecIds.toSeq: _*)).select("vec_id")
    centroids = stage(centers.indices.map(c => (c, centers(c))).toDF("cell_id", "centroid"),
      "centroids")
    codebook = stage(codebookRows.toDF("cid", "centroid"), "codebook")
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  override def variants: Int = Families.size

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.passDir()
    val (nd, ndPath) = (s"nd_p${ctx.pass}", new File(dir, "nd").toString)
    val ivPath = new File(dir, "ivfpq").toString
    val (bm, bmPath) = (s"bm_p${ctx.pass}", new File(dir, "bm25").toString)
    val fam = Families(ctx.variant)

    fam match {
      case "dedup" => ctx.run("dedup.build", "buildNearDupIndex") {
        Dedup.buildNearDupIndex(docs, nd, ndPath, "doc_id", "text", numBuckets = Buckets)
      }
      case "similarity" =>
        // IVF-PQ builds through ensureIvfPqIndex: its reuse rule is a
        // session-conf key only that function sets, so an index built by
        // buildIvfPqIndex would be rebuilt by the reuse call below
        var built = false
        ctx.run("similarity.build", "ensureIvfPqIndex (build)") {
          built = Similarity.ensureIvfPqIndex(vecs, centroids, codebook, ivPath, m = M,
            residual = true)
        }
        ctx.check("ivf-pq build ran", built, "ensureIvfPqIndex skipped a fresh path")
      case _ => ctx.run("text.build", "buildBm25Index") {
        TextAnalysis.buildBm25Index(docs, bm, bmPath, numBuckets = Buckets)
      }
    }

    def append(newDocs: DataFrame, newVecs: DataFrame): Unit = fam match {
      case "dedup" =>
        Dedup.appendToNearDupIndex(spark, nd, newDocs, "doc_id", "text", numBuckets = Buckets)
      case "similarity" => Similarity.appendToIvfPqIndex(spark, ivPath, newVecs)
      case _ => TextAnalysis.appendToBm25Index(spark, bm, bmPath, newDocs, numBuckets = Buckets)
    }
    ctx.run(s"$fam.append", s"appendTo $fam")(append(appendDocs, appendVecs))
    ctx.run(s"$fam.delete", s"deleteFrom $fam") {
      fam match {
        case "dedup" =>
          Dedup.deleteFromNearDupIndex(spark, nd, ndPath, deleteDocs, "doc_id", numBuckets = Buckets)
        case "similarity" => Similarity.deleteFromIvfPqIndex(spark, ivPath, deleteVecs)
        case _ => TextAnalysis.deleteFromBm25Index(spark, bm, bmPath, deleteDocs, "doc_id", Buckets)
      }
    }
    if (ctx.fault) // self-test: put the deleted rows back
      append(docs.join(deleteDocs, "doc_id"), vecs.join(deleteVecs, "vec_id"))

    def probe(label: String)(inspect: DataFrame => Unit): Fold = fam match {
      case "dedup" =>
        ctx.query("dedup.probe", s"nearDupMatchesIndexed $label", probe = true,
          inRows = sz.docBatch) {
          Dedup.nearDupMatchesIndexed(docProbes, nd, "doc_id", "text")
        }(inspect)
      case "similarity" =>
        ctx.query("similarity.probe", s"ivfPqTopKBatch $label", probe = true,
          inRows = sz.vecBatch) {
          Similarity.ivfPqTopKBatch(spark, ivPath, vecProbes, lit(true), k = K)
        }(inspect)
      case _ =>
        ctx.query("text.probe", s"bm25SearchIndexed $label", probe = true, inRows = 1) {
          TextAnalysis.bm25SearchIndexed(spark, bm, query, topK = K)
        }(inspect)
    }

    val before = probe("before compact") { df =>
      val (copies, deleted) =
        if (fam == "similarity") (vecCopies, deletedVecIds) else (docCopies, deletedDocIds)
      val (all, sure) = resultIds(fam, df)
      // every copy original the probe returned must bring its copy along
      val missing = copies.filter { case (copy, orig) => sure(orig) && !all(copy) }.keys
      ctx.check(s"$fam appended copies found", missing.isEmpty,
        s"copies ${missing.take(5).mkString(",")} not returned")
      ctx.check(s"$fam copy originals probed", copies.values.exists(sure),
        "no copy original came back")
      val back = all.intersect(deleted)
      ctx.check(s"$fam deleted ids stay deleted", back.isEmpty,
        s"returned deleted ${back.take(5).mkString(",")}")
    }

    ctx.run(s"$fam.compact", s"compact $fam") {
      fam match {
        case "dedup" => Dedup.compactNearDupIndex(spark, nd, ndPath, "doc_id", numBuckets = Buckets)
        case "similarity" => Similarity.compactIvfPqIndex(spark, ivPath)
        case _ => TextAnalysis.compactBm25Index(spark, bm, bmPath, numBuckets = Buckets)
      }
    }
    val after = probe("after compact")(_ => ())
    ctx.check(s"$fam checksum across compact", before == after, s"$before before, $after after")

    var rebuilt = true
    ctx.run(s"$fam.reuse", s"ensure $fam") {
      rebuilt = fam match {
        case "dedup" =>
          Dedup.ensureNearDupIndex(docs, nd, ndPath, "doc_id", "text", numBuckets = Buckets)
        case "similarity" =>
          Similarity.ensureIvfPqIndex(vecs, centroids, codebook, ivPath, m = M, residual = true)
        case _ => TextAnalysis.ensureBm25Index(docs, bm, bmPath, numBuckets = Buckets)
      }
    }
    ctx.check(s"ensure reused the $fam index", !rebuilt, "it rebuilt")
  }

  /** A probe result's ids, and the ids minus each probe's last-ranked row
    * when it returned a full top-k: an exact copy ties its original, and
    * the tie may fall just past the cut.
    */
  private def resultIds(fam: String, df: DataFrame): (Set[Long], Set[Long]) = {
    def sure(ranked: Seq[Long]) = if (ranked.size == K) ranked.dropRight(1) else ranked
    fam match {
      case "dedup" =>
        val ids = df.select("__cid").collect().map(_.getLong(0)).toSet
        (ids, ids)
      case "similarity" =>
        val rows = df.select("probe_id", "vec_id", "adc_dist").collect().toSeq
        (rows.map(_.getLong(1)).toSet, rows.groupBy(_.getLong(0)).values.flatMap { rs =>
          sure(rs.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)))
        }.toSet)
      case _ =>
        val ranked = df.select("doc_id", "bm25").collect().toSeq
          .sortBy(r => (-r.getDouble(1), r.getLong(0))).map(_.getLong(0))
        (ranked.toSet, sure(ranked).toSet)
    }
  }

  override def cleanup(spark: SparkSession, pass: Int): Unit =
    Seq(s"nd_p${pass}_sig", s"nd_p${pass}_shingles", s"nd_p${pass}_params",
      s"bm_p${pass}_postings", s"bm_p${pass}_docstats", s"bm_p${pass}_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
}
