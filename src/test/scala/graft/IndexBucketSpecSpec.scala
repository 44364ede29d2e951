package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.ops.{Dedup, Maintenance, Multimodal, TextAnalysis}

/** The catalog's bucket spec is the only bucket spec: every bucketed
  * index family, built with a non-default bucket count, keeps exactly
  * that spec (count, bucket columns, sort columns) through append,
  * compact, delete and maintain called with their DEFAULT arguments —
  * none of which may throw, and maintain's generation threshold counts
  * the catalog's buckets, not the `numBuckets` default.
  */
class IndexBucketSpecSpec extends SparkSpec {
  import spark.implicits._

  /** One bucketed family. `rows(lo, hi)` is its input slice for ids in
    * [lo, hi); every lifecycle call uses the family's default
    * arguments. Families without a compactor or maintainer leave them
    * None.
    */
  private case class Family(
      name: String, tables: Seq[String],
      rows: (Long, Long) => DataFrame,
      build: (DataFrame, String) => Unit,
      append: DataFrame => Unit,
      delete: (Seq[Long], String) => Unit,
      compact: Option[String => Unit] = None,
      maintain: Option[(String, Int) => Maintenance.Report] = None)

  private lazy val docs = Tables.documents(spark, sf0001)
  private def docSlice(lo: Long, hi: Long) =
    docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
  private def idsDf(ids: Seq[Long], c: String) = ids.toDF(c)

  private def families: Seq[Family] = Seq(
    Family("bs_nd", Seq("bs_nd_sig", "bs_nd_shingles"), docSlice,
      (df, dir) => Dedup.buildNearDupIndex(df, "bs_nd", dir, "doc_id",
        "text", numBuckets = 8),
      df => Dedup.appendToNearDupIndex(spark, "bs_nd", df, "doc_id", "text"),
      (ids, dir) => Dedup.deleteFromNearDupIndex(spark, "bs_nd", dir,
        idsDf(ids, "doc_id")),
      Some(dir => Dedup.compactNearDupIndex(spark, "bs_nd", dir, "doc_id")),
      Some((dir, g) => Maintenance.maintainNearDupIndex(spark, "bs_nd",
        dir, maxGenerations = g))),
    Family("bs_hs", Seq("bs_hs_sig", "bs_hs_shingles"),
      (lo, hi) => docSlice(lo, hi).select(col("doc_id"), array(
        col("doc_id"), col("doc_id") % 7 + 1000,
        col("doc_id") % 13 + 2000).as("hs")),
      (df, dir) => Dedup.buildHashSetIndex(df, "bs_hs", dir, "doc_id", "hs",
        numBuckets = 8),
      df => Dedup.appendToHashSetIndex(spark, "bs_hs", df, "doc_id", "hs"),
      (ids, dir) => Dedup.deleteFromNearDupIndex(spark, "bs_hs", dir,
        idsDf(ids, "doc_id")),
      Some(dir => Dedup.compactNearDupIndex(spark, "bs_hs", dir, "doc_id")),
      Some((dir, g) => Maintenance.maintainNearDupIndex(spark, "bs_hs",
        dir, maxGenerations = g))),
    Family("bs_bm", Seq("bs_bm_postings", "bs_bm_docstats"), docSlice,
      (df, dir) => TextAnalysis.buildBm25Index(df, "bs_bm", dir,
        numBuckets = 8),
      df => TextAnalysis.appendToBm25Index(spark, "bs_bm", dirOf("bs_bm"),
        df),
      (ids, dir) => TextAnalysis.deleteFromBm25Index(spark, "bs_bm", dir,
        ids),
      Some(dir => TextAnalysis.compactBm25Index(spark, "bs_bm", dir)),
      Some((dir, g) => Maintenance.maintainBm25Index(spark, "bs_bm", dir,
        maxGenerations = g))),
    Family("bs_ct", Seq("bs_ct"), docSlice,
      (df, dir) => TextAnalysis.buildContaminationIndex(df, "bs_ct", dir,
        shingleHash = xxhash64(_), numBuckets = 8),
      df => TextAnalysis.appendToContaminationIndex(spark, "bs_ct", df,
        shingleHash = xxhash64(_)),
      (ids, dir) => TextAnalysis.deleteFromContaminationIndex(spark,
        "bs_ct", dir, docs.filter(col("doc_id").isin(ids: _*)),
        docSlice(0, 400).filter(!col("doc_id").isin(ids: _*))),
      Some(dir => TextAnalysis.compactContaminationIndex(spark, "bs_ct",
        dir)),
      Some((dir, g) => Maintenance.maintainContaminationIndex(spark,
        "bs_ct", dir, maxGenerations = g))),
    Family("bs_ah", Seq("bs_ah_bands"),
      (lo, hi) => Multimodal.synthesizePng(spark,
        spark.range(lo, hi).filter(col("id") % 3 === 0).toDF("doc_id"),
        "doc_id"),
      (df, dir) => Multimodal.buildAHashIndex(df, "bs_ah", dir,
        numBuckets = 8),
      df => Multimodal.appendToAHashIndex(spark, "bs_ah", df),
      (ids, dir) => Multimodal.deleteFromAHashIndex(spark, "bs_ah", dir,
        idsDf(ids, "media_id")),
      Some(dir => Multimodal.compactAHashIndex(spark, "bs_ah", dir)),
      Some((dir, g) => Maintenance.maintainAHashIndex(spark, "bs_ah", dir,
        maxGenerations = g))),
    Family("bs_fp", Seq("bs_fp_fp"),
      (lo, hi) => spark.range(lo, hi).select(col("id"),
        (col("id") % 4).as("k1"), (col("id") % 4 * 10 + 3).as("k2")),
      (df, dir) => Dedup.buildFingerprintIndex(df, "bs_fp", dir,
        Seq("k1", "k2"), "id", numBuckets = 8),
      df => Dedup.appendToFingerprintIndex(spark, "bs_fp", df,
        Seq("k1", "k2"), "id"),
      (ids, dir) => Dedup.deleteFromFingerprintIndex(spark, "bs_fp", dir,
        idsDf(ids, "id"), Seq("k1", "k2"), "id")))

  private val dirs = scala.collection.mutable.Map.empty[String, String]
  private def dirOf(name: String): String = dirs.getOrElseUpdate(name,
    java.nio.file.Files.createTempDirectory(s"graft_bspec_$name").toString)

  test("bucketed index families keep the catalog bucket spec through " +
    "default-argument append, maintain, compact and delete") {
    for (f <- families) try {
      val dir = dirOf(f.name)
      def specs() = f.tables.map(t => ColumnBridge.tableBucketSpec(spark, t))
      f.build(f.rows(0L, 150L), dir)
      val built = specs()
      assert(built.forall(_.exists(_.numBuckets == 8)), s"${f.name}: $built")
      def same(step: String): Unit =
        assert(specs() == built, s"${f.name} $step changed the bucket spec")
      // three appends: four file generations in all
      Seq((150L, 250L), (250L, 330L), (330L, 400L)).foreach {
        case (lo, hi) => f.append(f.rows(lo, hi)); same("append")
      }
      f.maintain.foreach { m =>
        val r = m(dir, 3)
        assert(r.fileThreshold == 8L * 3,
          s"${f.name}: threshold must count the catalog's 8 buckets: $r")
        assert(r.compacted, s"${f.name}: 4 generations > 3: $r")
        same("maintain")
      }
      f.compact.foreach { c => c(dir); same("compact") }
      f.delete(Seq(3L, 6L, 153L, 255L), dir)
      same("delete")
      f.append(f.rows(400L, 450L)) // appends still land after a rewrite
      same("append after rewrite")
    } finally (f.tables ++ Seq(s"${f.name}_params", s"${f.name}_meta"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
