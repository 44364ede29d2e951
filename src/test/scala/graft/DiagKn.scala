package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: stage decomposition of the order-5 KN queries (r16). */
object DiagKn {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).count()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[diag] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    for (rep <- 1 to 2) {
      val tfAll = time(s"allOrderFreq(materialize) r$rep") {
        graft.ops.TextAnalysis.allOrderFrequencies(docs, "doc_id", "text", 5)
          .localCheckpoint()
      }
      time(s"tfAll.count r$rep") { tfAll.count() }
      val counts = tfAll.groupBy(col("__k"), col("__g"))
        .agg(sum(col("__tf")).as("__c"))
      time(s"counts noop r$rep") {
        counts.write.format("noop").mode("overwrite").save()
      }
      time(s"q331 full r$rep") {
        graft.ops.TextAnalysis.ngramKnCrossEntropy(docs, order = 5)
          .write.format("noop").mode("overwrite").save()
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
