package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** [[Materialize.checkpoint]]: a checkpoint keeps the hash partitioning
  * its executed plan really had, and claims none otherwise.
  */
class MaterializeSpec extends SparkSpec {

  private def partitioning(df: DataFrame): Partitioning =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD =>
      lr.outputPartitioning
    }.get

  private def keyed(n: Int, mod: Int, name: String): DataFrame =
    spark.range(1000).select((col("id") % mod).as(name), col("id").as(s"${name}_v"))
      .repartition(n, col(name))

  private def exchanges(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    }.flatMap(_.collect { case e: Exchange => e })
  }

  test("a checkpoint of repartition(n, k) reports HashPartitioning(k, n); " +
    "a join of two on k plans no exchange") {
    val n = 4
    val a = Materialize.checkpoint(keyed(n, 97, "k"))
    val b = Materialize.checkpoint(keyed(n, 89, "j"))
    try {
      partitioning(a) match {
        case h: HashPartitioning =>
          assert(h.numPartitions == n)
          assert(h.expressions.map(_.references.head.name) == Seq("k"))
        case other => fail(s"expected a hash partitioning, got $other")
      }
      val joined = a.join(b.hint("merge"), col("k") === col("j"))
      assert(exchanges(joined).isEmpty, joined.queryExecution.executedPlan.toString)
      // the same rows as a join of the un-checkpointed frames
      val expected = keyed(n, 97, "k").join(keyed(n, 89, "j"), col("k") === col("j"))
      assert(joined.count() == expected.count())
      assert(joined.except(expected).isEmpty)
    } finally {
      ColumnBridge.releaseLocalCheckpoint(a)
      ColumnBridge.releaseLocalCheckpoint(b)
    }
  }

  test("a checkpoint whose final plan is AQE-coalesced or not hash-partitioned " +
    "reports unknown partitioning") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // an aggregate's shuffle is coalesced by AQE at this size: its read
    // still reports hashpartitioning(g, 1), but over merged buckets
    val coalesced = Materialize.checkpoint(
      spark.range(1000).groupBy((col("id") % 7).as("g")).count())
    val unshuffled = Materialize.checkpoint(
      spark.createDataFrame((0 until 1000).map(Tuple1(_))).toDF("id"))
    try {
      assert(partitioning(coalesced).isInstanceOf[UnknownPartitioning],
        partitioning(coalesced))
      assert(partitioning(unshuffled).isInstanceOf[UnknownPartitioning],
        partitioning(unshuffled))
    } finally {
      ColumnBridge.releaseLocalCheckpoint(coalesced)
      ColumnBridge.releaseLocalCheckpoint(unshuffled)
    }
  }

  test("releaseLocalCheckpoint unpersists the rebuilt relation's RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val a = Materialize.checkpoint(keyed(4, 13, "k"))
    assert(partitioning(a).isInstanceOf[HashPartitioning])
    val rdd = a.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    ColumnBridge.releaseLocalCheckpoint(a)
    // unpersist(blocking = false) drops the RDD from the persistent set at once
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }
}
