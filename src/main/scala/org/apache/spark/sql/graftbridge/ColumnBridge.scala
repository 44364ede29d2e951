package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters that Spark 4
  * removed from the public API. Lives in a subpackage of
  * `org.apache.spark.sql` purely to satisfy the access qualifier; contains
  * no Spark internals beyond the two delegations.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — `Dataset.ofRows` went
    * `private[sql]` in Spark 4.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** True when the session's SQL CacheManager holds no cached relations —
    * lets tests outside `org.apache.spark.sql` gate that an operator does
    * not leak persist() entries (`sharedState` is `private[sql]`).
    */
  def cacheManagerIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Unpersist the BlockManager blocks backing a `localCheckpoint`ed
    * frame — the explicit release path for iterative operators whose
    * per-round checkpoints would otherwise pile up until driver GC
    * triggers the ContextCleaner (a real memory-pressure source in
    * long-running sessions: hundreds of dead checkpoint blocks compete
    * with shuffle/execution memory). Walks the analyzed plan for its
    * LogicalRDD leaves and unpersists their RDDs; precise (only THIS
    * frame's blocks — no get-persistent-RDDs diffing that could race
    * with concurrent queries) and a no-op on non-checkpointed frames.
    *
    * ONLY call on frames whose blocks nothing will read again:
    * localCheckpoint truncates lineage, so a released block cannot be
    * recomputed — a consumer that still needs it fails with a missing-
    * block error rather than silently recomputing.
    *
    * Ownership rule: an operator releases every checkpoint it makes
    * except the ones its result reads, and the caller releases those by
    * releasing the result. Inside the engine every release goes through
    * `graft.Materialize`, which runs it in `finally`; callers outside it
    * (benchmarks, tests) call this directly.
    */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Block until Spark's listener bus has delivered every queued event
    * (`listenerBus` is `private[spark]`). Executed-plan capture through a
    * QueryExecutionListener is asynchronous; plan-shape gates over
    * eagerly-executed loops (the CC rounds) need a deterministic drain
    * instead of a sleep.
    */
  def waitListenerBusEmpty(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The catalog's storage LOCATION for a table, if it exists — lets
    * index maintenance find the on-disk directories of the bucketed
    * halves it must reconcile after a crash (`sessionState` is
    * `private[sql]`).
    */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
                    table: String): Option[java.net.URI] = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(id)) Some(cat.getTableMetadata(id).location)
    else None
  }

  /** The catalog's full bucket spec (count, bucket columns, sort
    * columns) for a bucketed table, if the table exists and was written
    * with one (`sessionState` is `private[sql]`). The build writes this
    * spec once; every later append and in-place rewrite reuses it, so no
    * caller restates a bucket count that may disagree with what's on
    * disk.
    */
  def tableBucketSpec(spark: org.apache.spark.sql.SparkSession,
                      table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(id)) cat.getTableMetadata(id).bucketSpec
    else None
  }
}
