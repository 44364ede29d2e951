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

  /** `df.localCheckpoint()` whose relation keeps the hash partitioning
    * that `df`'s executed plan really produced, so a later join or
    * aggregate on that key plans no exchange for it. Under AQE a
    * checkpoint otherwise reports `UnknownPartitioning(0)` (the adaptive
    * root declares none) and every consumer re-shuffles it.
    *
    * The claim is never false: the executed plan's output partitioning
    * is kept only if it is a `HashPartitioning` over the frame's own
    * columns whose partition count equals the checkpointed RDD's, and no
    * shuffle read in the plan's last stage was coalesced, split or read
    * locally by AQE (a coalesced read still reports a hash partitioning,
    * but over merged hash buckets). Otherwise the checkpoint is returned
    * as `localCheckpoint` builds it.
    *
    * Caveat: a declared partitioning keeps its expression ids in
    * `RDDScanExec`'s canonical form, so two self-join copies of such a
    * checkpoint no longer canonicalise alike and an exchange above them is
    * not reused (`ReusedExchange`) — a plan that relied on that reuse runs
    * the shared subtree twice.
    */
  def localCheckpointKeepingPartitioning(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.{CoalescedPartitionSpec, LogicalRDD, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, ResultQueryStageExec}
    val checkpoint = df.localCheckpoint()
    val finalPlan: Option[SparkPlan] = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if a.isFinalPlan => Some(a.executedPlan match {
        case r: ResultQueryStageExec => r.plan
        case p => p
      })
      case _: AdaptiveSparkPlanExec => None
      case p => Some(p)
    }
    def reshaped(p: SparkPlan): Boolean = p.exists {
      case r: AQEShuffleReadExec => r.partitionSpecs.zipWithIndex.exists {
        case (CoalescedPartitionSpec(start, end, _), i) => start != i || end != i + 1
        case _ => true
      }
      case _ => false
    }
    def leaves(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(leaves)
      case other => Seq(other)
    }
    checkpoint.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val columns = AttributeSet(lr.output)
        val kept = finalPlan.filterNot(reshaped).toSeq
          .flatMap(p => leaves(p.outputPartitioning))
          .collect {
            case h: HashPartitioning if h.numPartitions == lr.rdd.getNumPartitions &&
              h.references.nonEmpty && h.references.subsetOf(columns) => h
          }
        kept match {
          case Seq() => checkpoint
          case hs =>
            // every key it is hashed by (a projection that copies the key
            // under a second name is hashed by both)
            val partitioning = if (hs.size == 1) hs.head else PartitioningCollection(hs)
            // makeCopy carries the relation's session, stats and constraints
            ofRows(df.sparkSession, lr.makeCopy(Array(lr.output, lr.rdd, partitioning,
              lr.outputOrdering, Boolean.box(lr.isStreaming), lr.stream)))
        }
      case _ => checkpoint
    }
  }

  /** Run `f` over each partition of `df`'s rows and return the results in
    * partition order: one Spark job, at most #partitions values to the
    * driver. For scalar reductions that would otherwise cost an AQE
    * partial/final pair (two jobs).
    */
  def foldPartitions[T: scala.reflect.ClassTag](df: org.apache.spark.sql.DataFrame)(
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] => T): Seq[T] =
    df.queryExecution.toRdd.mapPartitions(rows => Iterator.single(f(rows)))
      .collect().toSeq

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

  /** The session's SQL conf (`sessionState` is `private[sql]`). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** Run `body` with the session's SQL conf set on the tasks it starts —
    * what Spark's own RDD-level CSV schema inference does, so executors
    * parse dates and timestamps under the session's settings.
    */
  def withSQLConfPropagated[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])(body)

  /** A Parquet file's Spark schema from its footer, read on the driver:
    * the Spark row-metadata schema when the writer left one, else the
    * Parquet schema converted under the session conf (binary-as-string,
    * INT96, NTZ inference, `nanosAsLong`). It is the schema
    * `spark.read.parquet(file)` infers, without that read's schema job.
    */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
                          file: org.apache.hadoop.fs.Path): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, state.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** The schema of the first file's footer and the rows of all the
    * files, read on the driver by Spark's own Parquet reader: no Spark job.
    * For an index's small side files (a meta row, a centroid table, a
    * codebook), never for data.
    */
  def readParquetOnDriver(spark: org.apache.spark.sql.SparkSession,
                          files: Seq[org.apache.hadoop.fs.FileStatus])
      : (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    require(files.nonEmpty, "no Parquet files to read")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = parquetFooterSchema(spark, files.head.getPath)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(session, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    (schema, files.flatMap { f =>
      read(PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPath(f.getPath), 0L, f.getLen,
          Array.empty[String], f.getModificationTime, f.getLen))
        .map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row]).toList
    })
  }

  /** The relation `spark.read.format(format).options(options).schema(schema)
    * .load(files)` resolves to, over files the caller already listed:
    * their statuses seed the file index, so Spark lists nothing again —
    * no listing job however many files (above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths a
    * read lists them in one) — and no path is taken for a glob.
    */
  def readListed(spark: org.apache.spark.sql.SparkSession,
                 files: Seq[org.apache.hadoop.fs.FileStatus], format: String,
                 schema: org.apache.spark.sql.types.StructType,
                 options: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources._
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val listed = files.map(f => f.getPath -> Array(f)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(session, files.map(_.getPath), options, Some(schema), cache)
    val fileFormat = DataSource.lookupDataSource(format, session.sessionState.conf)
      .getConstructor().newInstance() match {
        case source: v2.FileDataSourceV2 => source.fallbackFileFormat.getConstructor().newInstance()
        case source: FileFormat => source
      }
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.asNullable, None, fileFormat, options)(session))
  }
}
