package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** Driver-side handles of persisted indexes: the constants a probe needs
  * (an IVF-PQ index's m, encoding, centroids, codebook and codes schema;
  * a BM25 index's global moments; a near-dup index's hash-family
  * parameters) are loaded once and kept on the driver, so a probe pays
  * only for its scan — no schema inference, no `head` of a meta table,
  * no codebook aggregate or broadcast job per call.
  *
  * One validity rule: a handle is keyed by its index path (or table) and
  * the fingerprint of the index's small files — the name, length and
  * modification time of every data file in the directories the family
  * names. Spark gives every write's part files new names, so a rewrite by
  * any writer, in this or any other session, changes the fingerprint and
  * the next call reloads. No writer invalidates anything, and a
  * fingerprint costs one directory listing per small directory.
  *
  * Array constants enter plans as [[constant]]s: one broadcast per handle
  * generation, read through a [[graft.functions.DriverConstant]] leaf, so
  * a probe runs no broadcast job and a new generation of the same shape
  * compiles no new class. A replaced generation's broadcast is left to the
  * ContextCleaner, so a frame planned against it stays executable.
  */
object IndexHandles {

  private final case class Entry(sc: SparkContext, fingerprint: Seq[(String, Long, Long)],
                                 handle: AnyRef)

  /** Handles kept at most: the least recently used one is dropped (its
    * broadcasts go to the ContextCleaner), so a session that probes many
    * index paths keeps a bounded set.
    */
  private val MaxHandles = 256
  private val cache = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size > MaxHandles
  }

  /** The data files of `dir` (none when it is absent), sorted by name. */
  private def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  /** The handle cached under `key` when the data files of `dirs` still
    * fingerprint alike and its broadcasts belong to the live SparkContext;
    * otherwise `load(files by dir)`, cached under the fingerprint listed
    * BEFORE the load (a write racing the load changes the files after
    * that listing, so the next call reloads).
    */
  def cached[H <: AnyRef](spark: SparkSession, key: String, dirs: Seq[String])(
      load: Map[String, Seq[FileStatus]] => H): H = {
    val files = dirs.map(d => d -> dataFiles(spark, d)).toMap
    val fingerprint = dirs.flatMap(files).map(s =>
      (s.getPath.toString, s.getLen, s.getModificationTime))
    val sc = spark.sparkContext
    cache.synchronized(Option(cache.get(key))) match {
      case Some(e) if (e.sc eq sc) && !sc.isStopped && e.fingerprint == fingerprint =>
        e.handle.asInstanceOf[H]
      case _ =>
        val handle = load(files)
        cache.synchronized(cache.put(key, Entry(sc, fingerprint, handle)))
        handle
    }
  }

  /** [[cached]] for a catalog table's small data, fingerprinted over the
    * table's catalog location; `load` gets the rows of the listed files,
    * read on the driver ([[ColumnBridge.readParquetOnDriver]]), so it runs
    * no job and never sees a relation that another session's rewrite made
    * stale. A table the catalog does not know is left to `spark.table`'s
    * error.
    */
  def cachedTable[H <: AnyRef](spark: SparkSession, table: String)(
      load: Seq[Row] => H): H =
    ColumnBridge.tableLocation(spark, table) match {
      case Some(loc) =>
        val dir = new Path(loc).toString
        cached(spark, s"table $table at $dir", Seq(dir))(files =>
          load(if (files(dir).isEmpty) spark.table(table).collect().toSeq
               else ColumnBridge.readParquetOnDriver(spark, files(dir))._2))
      case None => load(spark.table(table).collect().toSeq)
    }

  /** `value` (a Scala value of `dataType`: rows, sequences, primitives) as
    * a plan constant backed by one broadcast.
    */
  def constant(spark: SparkSession, value: Any, dataType: DataType): Column =
    graft.functions.driverConstant(spark.sparkContext.broadcast[Any](
      CatalystTypeConverters.createToCatalystConverter(dataType)(value)), dataType)
}
