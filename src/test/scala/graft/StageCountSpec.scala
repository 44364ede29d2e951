package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.BeforeAndAfterAll

import graft.ops.{Dedup, Graph, Preference, Similarity, TextAnalysis}

/** The stage budget of the driver-loop operators: Spark jobs and stages
  * per call and per round, read after the listener bus is drained. Under
  * AQE a job is a query stage, and wall time follows stages, so every
  * exchange a round adds shows here. The counts are exact on purpose: a
  * plan change in any of these loops (a lost partitioning, a broken
  * exchange reuse) must not go unnoticed.
  *
  * Also pins that a loop's later rounds plan exactly like round 1: a
  * round r ≥ 2 compiles no new code-generated class.
  */
class StageCountSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val jobs = new AtomicInteger
  private val stages = new AtomicInteger
  private val schemaJobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // a schema read: `spark.read.parquet` runs it while it resolves the
      // relation, outside any SQL execution (a write shares the call site
      // but runs inside one)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.minBy(_.stageId).name
      if (site.startsWith("parquet at") &&
          Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
        schemaJobs.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** A skewed 60-node digraph (string ids, double weights, node 0 a hub). */
  private lazy val edges: DataFrame = {
    val rnd = new scala.util.Random(11)
    val es = (for {
      s <- 0 until 60
      _ <- 0 until 1 + rnd.nextInt(4)
      d = (60 * math.pow(rnd.nextDouble(), 2)).toInt if d != s
    } yield (s"n$s", s"n$d", 1.0 + rnd.nextInt(3))) ++ (1 until 60 by 7).map(s => (s"n$s", "n0", 1.0))
    es.distinct.toDF("src", "dst", "weight")
  }
  private lazy val sources = Seq("n0", "n3", "n17").toDF("node")
  /** Near-dup pairs: a 40-node chain (six rounds to converge) and pairs. */
  private lazy val pairs =
    ((1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (200L, 202L)))
      .toDF("id_a", "id_b")
  private lazy val comparisons = Seq(("x", "y"), ("y", "z"), ("x", "z"),
    ("z", "x"), ("y", "x"), ("x", "w"), ("w", "y")).toDF("winner", "loser")

  /** (jobs, stages) of calling `op`, collecting its result and releasing it. */
  private def counted(op: => DataFrame): (Int, Int) = {
    ColumnBridge.waitListenerBusEmpty(spark)
    val (j0, s0) = (jobs.get, stages.get)
    val out = op
    out.collect()
    ColumnBridge.releaseLocalCheckpoint(out)
    ColumnBridge.waitListenerBusEmpty(spark)
    (jobs.get - j0, stages.get - s0)
  }

  /** Code-generated classes compiled while running `body`. */
  private def compiled(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** (operator, call with r rounds, rounds of the per-call pin, jobs and
    * stages per call at those rounds, jobs and stages per extra round).
    */
  private val budgets: Seq[(String, Int => DataFrame, Int, (Int, Int), (Int, Int))] = Seq(
    ("pageRank", r => Graph.pageRank(edges, iterations = r), 2, (13, 13), (3, 3)),
    ("personalizedPageRank",
      r => Graph.personalizedPageRank(edges, sources, iterations = r), 2, (13, 13), (3, 3)),
    ("hits", r => Graph.hits(edges, iterations = r), 2, (17, 17), (6, 6)),
    ("clusterNearDups", r => Dedup.clusterNearDups(pairs, maxIter = r), 2, (15, 15), (5, 5)),
    ("labelPropagation", r => Graph.labelPropagation(edges, iterations = r), 1, (14, 14),
      (10, 10)),
    ("kCore", r => Graph.kCore(edges, k = 2, rounds = r), 2, (12, 12), (4, 4)),
    ("bradleyTerryFit", r => Preference.bradleyTerryFit(comparisons, rounds = r), 1,
      (15, 15), (7, 7)))

  for ((name, call, rounds, perCall, perRound) <- budgets)
    test(s"$name runs its stage budget: $perCall (jobs, stages) at $rounds " +
      s"rounds, $perRound per further round") {
      val atRounds = counted(call(rounds))
      val oneMore = counted(call(rounds + 1))
      val round = (oneMore._1 - atRounds._1, oneMore._2 - atRounds._2)
      assert((atRounds, round) == ((perCall, perRound)),
        s"(per call, per round) at $rounds rounds")
    }

  for ((name, call) <- Seq[(String, Int => DataFrame)](
      ("pageRank", r => Graph.pageRank(edges, iterations = r)),
      ("personalizedPageRank", r => Graph.personalizedPageRank(edges, sources, iterations = r)),
      ("hits", r => Graph.hits(edges, iterations = r)),
      ("clusterNearDups", r => Dedup.clusterNearDups(pairs, maxIter = r))))
    test(s"$name: round 2 plans like round 1 and compiles no new class") {
      // one round compiles every class of the call; a second call with
      // two rounds may only reuse them (round 1 of hits is two half-steps)
      counted(call(1))
      val fresh = compiled(counted(call(2)))
      assert(fresh == 0, s"the second round compiled $fresh new classes")
    }

  // ------------------------------------------- persisted-index probes

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_stages_$tag").toString

  /** sf0.001 embeddings, q124's centroids and a 16-vector codebook. */
  private lazy val (emb, cents) = {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    (e, e.filter($"vec_id" % 97 === 0)
      .select(($"vec_id" / 97).cast("int").as("cell_id"), $"embedding".as("centroid")))
  }
  private def codebook(pick: Long) = emb
    .filter($"vec_id" % pick === 0 && $"vec_id" / pick < 16)
    .select(($"vec_id" / pick).cast("int").as("cid"), $"embedding".as("centroid"))
  private def batchProbe(path: String): DataFrame =
    Similarity.ivfPqTopKBatch(spark, path, emb, $"vec_id" % 50 === 1, k = 5)

  test("IVF-PQ lifecycle runs no schema job; a warm ivfPqTopKBatch runs <= 4 jobs") {
    val cb = codebook(37L)
    cb.schema // resolved before counting: the fixtures' own read is not the index's
    ColumnBridge.waitListenerBusEmpty(spark)
    val schema0 = schemaJobs.get
    val path = tmp("ivfpq")
    Similarity.buildIvfPqIndex(emb.filter($"vec_id" < 300), cents, cb, path,
      m = 4, residual = true)
    Similarity.appendToIvfPqIndex(spark, path,
      emb.filter($"vec_id" >= 300 && $"vec_id" < 400))
    Similarity.deleteFromIvfPqIndex(spark, path, emb.filter($"vec_id" % 7 === 0))
    val beforeCompact = counted(batchProbe(path))
    Similarity.compactIvfPqIndex(spark, path)
    val afterCompact = counted(batchProbe(path))
    ColumnBridge.waitListenerBusEmpty(spark)
    assert(schemaJobs.get - schema0 == 0, "schema jobs across the lifecycle")
    assert(beforeCompact._1 <= 4 && afterCompact._1 <= 4,
      s"(jobs, stages) before compaction $beforeCompact, after $afterCompact")
  }

  test("a second IVF-PQ index generation of the same shape compiles no new class") {
    val path = tmp("ivfpq_gen")
    Similarity.buildIvfPqIndex(emb, cents, codebook(37L), path, m = 4)
    val first = batchProbe(path).collect().toSet
    Similarity.buildIvfPqIndex(emb, cents, codebook(29L), path, m = 4)
    var second = Set.empty[org.apache.spark.sql.Row]
    val fresh = compiled { second = batchProbe(path).collect().toSet }
    assert(second != first, "the rebuilt codebook did not reach the probe")
    assert(fresh == 0, s"the second generation compiled $fresh new classes")
  }

  test("bm25SearchIndexed on a warm handle runs <= 4 jobs") {
    val path = tmp("bm25")
    try {
      TextAnalysis.buildBm25Index(Tables.documents(spark, sf0001), "stages_bm", path,
        numBuckets = 8)
      def search() = TextAnalysis.bm25SearchIndexed(spark, "stages_bm",
        Seq("table", "scan", "vector"), topK = 10)
      counted(search())
      val (j, st) = counted(search())
      assert(j <= 4, s"(jobs, stages) = ($j, $st)")
    } finally {
      Seq("stages_bm_postings", "stages_bm_docstats", "stages_bm_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
