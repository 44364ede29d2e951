package graft

import graft.ops.{Dedup, Graph, Preference, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.BeforeAndAfterAll

/** Checkpoint ownership ([[graft.Materialize]]): an operator releases
  * every checkpoint it makes except the ones its result reads, so once
  * the caller has consumed and released the result, the set of
  * persistent RDDs is exactly what it was before the call. An operator
  * that throws after materialising something must leave that set
  * unchanged too. One row per operator.
  */
class CheckpointLifetimeSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  override def beforeAll(): Unit = {
    super.beforeAll()
    // start from a quiet BlockManager: blocks that earlier suites left
    // for the ContextCleaner could otherwise vanish in the middle of a
    // row and make an unchanged set look changed
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private def edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
    ("c", "d", 1L), ("d", "b", 1L), ("d", "e", 3L)).toDF("src", "dst", "weight")

  private def docs = Seq(
    (1L, "the cat sat on the mat and the cat slept"),
    (2L, "the dog sat on the log and the dog barked"),
    (3L, "a cat and a dog sat on the mat together"),
    (4L, "the mat and the log were near the cat")).toDF("doc_id", "text")

  private def reference = Seq(
    (10L, "the cat sat on the log"),
    (11L, "a dog slept on the mat and the cat sat")).toDF("doc_id", "text")

  private def vectors(n: Int) = (0 until n).map { i =>
    if (i % 2 == 0) (i.toLong, Array(1.0f, 0.0f, 0.0f))
    else (i.toLong, Array(0.0f, 1.0f, 0.0f))
  }.toDF("vec_id", "embedding")

  /** (operator, call, consume): the call's result is consumed, then
    * released by the caller.
    */
  private val returning: Seq[(String, () => DataFrame, DataFrame => Unit)] =
    Seq(
      ("pageRank", () => Graph.pageRank(edges, iterations = 4),
        r => assert(r.count() == 5)),
      ("personalizedPageRank", () => Graph.personalizedPageRank(edges,
        Seq("a").toDF("node"), iterations = 4), r => assert(r.count() == 5)),
      ("labelPropagation", () => Graph.labelPropagation(edges, 3),
        r => assert(r.count() == 5)),
      ("kCore", () => Graph.kCore(edges, k = 2, rounds = 3),
        r => assert(r.count() == 4)),
      ("hits", () => Graph.hits(edges, iterations = 3),
        r => assert(r.count() == 5)),
      ("cheapestPaths", () => Graph.cheapestPaths(edges, "a", 4),
        r => assert(r.count() == 5)),
      ("bradleyTerryFit", () => Preference.bradleyTerryFit(
        Seq(("x", "y"), ("y", "z"), ("x", "z"), ("z", "x"), ("y", "x"))
          .toDF("winner", "loser")), r => assert(r.count() == 3)),
      ("clusterNearDups", () => Dedup.clusterNearDups(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")),
        r => assert(r.as[(Long, Long)].collect().toMap ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))),
      // two tight, well-separated clusters: assignment is stable after the
      // first mean update, so the movement delta hits zero long before a
      // generous iteration budget and the early exit must fire
      ("kmeansCentroidsWithRounds", () => {
        val (centroids, rounds) =
          Similarity.kmeansCentroidsWithRounds(vectors(30), k = 2,
            iterations = 50)
        assert(rounds < 50, s"ran all $rounds rounds — early exit never fired")
        assert(rounds >= 1)
        centroids
      }, r => assert(r.count() == 2)),
      ("ppmiPowerIteration", () => TextAnalysis.ppmiPowerIteration(docs,
        minCount = 1), r => assert(r.count() > 0)),
      ("ppmiTopDirections", () => TextAnalysis.ppmiTopDirections(docs,
        minCount = 1, k = 2), r => assert(r.count() > 0)),
      ("bpeTrainMerges", () => TextAnalysis.bpeTrainMerges(docs, rounds = 3),
        r => assert(r.count() == 3)),
      ("trigramKnCrossEntropy (q324)",
        () => TextAnalysis.trigramKnCrossEntropy(docs),
        r => assert(r.count() == 4)),
      ("refTrigramKnCrossEntropy (q327)",
        () => TextAnalysis.refTrigramKnCrossEntropy(docs, reference),
        r => assert(r.count() == 4)),
      ("ngramKnCrossEntropy", () => TextAnalysis.ngramKnCrossEntropy(docs,
        order = 4), r => assert(r.count() == 4)),
      ("refNgramKnCrossEntropy", () => TextAnalysis.refNgramKnCrossEntropy(
        docs, reference, order = 4), r => assert(r.count() == 4)))

  for ((name, call, consume) <- returning)
    test(s"$name releases every checkpoint but its result's") {
      val before = persisted
      val out = call()
      consume(out)
      ColumnBridge.releaseLocalCheckpoint(out)
      assert(persisted == before,
        s"persistent RDDs left behind: ${persisted -- before}")
    }

  /** (operator and input, call): each call throws after materialising
    * something.
    */
  private val throwing: Seq[(String, () => Any)] = Seq(
    ("personalizedPageRank with a source set disjoint from the graph",
      () => Graph.personalizedPageRank(edges, Seq("zz").toDF("node"))),
    ("hits on an empty edge list", () => Graph.hits(edges.limit(0))),
    ("bpeTrainMerges asked for more merges than the corpus has pairs",
      () => TextAnalysis.bpeTrainMerges(Seq((1L, "ab")).toDF("doc_id", "text"),
        rounds = 4)),
    ("kCenterCoreset on a pool smaller than k",
      () => Similarity.kCenterCoreset(vectors(2), k = 5)),
    ("mmrSelect when its candidate pool runs out",
      () => Similarity.mmrSelect(vectors(3), queryId = 0L, k = 3,
        poolSize = 3)))

  for ((name, call) <- throwing)
    test(s"$name throws and leaves no checkpoint behind") {
      val before = persisted
      intercept[Exception](call())
      assert(persisted == before,
        s"persistent RDDs left behind: ${persisted -- before}")
    }
}
