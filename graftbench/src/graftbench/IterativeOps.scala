package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Preference}

/** Driver-loop operators whose wall time is mostly Spark job latency:
  * PageRank, personalized PageRank, label propagation, k-core and HITS on a
  * skewed graph (power-law out-degrees, preferential targets, one hub),
  * Bradley–Terry on pairwise comparisons, and connected components over
  * near-duplicate pairs. Each operator's result checksum must be the same
  * in every pass; PageRank's mass must sum to 1 within its rounding.
  */
object IterativeOps extends Workload {
  val name = "iterative_ops"

  final case class Sizes(nodes: Int, maxDegree: Int, items: Int, comparisons: Int,
                         pairIds: Int)
  val sizes: Map[Scale, Sizes] = Map(
    Scale.Full -> Sizes(nodes = 800, maxDegree = 30, items = 100, comparisons = 3000,
      pairIds = 1200),
    Scale.Tiny -> Sizes(nodes = 200, maxDegree = 10, items = 20, comparisons = 300,
      pairIds = 300))
  /** Rounds per operator: few, so a pass stays near a hundred jobs. */
  val Iterations = 2

  /** Variant 0 runs PageRank, label propagation, k-core and Bradley–Terry;
    * variant 1 personalized PageRank, HITS and connected components.
    */
  override def variants: Int = 2

  val RoundTo = 6

  private var edges: DataFrame = _
  private var sources: DataFrame = _
  private var comparisons: DataFrame = _
  private var pairs: DataFrame = _
  private var nodeCount = 0L
  /** Each operator's fold in the first pass of the run. */
  private val firstFolds = mutable.Map.empty[String, Fold]

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Scale): Unit = {
    import spark.implicits._
    val sz = sizes(scale)
    val rnd = new scala.util.Random(seed)
    // preferential targets: low ids are popular; node 0 is the hub
    def target(): Long = (sz.nodes * math.pow(rnd.nextDouble(), 2.5)).toLong
    val es = mutable.LinkedHashMap.empty[(Long, Long), Double]
    for (n <- 0L until sz.nodes) {
      val deg = math.min(sz.maxDegree, (1.0 / math.pow(rnd.nextDouble(), 0.8)).toInt)
      for (_ <- 0 until deg) es((n, target())) = 1.0 + rnd.nextInt(4)
      if (rnd.nextDouble() < 0.2) es((n, 0L)) = 1.0
      if (rnd.nextDouble() < 0.05) es((0L, n)) = 1.0
    }
    // node ids are strings, as in the engine's event-transition graphs
    // (label propagation hashes them)
    val edgeRows = es.toSeq.collect { case ((s, d), w) if s != d => (s"n$s", s"n$d", w) }
    nodeCount = edgeRows.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong

    val strength = Array.fill(sz.items)(math.exp(rnd.nextGaussian()))
    val cmpRows = Seq.fill(sz.comparisons) {
      val i = rnd.nextInt(sz.items)
      val j = (i + 1 + rnd.nextInt(sz.items - 1)) % sz.items
      if (rnd.nextDouble() < strength(i) / (strength(i) + strength(j))) (i.toLong, j.toLong)
      else (j.toLong, i.toLong)
    }

    // near-dup pairs: clusters of 2-3 ids, each member paired with an
    // earlier one (a random tree, as LSH pairs of one duplicate group)
    val ids = rnd.shuffle((1L to sz.pairIds).toList).toIndexedSeq
    val pairRows = mutable.ArrayBuffer.empty[(Long, Long)]
    var at = 0
    while (at < sz.pairIds) {
      val n = math.min(2 + rnd.nextInt(2), sz.pairIds - at)
      for (k <- 1 until n) pairRows += ((ids(at + rnd.nextInt(k)), ids(at + k)))
      at += n
    }

    def stage(df: DataFrame, name: String): DataFrame = {
      val p = new File(dir, s"$name.parquet").toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    edges = stage(edgeRows.toDF("src", "dst", "weight"), "edges")
    sources = stage((0 +: Seq.fill(20)(rnd.nextInt(sz.nodes))).distinct.map(n => s"n$n").toDF("node"),
      "sources")
    comparisons = stage(cmpRows.toDF("winner", "loser"), "comparisons")
    pairs = stage(pairRows.toSeq.toDF("id_a", "id_b"), "pairs")
    firstFolds.clear()
  }

  def pass(ctx: Ctx): Unit = {
    def op(metric: String, opName: String)(body: => DataFrame)
          (after: DataFrame => Unit = _ => ()): Unit = {
      val fold = ctx.query(metric, opName, probe = true)(body)(after)
      firstFolds.get(metric) match {
        case None => firstFolds(metric) = fold
        case Some(f) => ctx.check(s"$opName checksum", f == fold,
          s"pass ${ctx.pass} $fold, first pass $f")
      }
    }

    if (ctx.variant == 0) {
      op("graph.pagerank", "pageRank")(Graph.pageRank(edges, iterations = Iterations,
        roundTo = RoundTo)) { ranks =>
        val r = if (ctx.fault) ranks.withColumn("rank",
          when(col("node") === "n0", col("rank") * 2).otherwise(col("rank"))) else ranks
        val mass = r.agg(sum(col("rank"))).head().getDouble(0)
        // every rank is rounded to RoundTo decimals: at most half a unit each
        val slack = nodeCount * 0.5 * math.pow(10, -RoundTo) + 1e-9
        ctx.check("pagerank mass", math.abs(mass - 1.0) <= slack,
          f"sum(rank) = $mass%.9f, allowed 1 ± $slack%.2e")
      }
      op("graph.lpa", "labelPropagation")(Graph.labelPropagation(edges, iterations = 1))()
      op("graph.kcore", "kCore")(Graph.kCore(edges, k = 3, rounds = Iterations))()
      op("preference.bt", "bradleyTerryFit")(Preference.bradleyTerryFit(comparisons, rounds = 1))()
    } else {
      op("graph.ppr", "personalizedPageRank")(Graph.personalizedPageRank(edges, sources,
        iterations = Iterations, roundTo = RoundTo))()
      op("graph.hits", "hits")(Graph.hits(edges, iterations = Iterations, roundTo = RoundTo))()
      op("dedup.cc", "clusterNearDups")(Dedup.clusterNearDups(pairs, idCol = "doc_id"))()
    }
  }
}
