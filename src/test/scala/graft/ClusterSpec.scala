package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("clusterNearDups: components converge to min-id labels") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val got = Dedup.clusterNearDups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clusterNearDups handles a long chain within maxIter") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusterNearDups(chain, maxIter = 20)
      .as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 1L))
  }

  test("pointer doubling: a 300-node chain converges in ~log rounds, not 300") {
    // neighbor-min alone moves the min one hop per round (300 rounds);
    // with doubling, 12 rounds must suffice
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusterNearDups(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 300)
    assert(got.values.forall(_ == 1L))
  }

  test("clusterNearDups on an empty pair list returns empty (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusterNearDups(empty).count() == 0)
  }

  test("clusterNearDups matches a local union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 400
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val got = Dedup.clusterNearDups(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    assert(got == expected)
  }

  test("keepBestPerCluster picks the max-score member, ties to the lower id") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // cluster 1: best score on 2
      (10L, 10L), (11L, 10L),          // cluster 10: tie → lower id 10
      (20L, 20L)                       // singleton
    ).toDF("doc_id", "cluster_rep")
    val scored = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9 - 1e-6),
      (10L, 0.5), (11L, 0.5),
      (20L, 0.1)
    ).toDF("doc_id", "quality_prob")
    val got = Dedup.keepBestPerCluster(clusters, scored)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((2L, 0.9, 3L)),
      10L -> ((10L, 0.5, 2L)),
      20L -> ((20L, 0.1, 1L))))
  }

  test("kmeansCentroids separates well-separated clusters") {
    val vecs = (0 until 30).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.001f, 0.0f, 0.0f))
      else (i.toLong, Array(0.0f, 1.0f + i * 0.001f, 0.0f))
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(vecs, k = 2, iterations = 3)
    val cents = centroids.select("cell_id", "centroid")
      .as[(Int, Seq[Double])].collect().toMap
    assert(cents.size == 2)
    // one centroid per axis direction
    val axes = cents.values.map(c => if (c(0) > c(1)) 0 else 1).toSet
    assert(axes == Set(0, 1))
    // assignment splits the clusters cleanly
    val cells = Similarity.assignCells(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("__v")),
      centroids, "__v")
      .select("vec_id", "cell_id").as[(Long, Int)].collect().toMap
    val evenCells = cells.filter(_._1 % 2 == 0).values.toSet
    val oddCells = cells.filter(_._1 % 2 == 1).values.toSet
    assert(evenCells.size == 1 && oddCells.size == 1 && evenCells != oddCells)
  }

  test("kmeans → persisted IVF end-to-end: trained centroids route an indexed probe") {
    // the full production composition: train centroids on the corpus,
    // persist the partitioned index, probe it — no DuckDB oracle exists
    // for iterative float state, so the pins are tier equality (indexed
    // == inline on the same centroids) and recall against exact search
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = Similarity.kmeansCentroids(emb, k = 8, iterations = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans_ivf").toString
    Similarity.buildIvfIndex(emb, centroids, s"$dir/ivf")
    val indexed = Similarity.ivfTopKIndexed(spark, s"$dir/ivf", centroids,
      queryId = 1L, k = 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val inline = Similarity.ivfTopK(emb, centroids, queryId = 1L, k = 10,
      nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(indexed == inline) // tier equivalence under trained centroids
    val exact = Similarity.cosineTopK(emb, queryId = 1L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    assert((indexed.toSet intersect exact).size >= 3,
      s"recall too low: indexed=$indexed exact=$exact")
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseLocalCheckpoint(centroids)
  }

  test("ivfTopK: probing the right cells finds the brute-force neighbors") {
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = emb.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") / 97).cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val approx = Similarity.ivfTopK(emb, centroids, queryId = 1L, k = 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val exact = Similarity.cosineTopK(emb, queryId = 1L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    // approximate: require meaningful overlap with the exact answer
    assert(approx.size == 10)
    assert((approx intersect exact).size >= 3,
      s"recall too low: approx=$approx exact=$exact")
  }

  test("integerKMeansReport: hand-replayed 1-D Lloyd — truncating means, " +
    "lowest-id init, exact inertia") {
    // micro-units: ids 1..4 at -5, -3, 4, 6; k=2, rounds=2
    // init c0=-5 c1=-3; r1: {1}->c0, {2,3,4}->c1, c0=-5, c1=7 DIV 3=2
    // r2: {1,2}->c0 (c0=-(8 DIV 2)=-4), {3,4}->c1 (c1=10 DIV 2=5)
    // final: c0 {1,2} inertia 1+1, c1 {3,4} inertia 1+1
    val emb = Seq(
      (1L, Seq(-5e-6)), (2L, Seq(-3e-6)), (3L, Seq(4e-6)), (4L, Seq(6e-6)))
      .toDF("vec_id", "embedding")
    val got = Similarity.integerKMeansReport(emb, k = 2, rounds = 2)
      .orderBy("cluster")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 2L, 3L, 2L, -4L), (1, 2L, 7L, 2L, 5L)))
  }

  test("integerKMeansReport: negative-sum mean truncates toward zero " +
    "(Spark DIV), matching DuckDB // on |s|") {
    // k=1: s = -7, n = 2 -> -(7 DIV 2) = -3, NOT floor(-3.5) = -4
    val emb = Seq((1L, Seq(-3e-6)), (2L, Seq(-4e-6)))
      .toDF("vec_id", "embedding")
    val got = Similarity.integerKMeansReport(emb, k = 1, rounds = 1).head()
    assert(got.getAs[Long]("centroid_sum") == -3L)
    // final dists: (-3-(-3))² = 0, (-4-(-3))² = 1
    assert(got.getAs[Long]("inertia") == 1L)
  }

  test("kCenterCoreset: hand-replayed greedy rounds — farthest-first, " +
    "ties to lowest id, non-increasing min_dist_sq") {
    // 1-D micro-units: ids 1..5 at 0, 10, 1, 9, 5
    // seed id1 (lowest id); r2: farthest from {0} is id2 (100);
    // r3: min-dists to {0,10}: id3=1, id4=1, id5=25 -> id5 (25)
    val emb = Seq((1L, Seq(0e-6)), (2L, Seq(10e-6)), (3L, Seq(1e-6)),
      (4L, Seq(9e-6)), (5L, Seq(5e-6))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(emb, k = 3)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((1, 1L, 0L), (2, 2L, 100L), (3, 5L, 25L)))
    // empty in, empty out: an empty corpus and a pool the hash gate
    // empties both select nothing, with the result's schema intact
    val empty = Similarity.kCenterCoreset(emb.limit(0), k = 3)
    assert(empty.columns.toSeq == Seq("selection_rank", "vec_id", "min_dist_sq"))
    assert(empty.count() == 0)
    val gated = emb.filter(graft.functions.md5Hash31(
      col("vec_id").cast("string")) % 100 >= 1)
    assert(Similarity.kCenterCoreset(gated, k = 3, poolPercent = 1).count() == 0)
  }

  test("integerKMeansReport: coincident init centroids tie to the " +
    "lowest cluster; the emptied cluster reports no row") {
    val emb = Seq((1L, Seq(5e-6)), (2L, Seq(5e-6)))
      .toDF("vec_id", "embedding")
    val got = Similarity.integerKMeansReport(emb, k = 2, rounds = 2)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 2L, 3L, 0L, 5L)))
  }
}
