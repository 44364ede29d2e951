package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("transitionEdges counts consecutive type pairs per user, ts then id order") {
    // user 1: a→b→a (ties on ts broken by event_id); user 2: a→b
    val ev = Seq(
      (1L, 1L, 10L, "a"), (2L, 1L, 20L, "b"), (3L, 1L, 20L, "a"),
      (4L, 2L, 5L, "a"), (5L, 2L, 6L, "b")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val edges = Graph.transitionEdges(ev)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(edges == Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }

  test("pageRank: symmetric 2-cycle stays uniform; total mass is 1") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "weight")
    val r = Graph.pageRank(edges, iterations = 5).as[(String, Double)]
      .collect().toMap
    assert(r("a") == 0.5 && r("b") == 0.5)
    assert(math.abs(r.values.sum - 1.0) < 1e-5)
  }

  test("pageRank: dangling node redistributes mass, sum stays 1") {
    // a→b, b has no out-edges: b's mass returns uniformly each round
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "weight")
    val r = Graph.pageRank(edges, iterations = 20).as[(String, Double)]
      .collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-4)
    assert(r("b") > r("a")) // b receives a's full flow plus its share
  }

  test("pageRank: heavier-weighted target outranks the lighter one") {
    // c splits 3:1 toward a over b; a and b both return to c
    val edges = Seq(("c", "a", 3L), ("c", "b", 1L),
      ("a", "c", 1L), ("b", "c", 1L)).toDF("src", "dst", "weight")
    val r = Graph.pageRank(edges, iterations = 15).as[(String, Double)]
      .collect().toMap
    assert(r("a") > r("b"))
    assert(math.abs(r.values.sum - 1.0) < 1e-4)
  }

  test("pageRank matches a driver-side reference implementation exactly") {
    val es = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L),
      ("a", "c", 1L), ("c", "d", 2L)) // d dangles
    val iters = 7; val damping = 0.85
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val outdeg = es.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var rank = nodes.map(_ -> rnd(1.0 / n)).toMap
    val base = (1.0 - damping) / n
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(outdeg.contains).map(rank).sum
      val contrib = es.groupBy(_._2).view.mapValues(
        _.map(e => rank(e._1) * (e._3.toDouble / outdeg(e._1))).sum).toMap
      rank = nodes.map(v =>
        v -> rnd(base + damping * (contrib.getOrElse(v, 0.0) + dm / n))).toMap
    }
    val got = Graph.pageRank(es.toDF("src", "dst", "weight"),
      iterations = iters, damping = damping)
      .as[(String, Double)].collect().toMap
    assert(got == rank, s"got=$got expected=$rank")
  }

  test("personalizedPageRank: seed holds the most mass; off-seed teleport is zero") {
    // star: s → a, b, c; nothing returns, so all flow re-teleports to s
    val edges = Seq(("s", "a", 1L), ("s", "b", 1L), ("s", "c", 1L))
      .toDF("src", "dst", "weight")
    val r = Graph.personalizedPageRank(edges, Seq("s").toDF("node"),
      iterations = 20).as[(String, Double)].collect().toMap
    assert(r("s") > r("a"))
    assert(r("a") == r("b") && r("b") == r("c")) // symmetric targets
    assert(math.abs(r.values.sum - 1.0) < 1e-4)  // mass conserved
  }

  test("personalizedPageRank with all nodes as sources equals plain pageRank") {
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L),
      ("a", "c", 1L), ("c", "d", 2L)).toDF("src", "dst", "weight")
    val all = Seq("a", "b", "c", "d").toDF("node")
    val plain = Graph.pageRank(edges, iterations = 7)
      .as[(String, Double)].collect().toMap
    val ppr = Graph.personalizedPageRank(edges, all, iterations = 7)
      .as[(String, Double)].collect().toMap
    assert(plain == ppr)
  }

  test("personalizedPageRank rejects a teleport set disjoint from the graph") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "weight")
    val e = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq("zz").toDF("node"))
    }
    assert(e.getMessage.contains("teleport set is empty"))
  }

  test("labelPropagation: two weighted cliques converge to two communities") {
    // a1<->a2 heavy, b1<->b2 heavy, one light bridge a2->b1
    val edges = Seq(
      ("a1", "a2", 10L), ("a2", "a1", 10L),
      ("b1", "b2", 10L), ("b2", "b1", 10L),
      ("a2", "b1", 1L)
    ).toDF("src", "dst", "weight")
    val got = Graph.labelPropagation(edges, iterations = 5)
      .as[(String, String)].collect().toMap
    assert(got("a1") == got("a2"))
    assert(got("b1") == got("b2"))
    assert(got("a1") != got("b1"))
  }

  test("labelPropagation: vote ties resolve to the lexicographically smallest label") {
    // c receives equal weight from a and b → adopts min(label) = a's
    val edges = Seq(("a", "c", 5L), ("b", "c", 5L))
      .toDF("src", "dst", "weight")
    val got = Graph.labelPropagation(edges, iterations = 1)
      .as[(String, String)].collect().toMap
    assert(got("c") == "a")
    assert(got("a") == "a" && got("b") == "b") // no in-edges → keep
  }

  test("cheapestPaths: hand-checked -ln probability costs, unreached dropped") {
    // s -> a (2/3), s -> b (1/3), a -> b (1); z is disconnected from s
    val edges = Seq(("s", "a", 2L), ("s", "b", 1L), ("a", "b", 1L),
      ("z", "s", 1L)).toDF("src", "dst", "weight")
    val got = Graph.cheapestPaths(edges, source = "s", iterations = 4)
      .as[(String, Double)].collect().toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ca = r6(-math.log(2.0 / 3.0))
    val cbDirect = r6(-math.log(1.0 / 3.0))
    val cbViaA = ca + r6(-math.log(1.0)) // = ca: a->b is certain
    assert(got("s") == 0.0)
    assert(got("a") == ca)
    assert(got("b") == r6(math.min(cbDirect, cbViaA)))
    assert(!got.contains("z"), "unreachable node must drop from the output")
  }

  test("triangleCounts: canonical enumeration, direction/weight/loops ignored") {
    // triangles {a,b,c} and {b,c,d} share edge b-c; e hangs off a (no
    // triangle); a self-loop and a reversed duplicate edge must not count
    val edges = Seq(
      ("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L), // triangle 1
      ("c", "b", 9L),                    // reverse duplicate of b-c
      ("b", "d", 1L), ("d", "c", 1L),    // triangle 2 via shared b-c
      ("a", "e", 1L),                    // dangling edge
      ("d", "d", 5L)                     // self-loop
    ).toDF("src", "dst", "weight")
    val got = Graph.triangleCounts(edges)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("clusteringCoefficients: exact fractions, degree-<2 nodes score 0") {
    // a-b-c triangle with d hanging off c: cc(a)=cc(b)=1 (deg 2, 1 tri),
    // cc(c)=2·1/(3·2)=1/3, cc(d)=0 (deg 1)
    val edges = Seq(
      ("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L), ("c", "d", 1L)
    ).toDF("src", "dst", "weight")
    val got = Graph.clusteringCoefficients(edges)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      "a" -> (2L, 1L, 1.0), "b" -> (2L, 1L, 1.0),
      "c" -> (3L, 1L, math.rint(1.0 / 3.0 * 1e6) / 1e6),
      "d" -> (1L, 0L, 0.0)))
  }

  test("wccCensus: multi-component graph histograms sizes correctly") {
    // three weak components: {a,b,c} (chain), {d,e} (pair), {f} (pure
    // self-loop) → histogram {3→1, 2→1, 1→1}; direction must not matter
    // (c→b covers the reversed-edge case)
    val edges = Seq(
      ("a", "b"), ("c", "b"), ("d", "e"), ("f", "f")
    ).toDF("src", "dst")
    val got = Graph.wccCensus(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 2L -> 1L, 1L -> 1L), s"got $got")
  }

  test("kCore: path graph peels one layer per round (fixed-round contract)") {
    // path 1-2-...-7, k=2: each round strips the current endpoints
    val edges = (1 to 6).map(i => (s"n$i", s"n${i + 1}"))
      .toDF("src", "dst")
    def run(rounds: Int): Map[String, Long] =
      Graph.kCore(edges, k = 2, rounds = rounds)
        .as[(String, Long)].collect().toMap
    assert(run(1) == Map("n2" -> 1L, "n3" -> 2L, "n4" -> 2L,
      "n5" -> 2L, "n6" -> 1L))
    assert(run(2) == Map("n3" -> 1L, "n4" -> 2L, "n5" -> 1L))
    assert(run(3) == Map.empty[String, Long]) // fully peeled
  }

  test("kCore: a 2-core (triangle) survives any number of rounds; " +
    "tail and duplicate/reversed edges handled") {
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), // triangle = the 2-core
      ("c", "d"),                         // tail, peels round 1
      ("b", "a")                          // reversed duplicate must not double-count
    ).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 2, rounds = 5)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("modularity: barbell communities score 70/196, " +
    "the everything-community scores 0") {
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"),
      ("c", "d")
    ).toDF("src", "dst").withColumn("weight", lit(1L))
    val twoComms = Seq(("a", 1L), ("b", 1L), ("c", 1L),
      ("d", 2L), ("e", 2L), ("f", 2L)).toDF("node", "label")
    val r = Graph.modularity(edges, twoComms)
      .as[(Long, Long, Double)].collect().head
    assert(r == ((2L, 14L, 0.357143)))
    val oneComm = twoComms.withColumn("label", lit(1L))
    val r1 = Graph.modularity(edges, oneComm)
      .as[(Long, Long, Double)].collect().head
    assert(r1 == ((1L, 14L, 0.0)))
  }

  test("degreeAssortativity: star is -1, 4-path is -0.5, " +
    "regular graph has no variance (NULL)") {
    def r(edges: Seq[(String, String)]): Option[Double] = {
      val row = Graph.degreeAssortativity(edges.toDF("src", "dst"))
        .collect().head
      if (row.isNullAt(row.fieldIndex("assortativity"))) None
      else Some(row.getAs[Double]("assortativity"))
    }
    assert(r(Seq(("h", "a"), ("h", "b"), ("h", "c"))).contains(-1.0))
    assert(r(Seq(("1", "2"), ("2", "3"), ("3", "4"))).contains(-0.5))
    assert(r(Seq(("a", "b"), ("b", "c"), ("c", "a"))).isEmpty) // triangle
  }

  test("coOccurrencePairs: duplicate observations collapse, the hot-key " +
    "cap keeps the LOWEST maxPerKey items, pair support counts keys") {
    val obs = Seq(
      // key 1: items 10,20,30 (20 observed twice — must count once)
      (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L),
      // key 2: shares (10,20) with key 1
      (2L, 10L), (2L, 20L),
      // hot key 3: items 1..6 — cap at 3 keeps {1,2,3} only
      (3L, 1L), (3L, 2L), (3L, 3L), (3L, 4L), (3L, 5L), (3L, 6L),
      // key 4: single item — no pairs
      (4L, 99L)
    ).toDF("k", "i")
    val got = Graph.coOccurrencePairs(obs, "k", "i", maxPerKey = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L), // keys 1+2
      (1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))      // hot key capped
  }

  test("hits: star graph fixpoint — center is the pure hub, " +
    "leaves split authority; both scores L1-normalize") {
    val edges = Seq(
      ("hub", "a", 1L), ("hub", "b", 1L), ("hub", "c", 1L)
    ).toDF("src", "dst", "weight")
    val got = Graph.hits(edges, iterations = 10)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("hub") == ((1.0, 0.0)))
    assert(got("a") == ((0.0, 0.333333)))
    assert(got("b") == ((0.0, 0.333333)))
    assert(got("c") == ((0.0, 0.333333)))
  }
}
