package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators over relational event data (north-star extension;
  * SURVEY.md §2.11): edge derivation from event sequences and weighted
  * PageRank — the classic link-analysis primitive (Page et al. 1999,
  * public), useful in a training-data pipeline for source/domain authority
  * weighting and for ranking entities in interaction graphs.
  *
  * Scale design: the graph lives as two relations — nodes(node) and
  * edges(src, dst, weight) — partitioned by their keys; every iteration is
  * one equi-join + one partial-aggregated groupBy, both shuffling only
  * (id, double) pairs. Nothing graph-sized ever reaches the driver: the
  * per-round dangling mass is a scalar aggregate (the CC-convergence
  * pattern in [[Dedup.clusterNearDups]]).
  */
object Graph {

  /** Directed weighted transition edges between consecutive `typeCol`
    * values per `userCol`, ordered by (`tsCol`, `idCol`) — the id breaks
    * timestamp ties deterministically. One window pass over the event log,
    * then a partial-aggregated count: the edge relation is
    * |distinct (src, dst)|-sized, not event-sized.
    */
  def transitionEdges(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts", idCol: String = "event_id",
                      typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .select(col(typeCol).as("dst"), lag(col(typeCol), 1).over(w).as("src"))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
  }

  /** Weighted PageRank with damping over edges(src, dst, weight): rank
    * flows along out-edges proportionally to weight; dangling-node mass is
    * redistributed uniformly. Runs EXACTLY `iterations` rounds — no
    * convergence early-exit, deliberately: the result contract is "the
    * fixed-point iterate after N rounds", which a SQL oracle can replay by
    * unrolling N layers ([[pageRankOracleSql]]); a data-dependent exit
    * would make the unroll depth unknowable.
    *
    * Determinism: ranks are rounded to `roundTo` decimals after every
    * round (and at init), so both engines feed identical inputs into the
    * next round; driver-computed scalars replicate the oracle's IEEE op
    * order — (1 − damping)/n as subtract-then-divide, dm/n as one
    * division — and edge normalization is materialized as weight/outdeg
    * BEFORE multiplying by rank, in both engines.
    *
    * Per-round plan: ranks ⋈ normalized-edges on node = src (both sides
    * keyed, narrow), partial-aggregated sum by dst, left join back to
    * nodes. Each round's result is localCheckpointed and the superseded
    * round released immediately (the [[Similarity.kmeansCentroids]] block
    * hygiene); nodes and the normalized edge relation checkpoint once and
    * release before return.
    */
  /** Co-occurrence pair counts over (key, item) observations — the
    * recommender / co-purchase building block ("customers who bought A
    * also bought B"): distinct items per key, unordered item pairs
    * within each key, pair support = #keys sharing both. The classic
    * scale hazard is the HOT KEY (a crawler account touching 10⁶ items
    * explodes to 10¹² pairs); `maxPerKey` caps every key's basket to
    * its lowest-id `maxPerKey` items BEFORE pairing — deterministic
    * (sorted, not sampled) so an SQL oracle replays the cap exactly,
    * and the per-key work is bounded at C(maxPerKey, 2) regardless of
    * skew. Returns (item_a, item_b, n_keys) with item_a < item_b.
    *
    * The cap is enforced with BOUNDED AGGREGATION STATE end to end
    * (VERDICT r11): distinct (key, item) pairs hash-partition across
    * the cluster, then [[graft.plans.TopK.perGroup]] pre-cuts each key
    * to its `maxPerKey` lowest items with a partial-aggregated bounded
    * heap — a pathological hot key never materializes more than
    * `maxPerKey` items in any single buffer. (The earlier
    * `slice(sort_array(collect_set(...)))` form bounded the PAIR
    * explosion but built the full distinct-item array per key in one
    * aggregation buffer before slicing.)
    */
  def coOccurrencePairs(df: DataFrame, keyCol: String, itemCol: String,
                        maxPerKey: Int = 50): DataFrame = {
    require(maxPerKey >= 2, s"maxPerKey must be >= 2: $maxPerKey")
    val distinctPairs = df
      .select(col(keyCol).as("__k"), col(itemCol).as("__i"))
      .distinct()
    graft.plans.TopK.perGroup(distinctPairs, Seq("__k"),
        Seq(("__i", false)), maxPerKey) // lowest maxPerKey items asc
      .groupBy(col("__k"))
      .agg(sort_array(collect_list(col("__i"))).as("__items"))
      .filter(size(col("__items")) > 1)
      .select(explode(
        flatten(transform(col("__items"), (x, i) =>
          transform(slice(col("__items"), i + 2, size(col("__items"))),
            y => struct(x.as("item_a"), y.as("item_b")))))).as("__p"))
      .groupBy(col("__p.item_a").as("item_a"), col("__p.item_b").as("item_b"))
      .agg(count(lit(1)).as("n_keys"))
  }

  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
               roundTo: Int = 6): DataFrame =
    pageRankImpl(edges, None, iterations, damping, roundTo)

  /** Personalized PageRank: teleport mass goes to the `sources` node set
    * (first column) instead of uniformly everywhere — "rank nodes by
    * random-walk proximity to these seeds", the standard recommendation /
    * related-entity primitive. Same iteration, dangling rule, rounding,
    * and unrolled-oracle contract as [[pageRank]] (which is the
    * sources = all-nodes special case — one shared implementation, so the
    * two cannot drift).
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iterations: Int = 10, damping: Double = 0.85,
                           roundTo: Int = 6): DataFrame =
    pageRankImpl(edges, Some(sources), iterations, damping, roundTo)

  private def pageRankImpl(edges: DataFrame, sources: Option[DataFrame],
                           iterations: Int, damping: Double,
                           roundTo: Int): DataFrame = {
    require(iterations >= 1, s"iterations ($iterations) must be >= 1")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    // teleport membership rides the node relation as a flag
    val flaggedDf = sources match {
      case None => nodes.withColumn("__insrc", lit(true))
      case Some(src) =>
        val set = src.select(col(src.columns.head).as("node")).distinct()
          .withColumn("__f", lit(1))
        nodes.join(set, Seq("node"), "left")
          .select(col("node"), col("__f").isNotNull.as("__insrc"))
    }
    Materialize.using(flaggedDf) { flagged =>
    // teleport-set size: the normalizer for init, base, and dangling mass
    val n = flagged.filter(col("__insrc")).count()
    require(n > 0, "pageRank: teleport set is empty — no nodes to rank " +
      "(an empty graph or disjoint source set would divide by zero)")
    val outdeg = edges.groupBy("src").agg(sum(col("weight")).as("__od"))
    Materialize.using(edges.join(outdeg, "src")
      .select(col("src"), col("dst"), (col("weight") / col("__od")).as("__norm"))) { norm =>
    // dangling = nodes with no out-edge; their set is iteration-invariant,
    // only their current rank mass changes
    Materialize.using(flagged.select("node")
      .join(norm.select("src").distinct(),
        col("node") === col("src"), "left_anti")) { dangling =>
    val base = (1.0 - damping) / n // subtract-then-divide, as the oracle
    def teleport(perMember: Double): Column =
      when(col("__insrc"), lit(perMember)).otherwise(lit(0.0))
    Materialize.iterate(flagged
      .select(col("node"), round(teleport(1.0 / n), roundTo).as("rank")),
      iterations) { ranks =>
      // r17: the dangling mass rides the plan as a broadcast 1-row scalar
      // (the HITS normalizer shape) instead of a per-round driver
      // collect — one job per round (the checkpoint) instead of two.
      // Arithmetic is unchanged: same sum aggregate, and dm/n stays ONE
      // double division (now in-plan), exactly the oracle's dg.dm / nn.n
      val dmRow = ranks.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contrib = ranks.drop("__insrc")
        .join(norm, col("node") === col("src"))
        .groupBy("dst").agg(sum(col("rank") * col("__norm")).as("__contrib"))
      flagged.join(contrib, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dmRow))
        .select(col("node"), col("__insrc"),
          round(teleport(base) + lit(damping) *
            (coalesce(col("__contrib"), lit(0.0)) +
              when(col("__insrc"), col("__dm") / lit(n.toDouble))
                .otherwise(lit(0.0))),
            roundTo).as("rank"))
    }.select("node", "rank")
    }}}
  }

  /** Deterministic label propagation (Raghavan et al. 2007, public) —
    * community detection on the weighted digraph: every node starts as
    * its own community; a node adopts the label with the heaviest
    * incoming weighted vote (tie → lexicographically smallest label; no
    * in-edges → keep). The update is SEMI-SYNCHRONOUS in two phases per
    * round, colored by the portable hash's parity: phase-0 nodes update
    * from the previous state, then phase-1 nodes update seeing phase-0's
    * NEW labels — fully synchronous LPA oscillates forever on symmetric
    * pairs (the classic bipartite 2-cycle), and the two-phase coloring is
    * the standard deterministic stabilization (a mutual pair in the SAME
    * phase can still trade labels; the fixed round count keeps the result
    * well-defined regardless). Runs EXACTLY `iterations` rounds for the
    * unrolled-oracle contract; votes are integer weight sums — exact, no
    * rounding discipline needed.
    *
    * Per-phase plan: labels ⋈ edges on src (narrow), two-level aggregate
    * (sum votes per (dst, label), then an exact min-struct argmax — no
    * window over a potentially hot node), left join back. Checkpoint +
    * release per round.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations ($iterations) must be >= 1")
    Materialize.using(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()) { nodes =>
    def phase(labels: DataFrame, parity: Int): DataFrame = {
      val votes = labels.join(edges, col("node") === col("src"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("weight")).as("__votes"))
      // argmax with smallest-label tiebreak: min(struct(-votes, label))
      val winners = votes.groupBy(col("dst"))
        .agg(min(struct((-col("__votes")).as("nv"), col("label"))).as("__w"))
        .select(col("dst"), col("__w.label").as("__newLabel"))
      labels.join(winners, col("node") === col("dst"), "left")
        .select(col("node"),
          when(graft.functions.md5Hash31(col("node")) % 2 === parity,
            coalesce(col("__newLabel"), col("label")))
            .otherwise(col("label")).as("label"))
    }
    // r17: ONE checkpoint per round (the clusterNearDups r16 fusion) —
    // the phase-0 result stays lazy inside phase-1's plan; its two
    // consumers (the vote join and the keep-label left join) dedupe
    // through ReusedExchange, so the round pays one materialization
    // job instead of two. Expressions are untouched — same labels.
    Materialize.iterate(nodes.select(col("node"), col("node").as("label")),
      iterations)(labels => phase(phase(labels, 0), 1))
    }
  }

  /** Oracle for [[labelPropagation]]: the two-phase vote/argmax/keep
    * round unrolled to materialized layers (same 2^N-inlining hazard as
    * the PageRank oracle — each layer reads its predecessor twice).
    * Parity mirrors `md5Hash31(node) % 2` via the portable md5 prefix.
    */
  /** The [[labelPropagationOracleSql]] CTE chain WITHOUT the final
    * select — for oracles composing further relations over the label
    * assignment (final labeled relation: `l<iterations>b(node, label)`).
    */
  def labelPropagationCtesSql(edgesCte: String, iterations: Int): String =
    labelPropagationOracleSqlParts(edgesCte, iterations)._1

  def labelPropagationOracleSql(edgesCte: String,
                                iterations: Int): String = {
    val (ctes, finalRel) =
      labelPropagationOracleSqlParts(edgesCte, iterations)
    ctes + s"\nSELECT node, label FROM $finalRel"
  }

  private def labelPropagationOracleSqlParts(
      edgesCte: String, iterations: Int): (String, String) = {
    def paritySql(e: String): String =
      s"((('0x' || substring(md5($e), 1, 8))::BIGINT % 2147483647) % 2)"
    val header =
      s"""nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM $edgesCte
         |  UNION SELECT DISTINCT dst AS node FROM $edgesCte),
         |l0b AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    def phaseSql(i: Int, tag: String, prev: String, parity: Int): String =
      s"""v$tag$i AS MATERIALIZED (
         |  SELECT e.dst, p.label, sum(e.w) AS votes
         |  FROM $prev p JOIN $edgesCte e ON p.node = e.src
         |  GROUP BY e.dst, p.label),
         |w$tag$i AS MATERIALIZED (SELECT dst, label AS new_label FROM (
         |    SELECT dst, label,
         |      row_number() OVER (PARTITION BY dst
         |        ORDER BY votes DESC, label) AS rn
         |    FROM v$tag$i) WHERE rn = 1),
         |l$i$tag AS MATERIALIZED (
         |  SELECT p.node,
         |    CASE WHEN ${paritySql("p.node")} = $parity
         |         THEN coalesce(w.new_label, p.label)
         |         ELSE p.label END AS label
         |  FROM $prev p LEFT JOIN w$tag$i w ON p.node = w.dst)""".stripMargin
    val layers = (1 to iterations).map { i =>
      phaseSql(i, "a", s"l${i - 1}b", 0) + ",\n" +
        phaseSql(i, "b", s"l${i}a", 1)
    }
    ((header +: layers).mkString(",\n"), s"l${iterations}b")
  }

  /** Newman–Girvan modularity of a community assignment (Newman 2004,
    * public) — the one-number quality score for what
    * [[labelPropagation]] found: Q = Σ_c (w_in(c)/2m − (deg(c)/2m)²)
    * over the SYMMETRIZED weighted adjacency (A + Aᵀ — the standard
    * undirected reading of a directed multigraph; 2m = total symmetric
    * weight). ENTIRELY integer until the single final division:
    * Q = Σ_c (w_in·m₂ − deg²) / m₂² with every sum an exact BIGINT —
    * order-free, zero float risk. Exact while m₂² fits int64
    * (total weight ≲ 3·10⁹); past that swap for DECIMAL. Returns one
    * row (n_communities, m2, modularity).
    *
    * Scale shape: adjacency ⋈ labels on each endpoint (node-keyed,
    * narrow), then community-sized aggregates and a scalar fold —
    * nothing corpus-sized after the two joins, nothing collects.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val adj = edges
      .select(col("src").as("a"), col("dst").as("b"),
        col("weight").as("w"))
      .union(edges.select(col("dst").as("a"), col("src").as("b"),
        col("weight").as("w")))
    val lab = labels.select(col("node"), col("label"))
    val wl = adj
      .join(lab.select(col("node").as("a"), col("label").as("__la")),
        Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("__lb")),
        Seq("b"))
      .localCheckpoint()
    val m2 = wl.agg(sum(col("w")).as("__m2"))
    val degC = wl.groupBy(col("__la").as("label"))
      .agg(sum(col("w")).as("__deg"))
    val winC = wl.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(sum(col("w")).as("__win"))
    degC.join(winC, Seq("label"), "left")
      .select(col("label"), col("__deg"),
        coalesce(col("__win"), lit(0L)).as("__win"))
      .crossJoin(broadcast(m2))
      .agg(count(lit(1)).as("n_communities"),
        first(col("__m2")).as("m2"),
        sum(col("__win") * col("__m2") - col("__deg") * col("__deg"))
          .as("__num"))
      .select(col("n_communities"), col("m2"),
        round(col("__num").cast("double") /
          (col("m2") * col("m2")).cast("double"), 6).as("modularity"))
  }

  /** Bellman-Ford cheapest paths from `source` over edge cost
    * −ln(weight / outdeg(src)) rounded to `roundTo` — the cost of the
    * MOST PROBABLE transition path (minimizing summed negative log
    * transition probabilities), always ≥ 0 so no negative cycles exist.
    * Runs exactly `iterations` relaxation rounds (unrolled-oracle
    * contract); distances use an INFINITY sentinel of 1e18 internally —
    * IEEE-stable under `1e18 + cost` in both engines — and unreached
    * nodes drop from the output. Each round is one keyed join + a
    * partial-aggregated min.
    */
  def cheapestPaths(edges: DataFrame, source: String, iterations: Int = 6,
                    roundTo: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations ($iterations) must be >= 1")
    val INF = 1e18
    val outdeg = edges.groupBy("src").agg(sum(col("weight")).as("__od"))
    Materialize.using(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()) { nodes =>
    Materialize.using(edges.join(outdeg, "src")
      .select(col("src"), col("dst"),
        round(-log(col("weight") / col("__od")), roundTo).as("__c"))) { costs =>
    Materialize.iterate(nodes.select(col("node"),
      when(col("node") === source, lit(0.0)).otherwise(lit(INF)).as("dist")),
      iterations) { dist =>
      val relaxed = dist.join(costs, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("__c")).as("dist"))
      dist.select(col("node"), col("dist"))
        .unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }.filter(col("dist") < lit(1e17))
      .select(col("node"), round(col("dist"), roundTo).as("cost"))
    }}
  }

  /** Per-node triangle participation over the UNDIRECTED simple graph
    * induced by `edges(src, dst, ...)`: direction and weight are
    * discarded, self-loops dropped, parallel edges collapsed, and each
    * triangle is enumerated exactly once in canonical a<b<c orientation —
    * two canonical edges (a,b),(b,c) chained on the middle node, closed by
    * a semi-join on (a,c). Each triangle then credits its three corners.
    * Returns (node, n_triangles) for nodes in at least one triangle.
    *
    * Scale shape: the classic two-path join — both joins are equi-joins
    * on node keys, the two-path relation is bounded by Σ deg(v)² over the
    * canonicalized (degree-halved) edge set, and the closing check is a
    * semi-join, so no row ever fans out past its triangle count. For
    * skew-heavy graphs the canonical orientation itself is the standard
    * mitigation (high-degree nodes sort last and join on their smaller
    * neighborhoods).
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val twoPath = und.as("ab")
      .join(und.as("bc"), col("ab.b") === col("bc.a"))
      .select(col("ab.a").as("a"), col("ab.b").as("b"), col("bc.b").as("c"))
      .as("tp")
    val tri = twoPath.join(und.as("ac"),
      col("tp.a") === col("ac.a") && col("tp.c") === col("ac.b"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node — 2·tri(v) / (deg(v)·(deg(v)−1))
    * over the same canonical undirected simple graph as
    * [[triangleCounts]]; degree-<2 nodes score 0. Returns every node as
    * (node, degree, n_triangles, clustering_coeff), coefficient rounded
    * to `roundTo` (round-before-compare discipline for downstream
    * thresholds). Same scale shape as the triangle count plus one
    * node-keyed aggregate and a left join.
    */
  def clusteringCoefficients(edges: DataFrame, roundTo: Int = 6): DataFrame = {
    val und = canonicalUndirected(edges)
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1))), roundTo)
          .as("clustering_coeff"))
  }

  /** Direction/weight dropped, self-loops removed, parallel edges
    * collapsed: the canonical a<b simple undirected edge set.
    */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Oracle for [[cheapestPaths]]: relaxation unrolled to materialized
    * layers; the same sentinel/rounding/ordering rules as the Spark side.
    */
  def cheapestPathsOracleSql(edgesCte: String, source: String,
                             iterations: Int, roundTo: Int = 6): String = {
    val header =
      s"""nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM $edgesCte
         |  UNION SELECT DISTINCT dst AS node FROM $edgesCte),
         |costs AS MATERIALIZED (SELECT e.src, e.dst,
         |    round(-ln(e.w / o.od), $roundTo) AS c
         |  FROM $edgesCte e
         |  JOIN (SELECT src, sum(w) AS od FROM $edgesCte GROUP BY src) o
         |    USING (src)),
         |d0 AS MATERIALIZED (SELECT node,
         |    CASE WHEN node = '$source' THEN (0.0)::DOUBLE
         |         ELSE (1e18)::DOUBLE END AS dist
         |  FROM nodes)""".stripMargin
    val layers = (1 to iterations).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT c.dst AS node, p.dist + c.c AS dist
         |    FROM $prev p JOIN costs c ON p.node = c.src)
         |  GROUP BY node)""".stripMargin
    }
    (header +: layers).mkString(",\n") +
      s"""\nSELECT node, round(dist, $roundTo) AS cost
         |FROM d$iterations WHERE dist < 1e17""".stripMargin
  }

  /** DuckDB oracle for [[pageRank]] over an `edges(src, dst, w)` CTE:
    * the SAME iteration structure unrolled to `iterations` SQL layers, so
    * both engines execute identical arithmetic round by round (the
    * zorder2Sql single-source-of-truth pattern). Numeric literals are cast
    * to DOUBLE — DuckDB parses bare `0.85` as DECIMAL, whose arithmetic
    * diverges from IEEE doubles. Every CTE is MATERIALIZED: each layer
    * references its predecessor twice (dangling mass + contributions), so
    * inlined CTEs would double the expression tree per layer — a 2^N
    * blowup that hangs the oracle at N = 10.
    */
  def pageRankOracleSql(edgesCte: String, iterations: Int,
                        damping: Double = 0.85, roundTo: Int = 6,
                        sourcesCte: Option[String] = None): String = {
    val d = s"(${damping.toString})::DOUBLE"
    val flagSql = sourcesCte match {
      case None => "TRUE AS insrc"
      case Some(src) =>
        s"(EXISTS (SELECT 1 FROM $src s WHERE s.node = nodes0.node)) AS insrc"
    }
    val header =
      s"""nodes0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM $edgesCte
         |  UNION SELECT DISTINCT dst AS node FROM $edgesCte),
         |nodes AS MATERIALIZED (SELECT nodes0.node, $flagSql FROM nodes0),
         |nn AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM nodes WHERE insrc),
         |nrm AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.od AS norm
         |  FROM $edgesCte e
         |  JOIN (SELECT src, sum(w) AS od FROM $edgesCte GROUP BY src) o
         |    USING (src)),
         |r0 AS MATERIALIZED (
         |  SELECT node, round(CASE WHEN insrc THEN (1.0::DOUBLE) / nn.n
         |                          ELSE (0.0)::DOUBLE END, $roundTo) AS rank
         |  FROM nodes CROSS JOIN nn)""".stripMargin
    val layers = (1 to iterations).map { i =>
      val prev = s"r${i - 1}"
      s"""dg$i AS MATERIALIZED (
         |  SELECT coalesce(sum(rank), (0.0)::DOUBLE) AS dm FROM $prev
         |  WHERE node NOT IN (SELECT DISTINCT src FROM nrm)),
         |c$i AS MATERIALIZED (
         |  SELECT e.dst, sum(r.rank * e.norm) AS contrib
         |  FROM $prev r JOIN nrm e ON r.node = e.src GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |    round(CASE WHEN insrc THEN (1 - $d) / nn.n
         |               ELSE (0.0)::DOUBLE END + $d *
         |      (coalesce(c.contrib, (0.0)::DOUBLE) +
         |       CASE WHEN insrc THEN dg.dm / nn.n ELSE (0.0)::DOUBLE END),
         |      $roundTo) AS rank
         |  FROM nodes CROSS JOIN nn CROSS JOIN dg$i dg
         |  LEFT JOIN c$i c ON nodes.node = c.dst)""".stripMargin
    }
    (header +: layers).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iterations"
  }

  /** Weakly-connected-component CENSUS over edges(src, dst): component
    * count by size — the graph-health snapshot (is the interaction graph
    * one blob, a few islands, or dust?) that decides whether
    * partition-by-component processing is even possible. Nodes are
    * portable-hashed to ids (the q174 discipline — both engines hash
    * identically, so even a collision agrees cross-engine) and the
    * pointer-doubling CC core ([[Dedup.clusterNearDups]], O(log diameter)
    * rounds) labels every node with its component min; two keyed
    * aggregations fold labels → sizes → histogram. Self-loops register
    * their node as a size-1 component unless other edges merge it.
    * Returns (component_size, n_components).
    *
    * Scale shape: inherits the CC core's discipline — per-round keyed
    * join + partial agg on (id, id) pairs, scalar-only driver traffic —
    * and the census aggregations shuffle (label, count) pairs only.
    */
  /** Bounded-round k-core peel (Seidman 1983, public) — the standard
    * dense-subgraph primitive: repeatedly drop nodes with degree < k,
    * keeping only edges between survivors; what remains after
    * convergence is the k-core (every surviving node has ≥ k surviving
    * neighbors). Runs EXACTLY `rounds` peel rounds — the
    * [[pageRank]] fixed-iterate contract, so an unrolled SQL oracle
    * ([[kCoreOracleSql]]) replays it layer for layer; once the peel
    * reaches its fixpoint the extra rounds are no-ops in both engines.
    * The peel drops at least one node per round until stable, so
    * `rounds` ≥ the observed convergence depth makes the output the
    * true k-core; a data-dependent exit would make the unroll depth
    * unknowable. Returns surviving (node, degree).
    *
    * Input edges are symmetrized and deduped internally (undirected
    * semantics; self-loops count once toward their node's degree).
    * Per-round plan: a partial-aggregated degree count on (node) +
    * two semi-joins of the edge relation against the ≥ k node set —
    * all shuffles carry (id, id) pairs only; checkpoint + release per
    * round (the [[pageRankImpl]] block hygiene). INTEGER throughout —
    * no rounding discipline needed.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 6,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    // r17: iterate on the CANONICAL (a ≤ b) edge set — half the rows of
    // the symmetrized relation through every per-round checkpoint and
    // survivor join; the degree aggregate recovers both directions with
    // a map-side explode (a self-loop emits its node once, exactly the
    // symmetrize+distinct semantics). Same peel, same surviving nodes,
    // same degrees.
    def degrees(canon: DataFrame): DataFrame = canon
      .select(explode(when(col("a") === col("b"), array(col("a")))
        .otherwise(array(col("a"), col("b")))).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("__deg"))
    val adj = Materialize.iterate(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct(), rounds) { adj =>
      val keep = degrees(adj).filter(col("__deg") >= k).select(col("a"))
      // each round's adjacency feeds TWO consumers (the degree aggregate
      // and the survivor joins), so it must materialize per round — an
      // every-N-rounds checkpoint recomputes the un-materialized rounds
      // once per consumer (measured slower, not faster)
      adj
        .join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    // the final iterate stays checkpointed — the caller's lazy aggregate
    // reads it
    degrees(adj).select(col("a").as("node"), col("__deg").as("degree"))
  }

  /** Unrolled-layer DuckDB mirror of [[kCore]]. `symCte` must name a CTE
    * exposing the SYMMETRIZED distinct edge relation as (a, b) — both
    * directions present, exactly like the Scala side's internal `adj`.
    */
  def kCoreOracleSql(symCte: String, k: Int, rounds: Int): String = {
    val layers = (1 to rounds).map { i =>
      val prev = if (i == 1) symCte else s"e${i - 1}"
      s"""n$i AS MATERIALIZED (SELECT a FROM $prev
         |  GROUP BY a HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
         |  JOIN n$i x ON e.a = x.a JOIN n$i y ON e.b = y.a)""".stripMargin
    }
    layers.mkString(",\n") +
      s"""\nSELECT a AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM e$rounds GROUP BY a""".stripMargin
  }

  /** Degree assortativity (Newman 2002, public) — does the graph wire
    * high-degree nodes to high-degree nodes (social cores) or to
    * low-degree ones (hub-and-spoke, bipartite)? Pearson correlation of
    * the endpoint degrees over the symmetrized adjacency: ENTIRELY
    * integer — r = (m·Σxy − Σx·Σy) / (√(m·Σx² − (Σx)²)·√(m·Σy² − (Σy)²))
    * with every sum an exact BIGINT over integer degrees; the two
    * square roots are taken separately (one defined IEEE op order in
    * both engines) and only the final division rounds. Returns one row
    * (n_nodes, m_adj, assortativity) — m_adj counts directed adjacency
    * rows (2× undirected edges). A degree-regular graph has zero
    * variance → NULL. Integer-exact while m·Σx² fits int64
    * (m·deg²max ≲ 9·10¹⁸); past that swap for DECIMAL.
    *
    * Scale shape: one distinct + one degree aggregate, degrees joined
    * back onto the adjacency by node key (narrow (id, long) shuffles),
    * then a scalar aggregate — no windows, nothing collects.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst"): DataFrame = {
    val adj = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .localCheckpoint()
    val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("__d"))
    val xy = adj
      .join(deg.select(col("a"), col("__d").as("__x")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("__d").as("__y")), Seq("b"))
    val s = xy.agg(count(lit(1)).as("m"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__y") * col("__y")).as("syy"),
      sum(col("__x") * col("__y")).as("sxy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    nNodes.crossJoin(broadcast(s))
      .select(col("n_nodes"), col("m").as("m_adj"),
        when((col("m") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("m") * col("syy") - col("sy") * col("sy")) > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            (sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("m") * col("syy") - col("sy") * col("sy"))
               .cast("double"))), 6)).as("assortativity"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, public) over the weighted
    * digraph — the link-analysis complement to [[pageRank]]: a good hub
    * points at good authorities, a good authority is pointed at by good
    * hubs. Runs EXACTLY `iterations` rounds of the weighted power
    * iteration with L1 normalization; every intermediate (the raw
    * mutual-reinforcement sums AND the normalized scores) is rounded to
    * `roundTo` decimals so both engines feed identical inputs into every
    * next step ([[pageRank]]'s determinism discipline), and the two
    * normalizer sums per round ride the plan as broadcast 1-row scalars
    * — ZERO driver traffic and one job per half-step. The oracle
    * ([[hitsOracleSql]]) unrolls the identical iteration. Nodes with no
    * in-edges (resp. out-edges) hold authority (resp. hub) 0.
    *
    * Per-round plan: scores ⋈ edges on the flowing key (narrow,
    * id+double), partial-aggregated sum per receiving node, left join
    * back to nodes; checkpoint + release per round. Returns
    * (node, hub, authority).
    */
  def hits(edges: DataFrame, iterations: Int = 10,
           roundTo: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations ($iterations) must be >= 1")
    Materialize.using(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()) { nodes =>
    val n = nodes.count()
    require(n > 0, "hits: empty graph")
    // r17 note: a one-checkpoint-per-round fusion (authority half lazy
    // inside the hub half's plan, ReusedExchange deduping the repeated
    // subtrees) was implemented and MEASURED SLOWER (q247 min-of-6
    // 4.64 s → 6.17 s): the auth subtree carries its own broadcast
    // normalizer, so leaving it lazy re-executes the deep half twice per
    // round — more than the saved checkpoint job costs. Two half-step
    // checkpoints stand.
    // The L1 normalizer rides the plan as a broadcast 1-row scalar (same
    // aggregate the oracle computes — no driver round-trip, so each
    // half-step is ONE job: the checkpoint of the normalized scores).
    def normalized(raw: DataFrame, name: String): DataFrame = raw
      .crossJoin(broadcast(raw.agg(sum(col("__r")).as("__s"))))
      .select(col("node"), round(col("__r") / col("__s"), roundTo).as(name))
    def authorities(hubs: DataFrame): DataFrame = normalized(nodes
      .join(hubs.join(edges, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(round(sum(col("hub") * col("weight")), roundTo).as("__r")),
        col("node") === col("dst"), "left")
      .select(col("node"), coalesce(col("__r"), lit(0.0)).as("__r")),
      "authority")
    def hubsOf(auth: DataFrame): DataFrame = normalized(nodes
      .join(auth.join(edges, col("node") === col("dst"))
        .groupBy(col("src"))
        .agg(round(sum(col("authority") * col("weight")), roundTo)
          .as("__r")),
        col("node") === col("src"), "left")
      .select(col("node"), coalesce(col("__r"), lit(0.0)).as("__r")),
      "hub")
    // rounds of the loop are half-steps, authority and hub in turn; it
    // stops on the last authority half so that both of the last halves
    // outlive it
    val auth = Materialize.iterate(nodes.select(col("node"),
        round(lit(1.0 / n), roundTo).as("hub")), 2 * iterations - 1) { s =>
      if (s.columns.contains("hub")) authorities(s) else hubsOf(s)
    }
    Materialize.handOff(auth) { auth =>
      hubsOf(auth).localCheckpoint().join(auth, Seq("node"))
        .select(col("node"), col("hub"), col("authority"))
    }
    }
  }

  /** Unrolled-layer DuckDB mirror of [[hits]]. `edgesCte` must expose
    * (src, dst, w).
    */
  def hitsOracleSql(edgesCte: String, iterations: Int,
                    roundTo: Int = 6): String = {
    val header =
      s"""nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM $edgesCte
         |  UNION SELECT DISTINCT dst AS node FROM $edgesCte),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |h0 AS MATERIALIZED (SELECT node, round((1.0)::DOUBLE / nn.n,
         |    $roundTo) AS hub
         |  FROM nodes CROSS JOIN nn)""".stripMargin
    val layers = (1 to iterations).map { i =>
      val prev = s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (SELECT nodes.node,
         |    coalesce(x.r, (0.0)::DOUBLE) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, round(sum(h.hub * e.w), $roundTo) AS r
         |    FROM $prev h JOIN $edgesCte e ON h.node = e.src
         |    GROUP BY e.dst) x ON nodes.node = x.node),
         |sa$i AS (SELECT sum(r) AS s FROM ar$i),
         |a$i AS MATERIALIZED (SELECT node, round(r / s, $roundTo)
         |    AS authority
         |  FROM ar$i CROSS JOIN sa$i),
         |hr$i AS MATERIALIZED (SELECT nodes.node,
         |    coalesce(x.r, (0.0)::DOUBLE) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.src AS node, round(sum(a.authority * e.w), $roundTo)
         |      AS r
         |    FROM a$i a JOIN $edgesCte e ON a.node = e.dst
         |    GROUP BY e.src) x ON nodes.node = x.node),
         |sh$i AS (SELECT sum(r) AS s FROM hr$i),
         |h$i AS MATERIALIZED (SELECT node, round(r / s, $roundTo) AS hub
         |  FROM hr$i CROSS JOIN sh$i)""".stripMargin
    }
    (header +: layers).mkString(",\n") +
      s"""\nSELECT h.node, h.hub, a.authority
         |FROM h$iterations h JOIN a$iterations a ON h.node = a.node"""
        .stripMargin
  }

  def wccCensus(edges: DataFrame, srcCol: String = "src",
                dstCol: String = "dst"): DataFrame = {
    val pairs = edges.select(
      graft.functions.md5Hash31(col(srcCol).cast("string")).as("id_a"),
      graft.functions.md5Hash31(col(dstCol).cast("string")).as("id_b"))
    val labels = Dedup.clusterNearDups(pairs, idCol = "node")
    labels.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))
  }
}
