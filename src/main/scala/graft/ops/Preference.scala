package graft.ops

import graft.Materialize
import graft.Materialize.CheckpointSyntax
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-preference aggregation — the post-training data shape
  * (reward-model corpora, eval leaderboards): turn raw (winner, loser)
  * comparison records into per-item rankings WITHOUT iterative float
  * fitting. FLOAT Bradley-Terry/Elo fits are iterative updates whose ulp
  * drift compounds across rounds (no final rounding recovers it), so the
  * always-exact tier here is the classical voting-theory pair: Copeland
  * score (±1 per dominated/dominating head-to-head matchup) and Borda
  * count (total raw wins) — both pure int64, both standard leaderboard
  * statistics, and at corpus scale both ONE partial-aggregated pass over
  * the comparison log. [[bradleyTerryFit]] adds the model-based strength
  * fit the float eviction seemed to forbid, by running Hunter's MM
  * update in INTEGER micro-units with every division an integer DIV —
  * the q300-perceptron/q311-k-means discipline: the statistic is defined
  * BY the integer recursion, so a SQL oracle unrolls the rounds and
  * replays every strength exactly.
  */
object Preference {

  /** Head-to-head matchup table from a (winner, loser) comparison log:
    * one row per unordered item pair with wins in each direction. The
    * pair key is canonicalized (item_a < item_b) so both directions of
    * the same matchup meet in one row.
    *
    * Shape at 100 TB: map-only canonicalization, then ONE groupBy on the
    * pair key — partial aggregation collapses a hot matchup (two models
    * compared millions of times) to one partial per task before the
    * shuffle. Output is matchup-granular (≤ items²/2 rows, usually far
    * fewer), never comparison-granular.
    */
  def matchups(comparisons: DataFrame, winnerCol: String = "winner",
               loserCol: String = "loser"): DataFrame =
    comparisons
      // a self-comparison (winner = loser — a malformed log row) would
      // fabricate an (x, x) matchup whose two exploded sides double-count
      // x's games; drop it at the door instead
      .filter(col(winnerCol) =!= col(loserCol))
      .select(
        least(col(winnerCol), col(loserCol)).as("item_a"),
        greatest(col(winnerCol), col(loserCol)).as("item_b"),
        when(col(winnerCol) <= col(loserCol), 1L).otherwise(0L).as("__wa"),
        when(col(winnerCol) > col(loserCol), 1L).otherwise(0L).as("__wb"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("__wa")).as("wins_a"), sum(col("__wb")).as("wins_b"))

  /** Per-item leaderboard over a (winner, loser) comparison log:
    * Copeland score (+1 for every head-to-head matchup the item wins
    * more often than it loses, −1 for every one it loses more often —
    * drawn matchups contribute 0), Borda count (= total wins), games
    * played, and the integer-ppm win rate (1e6·wins DIV games — the
    * integer-DIV discipline, exact in both engines).
    *
    * Shape: [[matchups]] (one pass), then each matchup row explodes to
    * its two sides via a both-directions array (the q281 symmetrize
    * lesson: ONE subtree, no self-union re-execution) and a per-item
    * aggregate. Everything is int64; ties need no float tiebreak.
    */
  def leaderboard(comparisons: DataFrame, winnerCol: String = "winner",
                  loserCol: String = "loser"): DataFrame =
    leaderboardFromMatchups(matchups(comparisons, winnerCol, loserCol))

  /** The per-item fold off an existing [[matchups]] relation — ONE
    * definition shared by the batch query and the streaming snapshot
    * reader ([[graft.streaming.EventStream.leaderboardFromStore]]), so
    * the live leaderboard equals the batch statistic by construction.
    */
  def leaderboardFromMatchups(m: DataFrame): DataFrame = {
    val sides = m.select(explode(array(
      struct(col("item_a").as("item"), col("wins_a").as("w"),
        col("wins_b").as("l")),
      struct(col("item_b").as("item"), col("wins_b").as("w"),
        col("wins_a").as("l")))).as("__s"))
      .select(col("__s.item").as("item"), col("__s.w").as("w"),
        col("__s.l").as("l"))
    sides.groupBy(col("item"))
      .agg(
        count(lit(1)).as("n_matchups"),
        sum(col("w") + col("l")).as("n_games"),
        sum(col("w")).as("n_wins"),
        sum(when(col("w") > col("l"), 1L).when(col("w") < col("l"), -1L)
          .otherwise(0L)).as("copeland"),
        expr("1000000 * sum(w) DIV sum(w + l)").as("win_ppm"))
  }

  /** Fixed-round Bradley–Terry strength fit over a (winner, loser)
    * comparison log — [[bradleyTerryFromMatchups]] over [[matchups]].
    */
  def bradleyTerryFit(comparisons: DataFrame, rounds: Int = 3,
                      winnerCol: String = "winner",
                      loserCol: String = "loser"): DataFrame =
    bradleyTerryFromMatchups(matchups(comparisons, winnerCol, loserCol),
      rounds)

  /** Bradley–Terry strengths via `rounds` unrolled iterations of
    * Hunter's (2004) MM update, computed ENTIRELY in int64 micro-units:
    *
    *   d_i  = Σ_j (n_ij·10⁹) DIV (w_i + w_j)     (per-term DIV, then sum
    *                                              — order-independent)
    *   w_i' = (W_i·10⁹) DIV max(d_i, 1)
    *   then rescale so max_i w_i' = 10⁶          (MM fixes strengths only
    *                                              up to a constant factor)
    *
    * where W_i = total wins, n_ij = games in matchup (i,j), and
    * strengths start at 10⁶ (= 1.0). Every operation is integer multiply
    * / add / DIV on non-negative operands, so DuckDB's `//` replays each
    * round bit-for-bit (the q300/q311 unrolled-round oracle discipline);
    * the fixed round count is the price of exact replay, same tradeoff
    * as k-core's fixed peel. A zero-win item pins to strength 0 — the
    * documented BT boundary behavior (its matchups still contribute to
    * opponents' denominators). Precision: the 10⁹ scaling holds ~3
    * significant decimal digits per term, which is the operator's
    * DEFINED arithmetic, not an approximation of a float fit; int64
    * bounds hold to W_i ≤ 9·10⁹ games per item.
    *
    * Shape at 100 TB: the comparison log collapses to the matchup
    * relation in [[matchups]]' one partial-aggregated pass (≤ items²/2
    * rows); every MM round is a matchup-sized aggregate with the
    * items-sized strength relation joined back BROADCAST twice (items =
    * models/policies — small by the data shape's own premise). The
    * matchup sides are localCheckpointed once so the per-round joins
    * replay an in-memory relation, never the corpus subtree; per-round
    * strength relations are checkpointed (items-sized) to keep the plan
    * linear in rounds, and every checkpoint is released before return
    * (the pageRankImpl hygiene).
    */
  def bradleyTerryFromMatchups(m: DataFrame, rounds: Int = 3): DataFrame = {
    // r17 note: a pair-granular round variant (checkpoint the matchup
    // relation — half the side-exploded bytes — and derive both sides'
    // terms per round from one row, explode-after-compute) was
    // implemented and MEASURED SLOWER on q316 (min-of-6 3.63 → 4.10 s
    // with explode, 4.20 s with stack): the per-round generator over
    // 0.9M pairs costs more than reading the 1.8M-row checkpoint whose
    // explosion was paid once. The side-exploded shape stands.
    require(rounds >= 1 && rounds <= 16,
      s"rounds ($rounds) must be in [1, 16]")
    Materialize.using(m.select(explode(array(
        struct(col("item_a").as("item"), col("item_b").as("opp"),
          (col("wins_a") + col("wins_b")).as("n"), col("wins_a").as("w")),
        struct(col("item_b").as("item"), col("item_a").as("opp"),
          (col("wins_a") + col("wins_b")).as("n"), col("wins_b").as("w"))))
        .as("__s"))
      .select(col("__s.item").as("item"), col("__s.opp").as("opp"),
        col("__s.n").as("n"), col("__s.w").as("w"))) { sides =>
    Materialize.using(sides.groupBy(col("item"))
      .agg(sum(col("w")).as("n_wins"), sum(col("n")).as("n_games"))) { wins =>
    val strengths = Materialize.iterate(
        wins.select(col("item"), lit(1000000L).as("strength_micro")),
        rounds) { s =>
      val d = sides
        .join(broadcast(s.select(col("item"),
          col("strength_micro").as("__wi"))), Seq("item"))
        .join(broadcast(s.select(col("item").as("opp"),
          col("strength_micro").as("__wj"))), Seq("opp"))
        .groupBy(col("item"))
        .agg(sum(expr("n * 1000000000 DIV greatest(__wi + __wj, 1)"))
          .as("__d"))
      val raw = wins.join(d, Seq("item"))
        .select(col("item"),
          expr("n_wins * 1000000000 DIV greatest(__d, 1)").as("__raw"))
      val mx = raw.agg(max(col("__raw")).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("item"),
          expr("__raw * 1000000 DIV greatest(__mx, 1)")
            .as("strength_micro"))
    }
    Materialize.owning(strengths)(s => wins.join(s, Seq("item"))
      .select(col("item"), col("strength_micro"), col("n_wins"),
        col("n_games"))
      .checkpointed)
    }}
  }
}
