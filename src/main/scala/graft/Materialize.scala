package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one owner of every `localCheckpoint` an operator makes.
  *
  * Ownership rule: an operator releases every checkpoint it makes except
  * the ones its result reads; the caller of the operator releases those
  * (by releasing the result — [[ColumnBridge.releaseLocalCheckpoint]]
  * walks a frame's plan for every checkpoint it reads). Releases run in
  * `finally`, so an operator that throws after materialising something
  * leaves no blocks behind.
  *
  *   - [[using]]: checkpoint a frame for the length of a body.
  *   - [[owning]]: the same for a frame that is already materialised
  *     (an operator's checkpointed result, consumed and then dropped).
  *   - [[handOff]]: keep an already materialised frame alive into a
  *     result that reads it, releasing it only on failure.
  *   - [[iterate]]: a round loop that keeps exactly one round live.
  *
  * Every checkpoint in the engine goes through [[checkpoint]]: eager, as
  * `localCheckpoint()` is, and keeping the hash partitioning its
  * executed plan really had
  * ([[ColumnBridge.localCheckpointKeepingPartitioning]]). A loop that
  * checkpoints `repartition(n, k)` of its static side once and keeps its
  * per-round state hashed on the same key joins the two without an
  * exchange in every round; an AQE-coalesced or non-hash final plan
  * checkpoints with unknown partitioning, as before. The loops built on
  * this run, per round, 3 jobs and 3 stages for PageRank/PPR, 3 per HITS
  * half-step and 5 for connected components (`StageCountSpec` pins them
  * with LPA's, kCore's and Bradley–Terry's).
  */
object Materialize {

  /** Checkpoint `df` now (eagerly), keeping the hash partitioning its
    * executed plan produced when that claim is true. The caller owns the
    * result's lifetime: hand it to [[owning]] or [[handOff]], or return
    * it as an operator result that reads it.
    */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    ColumnBridge.localCheckpointKeepingPartitioning(df)

  /** `spark.sql.shuffle.partitions` of `df`'s session: the partition
    * count a loop hashes its static side and its state into, so that
    * every per-round join and aggregate on the key plans no exchange
    * (a join with a side of another count re-shuffles it).
    */
  private[graft] def shufflePartitions(df: DataFrame): Int =
    ColumnBridge.sqlConf(df.sparkSession).numShufflePartitions

  /** `df.checkpointed` is [[checkpoint]]`(df)`: the engine's spelling of
    * `df.localCheckpoint()` at the end of a transformation chain.
    */
  implicit class CheckpointSyntax(private val df: DataFrame) extends AnyVal {
    def checkpointed: DataFrame = checkpoint(df)
  }

  /** Checkpoint `df`, run `body` on the materialised frame, release it
    * however `body` ends. `body` must not return anything that still
    * reads the checkpoint lazily — materialise such a result inside.
    */
  def using[A](df: DataFrame)(body: DataFrame => A): A =
    owning(checkpoint(df))(body)

  /** Run `body` on `m`, then release the checkpoints `m` reads however
    * `body` ends.
    */
  def owning[A](m: DataFrame)(body: DataFrame => A): A =
    try body(m) finally ColumnBridge.releaseLocalCheckpoint(m)

  /** Run `body` on `m`, which is already materialised, and hand `m` on
    * with the body's result (which reads it): the checkpoints `m` reads
    * are released only if `body` throws.
    */
  def handOff[A](m: DataFrame)(body: DataFrame => A): A = {
    var ok = false
    try { val a = body(m); ok = true; a }
    finally if (!ok) ColumnBridge.releaseLocalCheckpoint(m)
  }

  /** Round loop: round 0 is `init` materialised, round r is
    * `step(round r−1)` materialised, and round r−1 is released once
    * round r exists. `until` sees each round (round 0 included) while
    * its predecessor is still live and stops the loop when it returns
    * true; at most `rounds` steps run. The last round is returned and
    * is the caller's to release; if `step` or `until` throws, the live
    * round is released before the exception propagates.
    */
  def iterate(init: DataFrame, rounds: Int,
              until: DataFrame => Boolean = _ => false)
             (step: DataFrame => DataFrame): DataFrame = {
    var cur = checkpoint(init)
    var ok = false
    try {
      var done = until(cur)
      var r = 0
      while (!done && r < rounds) {
        val prev = cur
        cur = checkpoint(step(prev))
        try done = until(cur) finally ColumnBridge.releaseLocalCheckpoint(prev)
        r += 1
      }
      ok = true
      cur
    } finally if (!ok) ColumnBridge.releaseLocalCheckpoint(cur)
  }
}
