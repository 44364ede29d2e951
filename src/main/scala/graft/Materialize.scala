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
  * Every checkpoint here is eager, as `localCheckpoint()` is.
  */
object Materialize {

  /** Checkpoint `df`, run `body` on the materialised frame, release it
    * however `body` ends. `body` must not return anything that still
    * reads the checkpoint lazily — materialise such a result inside.
    */
  def using[A](df: DataFrame)(body: DataFrame => A): A =
    owning(df.localCheckpoint())(body)

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
    var cur = init.localCheckpoint()
    var ok = false
    try {
      var done = until(cur)
      var r = 0
      while (!done && r < rounds) {
        val prev = cur
        cur = step(prev).localCheckpoint()
        try done = until(cur) finally ColumnBridge.releaseLocalCheckpoint(prev)
        r += 1
      }
      ok = true
      cur
    } finally if (!ok) ColumnBridge.releaseLocalCheckpoint(cur)
  }
}
