package graft.graph

import org.apache.spark.sql.DataFrame

/** The one loop runtime for iterative graph algorithms. Every loop in
  * [[Algorithms]], [[GraphQueries]] and the NQL statement path is a
  * sequence of supersteps in the Pregelix sense (VLDB 2014): round i is
  * one dataflow plan over round i−1's materialized frames. This object
  * owns the loop mechanics those algorithms used to hand-roll: the round
  * counter (a step sees its 1-based index), the stop rule ([[Stop]]) and
  * the lineage cut ([[cut]]).
  *
  * Lineage cut: an accumulator that the next round references twice
  * (union + join) doubles the logical plan every round, so every loop
  * cuts the frames it carries forward, every round, with an eager
  * `localCheckpoint` — identical per-round plan shapes, so Catalyst and
  * codegen caches hit, and the jobs a round runs are the ones the oracle
  * SQL unrolls (PERF.md rounds 3 and 12).
  *
  * Failure semantics: `localCheckpoint` blocks live in executor block
  * managers and carry no lineage. A loop that loses an executor holding a
  * cut frame cannot recompute it; the query fails fast with a missing-
  * block error instead of replaying earlier rounds. That is the right
  * trade for rounds that cost seconds on a session-local cluster; a
  * long-running job that must survive executor loss needs reliable
  * `checkpoint()` to a shared file system instead.
  */
object Superstep {

  /** How a loop ends. `n` bounds the rounds under every rule. */
  sealed trait Stop { def n: Int }

  /** Exactly `n` rounds and no probe: what the oracle SQL unrolls. */
  final case class Rounds(n: Int) extends Stop

  /** At most `n` rounds, ending early after the first round the probe
    * calls done (PageRank/eigenvector tolerance, a path search that
    * found its target). Running out of rounds is not an error. */
  final case class UpTo(n: Int) extends Stop

  /** Until the probe calls a round done (empty frontier, stable labels);
    * throws [[IllegalStateException]] if round `n` is not. A fixed round
    * count followed by one verifying probe is this rule with cap `n`. */
  final case class Fixpoint(n: Int = 256) extends Stop

  /** The lineage cut, for the frames a round carries into the next and
    * for loop-invariant frames materialized once before the loop. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Exactly `n` rounds of `step(state, round)` from `init`. */
  def rounds[S](n: Int, init: S)(step: (S, Int) => S): S =
    run(Rounds(n), init)(step)((_, _) => false)

  /** Rounds of `step(state, round)` from `init` until `stop` says the
    * loop is over. `done(prev, next)` runs after every round under a
    * probed rule ([[UpTo]], [[Fixpoint]]) and never under [[Rounds]]. */
  def run[S](stop: Stop, init: S)(step: (S, Int) => S)(done: (S, S) => Boolean): S = {
    val probed = !stop.isInstanceOf[Rounds]
    var s = init
    var i = 0
    var finished = false
    while (!finished && i < stop.n) {
      i += 1
      val next = step(s, i)
      finished = probed && done(s, next)
      s = next
    }
    if (!finished && stop.isInstanceOf[Fixpoint]) throw new IllegalStateException(
      s"no fixpoint within ${stop.n} rounds: the graph is deeper than the round cap")
    s
  }
}
