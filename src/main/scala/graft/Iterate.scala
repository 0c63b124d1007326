package graft

import org.apache.spark.sql.DataFrame

/** The one driver for the engine's iterative DataFrame loops: a loop
  * supplies its initial state and one `step`; the driver owns the step
  * count, the stopping rule and the lineage-truncation policy (the GraphX
  * `Pregel` periodic-checkpointer model). Untruncated, each step's plan
  * nests the previous one. */
object Iterate {

  sealed trait Pin
  /** Pin the state after every n-th step with [[Ckpt]] (one eager job
    * each). The initial state is the caller's to pin. */
  final case class PinEvery(n: Int) extends Pin
  /** Every step reads a driver-local copy of its input (init included):
    * no lineage, one collect job; for states bounded by construction. The
    * last step's output stays distributed: the output plan is unchanged. */
  case object Localize extends Pin

  /** The state after `steps` applications of `step`. */
  def apply(init: DataFrame, steps: Int, pin: Pin)(
      step: DataFrame => DataFrame): DataFrame =
    trace(init, steps, pin)(step).last

  /** Every state of the run, the initial one first. */
  def trace(init: DataFrame, steps: Int, pin: Pin)(
      step: DataFrame => DataFrame): Seq[DataFrame] =
    (1 to steps).scanLeft(if (pin == Localize) localized(init) else init) {
      (state, i) =>
        val next = step(state)
        pin match {
          case PinEvery(n) => if (i % n == 0) Ckpt(next) else next
          case Localize => if (i == steps) next else localized(next)
        }
    }

  /** Convergent form: every step's state is pinned and `converged` probes
    * the pinned frame; returns the first converged state. Throws once
    * `maxSteps` steps pass without convergence — an unconverged state
    * must not pass for a fixpoint. */
  def until(init: DataFrame, maxSteps: Int)(step: DataFrame => DataFrame)(
      converged: DataFrame => Boolean): DataFrame = {
    @annotation.tailrec
    def go(state: DataFrame, i: Int): DataFrame = {
      if (i > maxSteps)
        throw new IllegalStateException(s"no fixpoint after $maxSteps steps")
      val next = Ckpt(step(state))
      if (converged(next)) next else go(next, i + 1)
    }
    go(init, 1)
  }

  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
}
