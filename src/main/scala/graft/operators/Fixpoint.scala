package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** The round loop behind every iterative graph operator: each round is
  * one `step` over the previous round's state, materialized with an eager
  * `localCheckpoint` so the plan stays one round deep.
  *
  * The loop owns what every operator used to repeat:
  *  - the per-round checkpoint, and the release of the round before it
  *    once the new one is materialized (checkpoint blocks bypass the
  *    CacheManager, so nothing else would free them);
  *  - the round bound, and the error when a loop that must converge
  *    reaches it;
  *  - the convergence probe.
  *
  * The probe is the count of the state's `active` column (a changed label,
  * a node still holding residual to push). It is observed on the round's
  * own checkpoint job, so a round costs one job, not a checkpoint plus a
  * probe. When the metric is not delivered in time, the probe falls back
  * to a scan of the checkpointed blocks.
  *
  * Ownership: `init` belongs to the caller and is never released here.
  * Every checkpoint the loop makes is released except the one it returns;
  * on an error, that one is released too.
  */
object Fixpoint {

  /** Runs `step` from `init` and returns the last round's checkpoint.
    *
    * With `active = None` the loop runs exactly `maxRounds` rounds (the
    * fixed-round power iterations). With `active = Some(c)` it stops after
    * the first round whose state has no row with `c` true. An `init` that
    * already carries `c` is checkpointed and probed as round 0, so a state
    * that starts converged runs no step. At the bound, a loop with
    * `mustConverge` throws an `IllegalStateException` naming `loop`; one
    * without returns its last state.
    *
    * `waitMs` bounds the wait for the observed count; `waitMs <= 0` skips
    * the observation and probes every round by the fallback scan.
    */
  def iterate(loop: String, init: DataFrame, maxRounds: Int,
              active: Option[String] = None, mustConverge: Boolean = true,
              waitMs: Long = 3000L)
             (step: DataFrame => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"$loop: maxRounds must be >= 1, got $maxRounds")
    // the round's checkpoint, and whether its state is settled
    def round(df: DataFrame): (DataFrame, Boolean) = active match {
      case None => (df.localCheckpoint(true), false)
      case Some(a) =>
        val obs = new Observation
        val t0 = System.nanoTime()
        val cp = df.observe(obs,
            sum(when(col(a), 1L).otherwise(0L)).as("n"))
          .localCheckpoint(true)
        // listener delivery trails the job; on a loaded host by more
        // than a constant, so the wait scales with the job itself
        val wait = math.max(waitMs, 3L * (System.nanoTime() - t0) / 1000000L)
        val seen =
          if (waitMs <= 0) None
          else GraftBridge.observedOrEmpty(obs, wait).get("n")
        val settled = seen match {
          case Some(null) => true // a zero-row state
          case Some(n) => n.asInstanceOf[Long] == 0L
          case None => cp.where(col(a)).isEmpty
        }
        (cp, settled)
    }
    def release(df: DataFrame): Unit =
      if (df ne init) GraftBridge.unpersistCheckpoint(df)
    var (state, settled) =
      if (active.exists(init.columns.contains)) round(init) else (init, false)
    var rounds = 0
    try {
      while (!settled && rounds < maxRounds) {
        val (next, s) = round(step(state))
        release(state)
        state = next
        settled = s
        rounds += 1
      }
      if (!settled && active.isDefined && mustConverge)
        throw new IllegalStateException(
          s"$loop did not converge in $maxRounds rounds; raise the bound")
      state
    } catch {
      case e: Throwable => release(state); throw e
    }
  }
}
