package graft.canon

import org.apache.spark.sql.{Column, DataFrame, Row}

import graft.util.Cut

/** The one convergent round loop in `canon/` ([[ConnectedComponents]],
  * [[Closure]]). Each round builds a frame from the state (`step`),
  * cuts its lineage ([[graft.util.Cut.cut]]) so round k never re-runs
  * earlier rounds, and evaluates ONE driver-side aggregate (`probe`) on
  * the cut frame; `next` returns the next state, or None for a quiet
  * round. Reaching `maxRounds` without a quiet round throws, so an
  * unconverged result is never returned. Returns the last state before
  * the quiet round and the rounds run, the quiet one included.
  * PageRank and the IVF Lloyd loop run fixed iteration counts with no
  * convergence probe, so they do not use it.
  */
private[canon] object Fixpoint {

  def iterate[S](start: S, maxRounds: Int, what: String, probe: Column)(
      step: S => DataFrame)(next: (S, DataFrame, Row) => Option[S]): (S, Int) = {
    var (state, round, quiet) = (start, 0, false)
    while (!quiet) {
      if (round >= maxRounds) throw new IllegalStateException(
        s"$what not converged after $round rounds (maxIter = $maxRounds)")
      round += 1
      val frame = Cut.cut(step(state))
      next(state, frame, frame.agg(probe).first()) match {
        case Some(s) => state = s
        case None    => quiet = true
      }
    }
    (state, round)
  }
}
