package graftbench

/** One benchmark workload. `setup` generates the inputs from the seed,
  * runs the set-up writes and warms up; each `round` does the
  * workload's fixed unit of work as a closed loop of ops.
  */
trait Workload {
  /** Op kind whose latencies give op_p50_ms / op_p90_ms. */
  def opKind: String

  def setup(): Unit

  /** Run one round, logging every op in `ops`. `traced` rounds open
    * spans at each layer boundary.
    */
  def round(r: Int, ops: Ops, traced: Boolean): Round

  /** Checks that belong to the run rather than to one op. */
  def runChecks(): Seq[String] = Nil

  /** Per-layer metrics from the traced rounds; layers this workload
    * does not touch are left out and reported as 0 by the caller.
    */
  def layers(): Map[String, Double]
}

/** What a round did: `units` of work (days, items or queries) done in
  * `unitSecs`, for work_per_s, and `timedSecs`, the wall time of all
  * its timed calls, output checks excluded.
  */
final case class Round(units: Double, unitSecs: Double, timedSecs: Double)
