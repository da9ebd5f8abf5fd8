package graft.perfbench

/** The engine's driver-resolve engagement counters, which are private
  * to the `graft` package: how many micro-batches the SigGate and
  * BudgetGate fast paths resolved on the driver so far.
  */
object DriverResolve {
  def count: Long =
    graft.streaming.SigGate.driverResolved.get + graft.streaming.BudgetGate.driverResolved.get
}
