package perfbench

/** The queries each workload runs, one pass in this order. Each is a
  * fixed subset of its family so that a pass takes about four seconds
  * on four cores; the subsets were fixed from timings of the whole
  * families, never from whether a query matches its oracle
  * (perfbench/README.md has the numbers). */
object Workloads {
  /** eod_/tick_ family: the cheapest wide-unroll solver (it also pins
    * its inputs with localCheckpoint) and two of the cheapest statistics. */
  val portfolioEod = Seq("eod_tangency", "eod_sharpe", "tick_rule")

  /** streaming_* family: the cheapest stateless replay of each kind
    * over `documents` and the cheapest stateful (windowed, state-store)
    * replay over `events`. */
  val streamingReplay = Seq("streaming_split", "streaming_readability", "streaming_twap")

  /** The tables a workload reads; set-up warms up exactly these. */
  def tables(workload: String): Seq[String] = workload match {
    case "portfolio_eod" => Seq("events")
    case _ => Seq("events", "documents")
  }

  def apply(workload: String): Seq[String] = workload match {
    case "portfolio_eod" => portfolioEod
    case "streaming_replay" => streamingReplay
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
