package graft.core

import org.apache.spark.sql.DataFrame

/** The one size gate in front of every driver-local kernel.
  *
  * Eight operators have a driver-local twin that replays the
  * distributed plan on collected rows: LinkGraph's pageRank, harmonic
  * centrality, HITS, SCC and bow-tie; TextClassifier's two training
  * loops; and `Lttb.downsample`. On small inputs the distributed
  * plan's cost is job-scheduling latency — dozens of tiny jobs per
  * call — and the kernel answers in milliseconds. Each kernel is
  * BIT-IDENTICAL to its distributed twin. In the seven iterative
  * kernels, cross-row float sums are exact decimals (order-free),
  * per-row double ops run in the same IEEE order, and every rounding
  * goes through [[graft.functions.DecimalKernels]], the spec-fuzzed
  * mirror of the Catalyst expressions the distributed plans execute.
  * LTTB's bucket centroids are plain double `avg`s, so order matters
  * there: the distributed plan sums each bucket in `__i` order whenever
  * its stage reads back as one partition, and the kernel sums in that
  * same order. So the gate decides cost, never the answer.
  *
  * The rule: the input is non-empty (an empty input takes the
  * distributed path, which is total on it), a graph holds at most
  * [[MaxNodes]] nodes, and at most [[MaxRows]] rows are collected
  * (edges, classifier feature rows, or LTTB input rows). Callers add
  * only their own eligibility conditions (a mode the kernel does not
  * mirror).
  *
  * Probe order: sizes are by-name, so the forced seam and an ineligible
  * mode probe nothing. The five LinkGraph kernels, whose nodes are
  * their edges' endpoints, count their pinned edges first (the action
  * that fills the pin) and collect them once past [[admitsEndpoints]],
  * deriving the nodes on the driver; above [[MaxNodes]] / 2 edges the
  * node count comes next ([[admitsGraph]]), so a graph over the node
  * bound is never collected.
  */
object LocalGate {

  val MaxNodes: Long = 50000L
  val MaxRows: Long = 2000000L

  /** Node count from which node-shaped join sides pin `shuffle_hash`:
    * AQE's runtime broadcast decision reads COMPRESSED shuffle sizes,
    * so past ~4e5 nodes a node-shaped round frame still fits the 10 MB
    * threshold and every iteration rebuilds and re-broadcasts an
    * ~n-entry hashed relation. Smaller graphs keep AQE's broadcast,
    * which wins there.
    */
  val ShuffleHashNodes: Long = 400000L

  private val forced = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Runs `body` with every gate closed on this thread, so each gated
    * op takes its distributed path — the seam for local ==
    * distributed checks, not a user setting.
    */
  private[graft] def distributed[T](body: => T): T = {
    val prev = forced.get()
    forced.set(true)
    try body finally forced.set(prev)
  }

  private def within(size: => Long, max: Long): Boolean =
    !forced.get() && { val s = size; s > 0 && s <= max }

  /** A collected-graph kernel may run (`edges` is probed only once the
    * node test passes).
    */
  def admitsGraph(nodes: => Long, edges: => Long): Boolean =
    within(nodes, MaxNodes) && edges <= MaxRows

  /** A graph of `edges` rows whose nodes are their endpoints (at most
    * two an edge) may run collected, with no node probe.
    */
  def admitsEndpoints(edges: => Long): Boolean = within(edges, MaxNodes / 2)

  /** A collected-row kernel may run. */
  def admitsRows(rows: => Long): Boolean = within(rows, MaxRows)

  def pinsShuffle(nodes: Long): Boolean = nodes >= ShuffleHashNodes

  /** `df` hinted `shuffle_hash` when [[pinsShuffle]]`(nodes)`. */
  def nodeSide(df: DataFrame, nodes: Long): DataFrame =
    if (pinsShuffle(nodes)) df.hint("shuffle_hash") else df
}
