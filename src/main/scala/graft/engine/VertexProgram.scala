package graft.engine

import org.apache.spark.sql.{Column, DataFrame}

/** The user surface of the engine — LA3's compile-time C++ vertex program
  * (init / gather / combine / apply, PAPER §3) re-expressed as Catalyst
  * column expressions so every superstep stays inside whole-stage codegen
  * (SURVEY.md §2.9). One instance describes one algorithm; the loop lives
  * in [[Superstep]].
  */
trait VertexProgram {
  /** Initial vertex state: one row per vertex with `id` plus the state
    * columns this program maintains (must include everything `applyState`
    * reads). `graph.vertices` has columns (id, outdeg, indeg, class).
    */
  def initState(vertices: DataFrame): DataFrame

  /** Per-edge message (⊗): evaluated over frontier⋈edges rows, which expose
    * the edge columns (src, dst, weight) plus the frontier's state columns.
    * E.g. PR: rank/outdeg · weight; SSSP: dist + weight; CC: label.
    */
  def gatherExpr: Column

  /** The state columns [[gatherExpr]] reads — the loop projects the
    * frontier down to exactly these before broadcasting it each superstep
    * (LA3 ships x-values, not whole vertex structs).
    */
  def gatherStateColumns: Seq[String]

  /** Whether [[gatherExpr]] reads the edge weight — when false the loop
    * drops the weight column from the materialized edge table (8+ bytes per
    * edge row saved across every superstep's probe).
    */
  def usesEdgeWeight: Boolean = true

  /** Message reduction (⊕) applied to column "msg" grouped by dst:
    * sum/min/max/... Must be associative+commutative (it runs as Spark's
    * partial+final hash aggregate — exactly LA3's local-then-row reduce).
    */
  def combineExpr(msg: Column): Column

  /** New state from `state LEFT OUTER JOIN msgs ON id` (msgs column `agg`
    * is null for vertices that received nothing). Must return (id, state
    * columns, changed: boolean). `changed` drives a frontier program's
    * frontier and convergence (see [[residualExpr]]).
    */
  def applyState(state: DataFrame, msgs: DataFrame): DataFrame

  /** The program's kind, and with it how the loop runs:
    *
    *  - `Some(r)`: '''stationary''' (PR). Every vertex scatters every
    *    superstep, and the run converges when max(r) over the new state
    *    drops below `SuperstepConfig.tol`. The loop keeps the session's
    *    partition count: the combine is a float sum, whose summation order
    *    (and hence 6-dp rounding) the pinned count keeps bit-stable.
    *  - `None`: '''frontier''' (CC, BFS/SSSP). Only changed vertices
    *    scatter — LA3's activity bitvectors (PAPER §5.2) — and the run
    *    converges when no vertex changed; `tol` is not read. The combine
    *    is an exact min/max/count, identical at any partition count, so
    *    the loop may lower its count to the edge set's size
    *    (`Lineage.withAdaptiveLoopConf`; guide §2: partitioning derives
    *    from measured input size, not a constant tuned for one box).
    */
  def residualExpr: Option[Column]
}
