package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Lineage

/** Approximate Neighbourhood Function via Flajolet–Martin bit sketches —
  * the ANF/HyperBall family (Palmer/Gibbons/Faloutsos, KDD 2002; Boldi &
  * Vigna's HyperBall), the standard way to estimate per-vertex ball sizes
  * and the effective diameter of a web-scale link graph without the
  * frontier blow-up of exact reachability.
  *
  * Each vertex carries `registers` FM sketches; register j seeds ONE bit
  * whose position is geometrically distributed — here the
  * number-of-trailing-zeros of a 60-bit md5 prefix of `"j:id"`, so the
  * whole trajectory is deterministic and byte-for-byte reproducible in
  * DuckDB (the oracle-parity discipline; [[graft.OracleSql]] `anf4`
  * unrolls the same rounds). Round t+1 is
  * `sketch(v) |= OR over in-neighbours u of sketch(u)`: after k rounds
  * register bits summarise the k-hop in-ball, and the first-zero-bit
  * index averaged over registers estimates log2 of the ball size.
  *
  * Scale shape: per round ONE src-equi join + ONE `bit_or` hash aggregate
  * on LONG columns + a left-join merge co-partitioned on the vertex key;
  * state is O(registers) longs per vertex — constant, unlike exact
  * reachability whose per-vertex set state explodes with the ball. Rounds
  * are materialized through [[Lineage.cut]] like every iterative kernel.
  */
object Sketches {

  /** Lowest ZERO-bit index of a non-negative long: `length(bin(~r & (r+1)))
    * - 1` — identical spelling in DuckDB.
    */
  def lowestZeroBitIdx(c: Column): Column =
    length(bin(bitwise_not(c).bitwiseAND(c + lit(1L)))) - lit(1)

  /** Round-0 sketches: register j of vertex v holds one bit, at position
    * = trailing zeros of the 60-bit md5 prefix of `"j:v"` (capped at 30).
    * Returns the materialized (id, r0..r{registers-1}) state.
    */
  private def seed(e: DataFrame, registers: Int): DataFrame = {
    val v = e.select(col("src").as("id")).distinct()
    val hs = v.select(col("id") +: (0 until registers).map { j =>
      conv(substring(md5(concat(lit(s"$j:"), col("id").cast("string"))),
        1, 15), 16, 10).cast("long").as(s"h$j")
    }: _*)
    // seed bit = 2^(trailing zeros of the 60-bit hash, capped at 30)
    val init = hs.select(col("id") +: (0 until registers).map(j =>
      expr(s"shiftleft(CAST(1 AS BIGINT), " +
        s"least(length(bin(h$j & -h$j)) - 1, 30))").as(s"r$j")): _*)
    Lineage.cut(init)
  }

  /** One propagation round: `s(v) |= OR over in-neighbours u of s(u)`. */
  private def propagate(e: DataFrame, s: DataFrame,
                        registers: Int): DataFrame = {
    val aggs = (0 until registers).map(j => expr(s"bit_or(r$j)").as(s"u$j"))
    val upd = e.join(s.hint("shuffle_hash"), e("src") === s("id"))
      .groupBy(e("dst").as("uid"))
      .agg(aggs.head, aggs.tail: _*)
    val merged = s.join(upd.hint("shuffle_hash"), s("id") === upd("uid"), "left")
      .select(col("id") +: (0 until registers).map(j =>
        (col(s"r$j").bitwiseOR(coalesce(col(s"u$j"), lit(0L))))
          .as(s"r$j")): _*)
    Lineage.cut(merged)
  }

  /** Per-vertex sum of the registers' first-zero-bit indices. */
  private def lsbSum(registers: Int): Column = (0 until registers)
    .map(j => lowestZeroBitIdx(col(s"r$j"))).reduce(_ + _).cast("long")

  /** FM sketch propagation over directed edges, truncated at `rounds`.
    *
    * @return (id, r0..r{registers-1}, lsb_sum) — the raw register words
    *         (exact integers, oracle-comparable) plus the summed
    *         first-zero-bit index (the integer core of the FM estimate
    *         2^(lsb_sum/registers)/0.77351).
    */
  def anf(edges: DataFrame, rounds: Int, registers: Int): DataFrame = {
    val e = Lineage.cut(edges.select("src", "dst"))
    var s = seed(e, registers)
    for (_ <- 1 to rounds) s = propagate(e, s, registers)
    s.withColumn("lsb_sum", lsbSum(registers))
  }

  /** Per-round neighbourhood-function profile — the data behind an
    * effective-diameter estimate (ANF's N(t) curve): for every round t,
    * the corpus-wide sum of per-vertex first-zero-bit indices. N(t)
    * flattens when balls stop growing; the first t where the sum stops
    * increasing bounds the effective diameter. All-integer, so the curve
    * itself crosses the oracle gate (the float 2^(s/r)/0.77351 estimate is
    * a post-processing step left to the caller).
    *
    * Cost: the same per-round join+bit_or+merge as [[anf]] (each round's
    * state is materialized anyway) plus one tiny agg per round.
    */
  def anfProfile(edges: DataFrame, rounds: Int, registers: Int): DataFrame = {
    val e = Lineage.cut(edges.select("src", "dst"))
    def roundRow(df: DataFrame, t: Int): DataFrame =
      df.agg(sum(lsbSum(registers)).cast("long").as("total_lsb"))
        .select(lit(t.toLong).as("round"), col("total_lsb"))
    var s = seed(e, registers)
    var prof = roundRow(s, 0)
    for (t <- 1 to rounds) {
      s = propagate(e, s, registers)
      prof = prof.unionByName(roundRow(s, t))
    }
    prof
  }
}
