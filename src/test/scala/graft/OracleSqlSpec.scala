package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static checks on the strings of [[OracleSql.all]]; no DuckDB needed.
  *
  * Every fixpoint recursion sits in a subquery of its own: DuckDB 1.0
  * evaluates a sibling `A UNION B` CTE of a top-level `WITH RECURSIVE` as
  * `UNION ALL`. Every recursion carries the shared round cap, so one that
  * never converges raises an error instead of running on.
  */
class OracleSqlSpec extends AnyFunSuite {

  private val Recursive = "(?i)with\\s+recursive".r
  private val Cap =
    raw"error\('[^']* did not converge in ${OracleSql.MaxRounds} rounds'\)".r

  /** Index of the parenthesis that closes the one at `open`, skipping
    * quoted literals.
    */
  private def closing(sql: String, open: Int): Int = {
    var depth = 0
    var quoted = false
    var i = open
    while (i < sql.length) {
      sql(i) match {
        case '\'' => quoted = !quoted
        case '(' if !quoted => depth += 1
        case ')' if !quoted =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    fail(s"unbalanced parenthesis at $open")
  }

  test("no statement opens with a top-level WITH RECURSIVE") {
    val top = OracleSql.all.collect {
      case (q, sql) if Recursive.findPrefixOf(sql.trim).isDefined => q
    }
    assert(top.isEmpty, s"top-level WITH RECURSIVE in ${top.toSeq.sorted}")
  }

  test("every WITH RECURSIVE opens a subquery that carries the round cap") {
    for ((q, sql) <- OracleSql.all; m <- Recursive.findAllMatchIn(sql)) {
      val open = sql.lastIndexWhere(!_.isWhitespace, m.start - 1)
      assert(open >= 0 && sql(open) == '(',
        s"$q: WITH RECURSIVE at ${m.start} opens no subquery")
      val body = sql.substring(open, closing(sql, open) + 1)
      assert(Cap.findAllMatchIn(body).size ===
        Recursive.findAllMatchIn(body).size,
        s"$q: a recursion at ${m.start} lacks the round cap")
    }
  }

  test("the converged oracles are fixpoint recursions, not unrolls") {
    val converged = Seq("kcore3_converged", "coreness", "sssp_converged",
      "sssp_delta", "ktruss3", "truss_comm", "coloring_md5", "mis",
      "matching", "vertex_cover", "matching_b2", "matching_w", "msf",
      "densest", "densest_w")
    for (q <- converged)
      assert(Recursive.findFirstIn(OracleSql.all(q)).isDefined, q)
  }
}
