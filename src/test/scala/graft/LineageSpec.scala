package graft

import graft.engine.Lineage

/** The session scopes of [[Lineage]]: the requested partition count is the
  * session's, the adaptive count is ⌈rows / rowsPerPartition⌉ capped by
  * it, and each scope restores every key it set.
  */
class LineageSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Smj = "spark.sql.join.preferSortMergeJoin"
  private val Parts = "spark.sql.shuffle.partitions"

  private def conf: Map[String, String] =
    Seq(Aqe, Smj, Parts).map(k => k -> spark.conf.get(k)).toMap

  /** `body` with the session's partition count at `n`, restored after. */
  private def atPartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get(Parts)
    spark.conf.set(Parts, n.toString)
    try body finally spark.conf.set(Parts, prev)
  }

  test("the requested partition count is the session's") {
    assert(Lineage.partitions(spark) === spark.conf.get(Parts).toInt)
    atPartitions(7)(assert(Lineage.partitions(spark) === 7))
  }

  test("the adaptive count is ⌈rows / 65,536⌉, never above the session's") {
    val unit = Lineage.rowsPerPartition
    assert(unit === 65536L)
    atPartitions(6) {
      val cases = Seq(0L -> 1, 1L -> 1, unit -> 1, unit + 1 -> 2,
        3 * unit -> 3, 5 * unit + 1 -> 6, 100 * unit -> 6)
      for ((rows, want) <- cases)
        Lineage.withAdaptiveLoopConf(spark, rows) { n =>
          assert(n === want, s"rows=$rows")
          assert(spark.conf.get(Parts) === want.toString, s"rows=$rows")
        }
    }
  }

  test("withLoopConf turns AQE and SMJ off and keeps the partition count") {
    atPartitions(5) {
      Lineage.withLoopConf(spark) {
        assert(spark.conf.get(Aqe) === "false")
        assert(spark.conf.get(Smj) === "false")
        assert(spark.conf.get(Parts) === "5")
      }
    }
  }

  test("withAdaptiveLoopConf leaves AQE and SMJ untouched") {
    val before = conf
    assert(before(Aqe) === "true")
    atPartitions(5) {
      Lineage.withAdaptiveLoopConf(spark, 1L) { n =>
        assert(n === 1)
        assert(spark.conf.get(Aqe) === before(Aqe))
        assert(spark.conf.get(Smj) === before(Smj))
      }
    }
  }

  test("each scope restores every key it set, on exit and on a throw") {
    atPartitions(5) {
      val before = conf
      val scopes = Seq[(String, (=> Unit) => Unit)](
        "withLoopConf" -> (b => Lineage.withLoopConf(spark)(b)),
        "withAdaptiveLoopConf" ->
          (b => Lineage.withAdaptiveLoopConf(spark, 1L)(_ => b)),
        "withAdaptiveLoopConf in withLoopConf" -> (b =>
          Lineage.withLoopConf(spark)(
            Lineage.withAdaptiveLoopConf(spark, 1L)(_ => b))))
      for ((name, scope) <- scopes) {
        var ran = false
        scope { ran = true; assert(conf !== before, name) }
        assert(ran && conf === before, s"$name: normal exit")
        intercept[IllegalStateException](
          scope(throw new IllegalStateException(name)))
        assert(conf === before, s"$name: after a throw")
      }
    }
  }
}
