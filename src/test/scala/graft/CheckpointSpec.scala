package graft

import java.nio.file.Files

import graft.algos.PageRank
import graft.engine.{CheckpointStore, SuperstepConfig}
import graft.util.TempDir

/** Resume-≡-straight-through (SURVEY.md §5.2.3) + manifest lineage. */
class CheckpointSpec extends SparkSpec {

  private val g = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
    (3L, 4L), (4L, 0L))

  test("PR resume from mid-run checkpoint equals straight-through run") {
    TempDir.withTempDir("graft-ckpt") { tmp =>
      val base = tmp.toString

      // straight-through reference (no durable checkpoint)
      val ref = PageRank.run(spark, edgesDf(g),
        SuperstepConfig(numPartitions = 4, tol = 1e-5, maxIter = 100))
      val expRanks = collectD(ref.state, "id", "rank")

      // run 1: killed after 5 supersteps (maxIter = 5), durable snapshots
      val ck1 = new CheckpointStore(base, "pr", "run1")
      PageRank.run(spark, edgesDf(g),
        SuperstepConfig(numPartitions = 4, tol = 1e-5, maxIter = 5,
          checkpoint = Some(ck1)))
      assert(ck1.latestComplete() === Some(4))

      // run 2: resume from snapshot, continue to convergence
      val r2 = PageRank.run(spark, edgesDf(g),
        SuperstepConfig(numPartitions = 4, tol = 1e-5, maxIter = 100,
          checkpoint = Some(ck1)))
      assert(r2.converged)
      assert(r2.supersteps > 5)
      val gotRanks = collectD(r2.state, "id", "rank")

      assert(gotRanks.keySet === expRanks.keySet)
      gotRanks.foreach { case (k, v) =>
        assert(math.abs(v - expRanks(k)) < 1e-12,
          s"vertex $k resume=$v straight=${expRanks(k)}")
      }
    }
  }

  test("manifest carries per-partition lineage, metrics, parent pointer") {
    TempDir.withTempDir("graft-ckpt2") { tmp =>
      val base = tmp.toString
      val ck = new CheckpointStore(base, "pr", "runM")
      PageRank.run(spark, edgesDf(g),
        SuperstepConfig(numPartitions = 4, tol = 1e-5, maxIter = 3,
          checkpoint = Some(ck)))
      val m2 = ck.readManifest(2)
      assert(m2.contains("\"superstep\":2"))
      assert(m2.contains("\"parentSnapshot\":1"))
      assert(m2.contains("\"partitions\":["))
      assert(m2.contains("\"rows\":"))
      assert(m2.contains("\"wallMs\""))
      // snapshot is readable and has the state schema
      val snap = ck.read(spark, 2)
      assert(snap.columns.contains("rank") && snap.columns.contains("changed"))
      assert(snap.count() === 5)
    }
  }

  test("a store with no committed snapshot starts at superstep 0") {
    TempDir.withTempDir("graft-ckpt4") { tmp =>
      val base = tmp.toString
      val cfg = SuperstepConfig(tol = 1e-5, maxIter = 100)
      val ref = PageRank.run(spark, edgesDf(g), cfg)
      // the store's only snapshot dir has no manifest: nothing to resume
      val ck = new CheckpointStore(base, "pr", "runU")
      Files.createDirectories(java.nio.file.Paths.get(base, "pr", "runU",
        "snap=7"))
      val r = PageRank.run(spark, edgesDf(g), cfg.copy(checkpoint = Some(ck)))
      assert(r.metrics.head("superstep") === "0")
      assert(r.supersteps === ref.supersteps)
      assert(r.converged && ref.converged)
      val exp = collectD(ref.state, "id", "rank")
      val got = collectD(r.state, "id", "rank")
      assert(got.keySet === exp.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - exp(k)) < 1e-12) }
    }
  }

  test("latestComplete ignores missing/partial snapshots") {
    TempDir.withTempDir("graft-ckpt3") { tmp =>
      val base = tmp.toString
      val ck = new CheckpointStore(base, "pr", "runX")
      assert(ck.latestComplete() === None)
      // a data dir without a manifest must not count as complete
      Files.createDirectories(java.nio.file.Paths.get(base, "pr", "runX",
        "snap=7"))
      assert(ck.latestComplete() === None)
    }
  }
}
