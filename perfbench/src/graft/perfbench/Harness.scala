package graft.perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkEntry
import graft.algos.{ConnectedComponents, PageRank}
import graft.engine.{SuperstepConfig, SuperstepResult}
import graft.graph.TestGraphs

/** The benchmark's JVM side. It generates the input tables, runs one
  * workload in a closed loop (one driver thread, the next call only after
  * the previous result is collected) and writes what it measured as JSON;
  * `perfbench/run.py` builds it, checks the digests and reports.
  *
  * Modes (arguments are key=value):
  *  - `mode=run`: set up (session, inputs, one untimed warm-up pass), then
  *    timed passes until `seconds` have elapsed.
  *  - `mode=pin`: run every checked query once and dump its rows with the
  *    ledger's oracle SQL, for `perfbench/pin.py`.
  */
object Harness {
  val SpanKey = "perfbench.span"

  /** The generated lineitem table: 200 parts in five disjoint groups, and
    * each order draws its parts from one group. Group 0 (120 parts) is
    * dense: an order's parts are uniform over the group. Groups 1–4 (20
    * parts each) are bands: an order's parts fall in a window of 3–8
    * consecutive parts. Orders go to the groups 6:1:1:1:1, and their sizes
    * are Poisson(4), as in the sf0.001 TPC-H-style table the ledger is
    * tested on. So the weight ≥ 2 graph has five components, the bands
    * long and thin: cc and stream_cc run for about ten rounds, lp5 (five
    * rounds) stops short of the component labels, and the dense group
    * gives the wedge kernels ~300 k wedges.
    */
  val groups = Seq((120, 120, 6), (20, 3, 1), (20, 4, 1), (20, 5, 1), (20, 8, 1))
  val orders = 1500

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val work = a("work")
    val cores = a.getOrElse("cores", "4").toInt
    a("mode") match {
      case "run" => runMode(a, work, cores)
      case "pin" => pinMode(work, cores, a("out"))
    }
    sys.exit(0)
  }

  // ---------------------------------------------------------------- setup

  def session(work: String, cores: Int, meter: Meter): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(meter)
    spark.streams.addListener(meter.streams)
    spark
  }

  /** Writes `<dir>/lineitem.parquet` (l_orderkey, l_partkey) from a fixed
    * generator seed: the tables never change, so the pinned references
    * hold for every run. The workload seed only orders the calls.
    */
  def generate(spark: SparkSession, dir: String): Unit = {
    val rnd = new java.util.SplittableRandom(42L)
    val rows = mutable.ArrayBuffer[Row]()
    val limit = math.exp(-4.0)
    val first = groups.scanLeft(0)(_ + _._1)
    val groupOf = groups.indices.flatMap(g => Seq.fill(groups(g)._3)(g))
    for (o <- 0 until orders) {
      val g = groupOf(o % groupOf.size)
      val (size, window, _) = groups(g)
      var n = 0
      var p = rnd.nextDouble()
      while (p > limit) { n += 1; p *= rnd.nextDouble() }
      val start = first(g) + rnd.nextInt(size - window + 1)
      for (_ <- 0 until n) rows += Row(o.toLong, (start + rnd.nextInt(window)).toLong)
    }
    val schema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  // ------------------------------------------------------------ workloads

  /** The ledger queries a pass of each workload calls; written into the
    * result, which is where `perfbench/run.py` reads them from. */
  val queries: Map[String, Seq[String]] = Map(
    "iterate" -> Seq("pr_converged", "cc", "lp5", "louvain4"),
    "motifs_stream" -> Seq("tc", "lcc", "kclique4", "stream_cc"))

  // -------------------------------------------------------------- digests

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    case f: Float => canon(f.toDouble)
    case other => other.toString
  }

  def canonRows(rows: Array[Row]): Seq[Seq[String]] =
    rows.toSeq.map(r => r.toSeq.map(canon))

  def sha(rows: Seq[Seq[String]]): String = {
    val text = rows.map(_.mkString("\u0001")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- passes

  final case class Span(id: String, parent: String, start: Long, end: Long)

  final class Pass(val index: Int, val traced: Boolean) {
    var wallNs = 0L
    var start = 0L
    var end = 0L
    val steps = mutable.ArrayBuffer[(String, Double)]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Span]()
    var meter: (Seq[JobRec], Seq[StageRec], Long, Seq[Long]) = null
  }

  /** One pass: each query once, in the given order. Each call and the
    * collect of its result are timed together; the result is digested after
    * the timer stops, for comparison with the reference pinned under the
    * query's name. A query that throws is recorded as a failed check and
    * the pass goes on.
    */
  def pass(spark: SparkSession, meter: Meter, dir: String, order: Seq[String], index: Int,
           traced: Boolean): Pass = {
    val p = new Pass(index, traced)
    val sc = spark.sparkContext
    val pid = s"p$index"
    Bus.drain(sc); meter.reset()
    p.start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    for (q <- order) {
      val sid = s"$pid/$q"
      if (traced) sc.setLocalProperty(SpanKey, sid)
      val c0 = System.currentTimeMillis(); val s0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        val c1 = System.currentTimeMillis()
        val rows = df.collect()
        val s1 = System.nanoTime(); val c2 = System.currentTimeMillis()
        if (traced) {
          p.spans += Span(sid, pid, c0, c2)
          p.spans += Span(s"$sid/collect", sid, c1, c2)
        }
        p.steps += q -> (s1 - s0) / 1e9
        val cr = canonRows(rows)
        p.checks += Map("name" -> q, "rows" -> cr.size, "sha" -> sha(cr), "values" -> cr)
      } catch {
        case NonFatal(e) => p.checks += Map("name" -> q, "error" -> e.toString)
      }
    }
    p.wallNs = System.nanoTime() - t0
    p.end = System.currentTimeMillis()
    sc.setLocalProperty(SpanKey, null)
    Bus.drain(sc)
    p.meter = meter.snapshot()
    p
  }

  def passJson(p: Pass): Map[String, Any] = {
    val (jobs, stages, peak, batchMs) = p.meter
    val layerOfJob = jobs.map(j => j.id -> j.layer).toMap
    val layers = Layers.counted.map { l =>
      val js = jobs.filter(_.layer == l)
      val ss = stages.filter(s => layerOfJob.get(s.jobId).contains(l))
      l -> Map(
        // work counts are of completed jobs, stages and tasks: AQE may
        // start and then cancel a stage it no longer needs
        "jobs" -> js.count(_.succeeded), "stages" -> ss.count(_.completed),
        "tasks" -> ss.map(_.tasks).sum,
        "failed_tasks" -> ss.map(_.failedTasks).sum,
        "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "task_run_s" -> ss.map(_.runMs).sum / 1e3,
        "task_wait_s" -> ss.map(_.waitMs).sum / 1e3,
        "gc_s" -> ss.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
        "shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
        "spill_mb" -> ss.map(_.spill).sum / 1e6,
        "peak_exec_mb" -> (0L +: ss.map(_.peakExec)).max / 1e6)
    }.toMap
    Map(
      "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallNs / 1e9,
      "start_ms" -> p.start, "end_ms" -> p.end,
      "steps" -> p.steps.map { case (n, s) => Seq(n, s) },
      "checks" -> p.checks,
      "task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "shuffle_mb" -> stages.map(_.shuffleWrite).sum / 1e6,
      "cached_mb_peak" -> peak / 1e6,
      "jobs" -> jobs.map(j => Seq(j.start, math.max(j.end, j.start), j.layer)),
      "layers" -> layers,
      "batch_ms" -> batchMs,
      "stream_s" -> p.steps.filter(_._1.startsWith("stream_")).map(_._2).sum)
  }

  def spansJson(p: Pass): Seq[Map[String, Any]] = {
    val (jobs, stages, _, _) = p.meter
    Seq(Map("id" -> s"p${p.index}", "parent" -> "", "start" -> p.start, "end" -> p.end)) ++
      p.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "start" -> s.start,
        "end" -> s.end)) ++
      jobs.map(j => Map("id" -> s"job${j.id}",
        "parent" -> (if (j.span.nonEmpty) j.span else s"p${p.index}"),
        "layer" -> j.layer, "start" -> j.start, "end" -> j.end)) ++
      stages.map(s => Map("id" -> s"stage${s.id}", "parent" -> s"job${s.jobId}",
        "start" -> s.start, "end" -> s.end))
  }

  /** SparkEntry.queries returns only the state; the engine's superstep
    * ledger and convergence flag come from the same calls as pr_converged
    * and cc, with the ledger's arguments.
    */
  def engineRuns(spark: SparkSession, dir: String, cores: Int): Seq[SuperstepResult] = {
    val c = SuperstepConfig(numPartitions = cores)
    Seq(
      PageRank.runFiltered(spark, TestGraphs.copurchase(spark, dir),
        c.copy(tol = 1e-6, maxIter = 30, gridSide = Some(4), batchSize = 5)),
      ConnectedComponents.run(spark,
        TestGraphs.copurchase(spark, dir).where(col("weight") >= 2).select("src", "dst"),
        c.copy(batchSize = 4)))
  }

  def superstepJson(r: SuperstepResult): Map[String, Any] = Map(
    "supersteps" -> r.supersteps, "converged" -> r.converged,
    "batches" -> r.metrics.map(_.map { case (k, v) => k -> v }))

  // ------------------------------------------------------------------ modes

  def runMode(a: Map[String, String], work: String, cores: Int): Unit = {
    val w = a("workload")
    require(queries.contains(w), s"unknown workload $w")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val meter = new Meter
    val spark = session(work, cores, meter)
    val dir = s"$work/data"
    generate(spark, dir)
    // the warm-up pass takes JIT and codegen costs out of the timed passes
    val warm = pass(spark, meter, dir, queries(w), -1, traced = false)
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val passes = mutable.ArrayBuffer[Pass]()
    val runStart = System.nanoTime()
    // a traced run needs a traced and an untraced pass; passes start until
    // `seconds` have elapsed
    val minPasses = if (trace) 2 else 1
    while (passes.size < minPasses || (System.nanoTime() - runStart) / 1e9 < seconds) {
      val i = passes.size
      // the seed orders each pass; in a traced run passes alternate between
      // traced and untraced, so tracing's own cost can be read off
      val order = new scala.util.Random(seed * 1000 + i).shuffle(queries(w))
      passes += pass(spark, meter, dir, order, i, traced = trace && i % 2 == 0)
    }
    val engine = if (trace && w == "iterate") engineRuns(spark, dir, cores) else Nil
    val out = Map(
      "workload" -> w, "seed" -> seed, "cores" -> cores, "setup_s" -> setupS,
      "warm_checks" -> warm.checks, "warm_s" -> warm.wallNs / 1e9, "passes" -> passes.map(passJson),
      "engine" -> engine.map(superstepJson), "queries" -> queries, "layers" -> Layers.all)
    write(a("out"), out)
    if (trace) write(a("spans"), passes.filter(_.traced).flatMap(spansJson))
    spark.stop()
  }

  def pinMode(work: String, cores: Int, out: String): Unit = {
    val spark = session(work, cores, new Meter)
    val dir = s"$work/data"
    generate(spark, dir)
    val res = queries.values.flatten.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val rows = canonRows(df.collect())
      q -> Map("columns" -> df.columns.toSeq, "rows" -> rows, "sha" -> sha(rows))
    }.toMap
    val oracle = res.keys.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val converged = engineRuns(spark, dir, cores).forall(_.converged)
    write(out, Map("results" -> res, "oracle_sql" -> oracle, "dir" -> dir,
      "converged" -> converged))
    spark.stop()
  }

  def write(path: String, value: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(path), value)
}
