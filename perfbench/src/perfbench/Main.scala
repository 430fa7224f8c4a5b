package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.perfbench.SparkAccess
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process runs one workload for one seed:
  * set-up (several times, median reported), then closed-loop passes of
  * layer calls for `--seconds` of timed work, checks after each pass,
  * and one JSON line of metrics last on stdout.
  *
  *   --workload repo_pipeline|delta_refresh
  *   --seed N --seconds S --trace 0|1
  *   --expect k=v,k=v   stored expected outputs for this seed
  *   --work-dir DIR     spark-local, warehouse and trace output
  *   --record           also print the reference values
  *   --self-test        run the benchmark's own checks and exit
  */
object Main {

  val Spans = Seq("corpus", "extract", "normalize", "graph", "algo.pagerank", "algo.cc",
    "algo.lpa", "algo.triangles", "algo.pagerank_warm", "algo.cc_incremental",
    "algo.triangles_incremental", "validate")

  val Counters = Seq(
    "normalize.entities_in" -> "count", "normalize.entities_out" -> "count",
    "normalize.edges_in" -> "count", "normalize.edges_out" -> "count",
    "normalize.merge_ratio" -> "ratio", "graph.sym_edges" -> "count",
    "algo.pagerank.iterations" -> "count", "algo.pagerank_warm.iterations" -> "count",
    "algo.lpa.iterations" -> "count", "algo.cc.components" -> "count",
    "algo.triangles.count" -> "count")

  private val BuildLayers = Set("extract", "normalize", "graph")
  private val SetupReps = 3

  final case class Args(workload: String = "", seed: Long = 42L, seconds: Double = 10.0,
                        trace: Boolean = false, expect: Map[String, String] = Map.empty,
                        workDir: String = ".bench_build", record: Boolean = false,
                        selfTest: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--expect" :: v :: rest => parse(rest, a.copy(expect = v.split(",").filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap))
    case "--work-dir" :: v :: rest => parse(rest, a.copy(workDir = v))
    case "--record" :: rest => parse(rest, a.copy(record = true))
    case "--self-test" :: rest => parse(rest, a.copy(selfTest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def startSession(cpus: Int, workDir: String): SparkSession = {
    val local = new File(workDir, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // storage is freed only by the program's explicit unpersists, not
      // whenever a JVM GC lets the context cleaner reclaim a dead frame,
      // so the storage figures are the program's own and repeat
      .config("spark.cleaner.referenceTracking", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  final case class PassStats(traced: Boolean, runS: Double, cpuS: Double, shuffleMb: Double,
                             storagePeakMb: Double, residualMb: Double, spans: Seq[Span],
                             counters: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    if (a.selfTest) sys.exit(SelfTest.run(a))
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val w = Workload(a.workload, a.seed, a.expect)
    val run = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "untraced"}"

    // set-up: session start + input synthesis + materialization, from a
    // fresh session each time; the last one is kept for the passes
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession(cpus, a.workDir)
      tracer = new Tracer(spark, run)
      tracer.traced = a.trace
      tracer.span("setup")(id => w.setup(spark, tracer, id))
      (System.nanoTime() - t0) / 1e9
    }
    tracer.traced = false
    val sc = spark.sparkContext

    val ops = new Ops(spark, tracer)
    val passes = mutable.ArrayBuffer.empty[PassStats]
    val (steal0, jiffies0) = graft.Bench.cpuJiffies()
    var timed = 0.0
    var aborted = false
    // a traced run starts with an untraced warm-up pass, then alternates
    // traced and untraced passes, so the overhead is measured warm and
    // within the run
    val minPasses = if (a.trace) 3 else w.passes
    while (!aborted && (timed < a.seconds || passes.size < minPasses)) {
      val traced = a.trace && passes.size % 2 == 1
      tracer.traced = traced
      val before = sc.getPersistentRDDs.keySet
      tracer.drain()
      val shuffle0 = tracer.listener.shuffleBytes
      val base = SparkAccess.cachedBytes(sc)
      ops.storagePeak = base
      val counters = mutable.Map.empty[String, Double]
      var passId = 0
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      try tracer.span("pass") { id => passId = id; w.pass(spark, ops, id, counters) }
      catch {
        case e: LayerFailed =>
          aborted = true
          System.err.println(s"[perfbench] ${e.getMessage}")
          e.getCause.printStackTrace()
      }
      val runS = (System.nanoTime() - t0) / 1e9
      val cpuS = processCpuS() - cpu0
      tracer.traced = false
      tracer.drain()
      val shuffleMb = (tracer.listener.shuffleBytes - shuffle0) / 1e6
      val residualMb = (SparkAccess.cachedBytes(sc) - base) / 1e6
      val storagePeakMb = ops.storagePeak / 1e6
      ops.runChecks()
      if (!aborted)
        passes += PassStats(traced, runS, cpuS, shuffleMb, storagePeakMb, residualMb,
          tracer.children(passId), counters.toMap)
      timed += runS
      System.err.println(f"[perfbench] pass ${passes.size} run_s=$runS%.2f " +
        f"storage_base_mb=${base / 1e6}%.1f storage_peak_mb=$storagePeakMb%.1f " +
        tracer.children(passId).map(s => f"${s.name}=${s.wallS}%.2f").mkString(" ") + " | " +
        counters.toSeq.sorted.map { case (k, v) => s"$k=${v.round}" }.mkString(" "))
      w.endPass()
      // blocking, so that the next pass starts from the same storage
      val pinned = sc.getPersistentRDDs
      (pinned.keySet -- before).foreach(id => pinned(id).unpersist(blocking = true))
      SparkAccess.dropOrphanBlocks(sc)
    }
    val (steal1, jiffies1) = graft.Bench.cpuJiffies()
    val stealPct = if (jiffies1 > jiffies0) 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0) else 0.0

    ops.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (passes.isEmpty) {
      System.err.println("[perfbench] no pass completed")
      spark.stop()
      sys.exit(1)
    }
    if (a.record) {
      val refs = w.references.toSeq.sorted.map { case (k, v) => s""""$k": "$v"""" }
      println(s"reference {${refs.mkString(", ")}}")
    }

    val untraced = passes.filterNot(_.traced).drop(if (a.trace) 1 else 0).toSeq
    val traced = passes.filter(_.traced).toSeq
    println(f"host local[$cpus] steal_pct=$stealPct%.2f passes=${passes.size} " +
      f"(untraced ${untraced.size}, traced ${traced.size}) timed_s=$timed%.2f " +
      s"setup_s=${setupS.map(x => f"$x%.2f").mkString("/")}")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(setupS, untraced)
      else {
        val out = new File(a.workDir, s"traces/$run.json")
        tracer.write(out.toPath)
        val cover = median(traced.map(p => p.spans.map(_.wallS).sum / p.runS))
        println(f"trace layer spans cover ${100 * cover}%.1f%% of run_s; spans in $out")
        perLayer(tracer, traced, untraced, stealPct)
      }
    val m = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }
    println(s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {${m.mkString(", ")}}}""")
    spark.stop()
  }

  private def wall(p: PassStats, keep: String => Boolean): Double =
    p.spans.filter(s => keep(s.name)).map(_.wallS).sum

  def endToEnd(setupS: Seq[Double], ps: Seq[PassStats]): Seq[(String, Double, String)] = Seq(
    ("setup_s", median(setupS), "s"),
    ("run_s", median(ps.map(_.runS)), "s"),
    ("build_s", median(ps.map(wall(_, BuildLayers))), "s"),
    ("analytics_s", median(ps.map(wall(_, _.startsWith("algo.")))), "s"),
    ("cpu_s", median(ps.map(_.cpuS)), "s"),
    ("shuffle_mb", median(ps.map(_.shuffleMb)), "MB"),
    ("storage_peak_mb", median(ps.map(_.storagePeakMb)), "MB"),
    ("pagerank_edge_iters_per_s", median(ps.map { p =>
      val pr = p.spans.find(s => s.name == "algo.pagerank" || s.name == "algo.pagerank_warm").get
      p.counters("pagerank.sym_edges") * p.counters(s"${pr.name}.iterations") / pr.wallS
    }), "1/s"))

  def perLayer(t: Tracer, traced: Seq[PassStats], untraced: Seq[PassStats],
               stealPct: Double): Seq[(String, Double, String)] = {
    t.drain()
    // a layer called in the passes reports its pass spans; one called
    // only in set-up (corpus) its set-up span
    val setupSpans = t.spans.filter(s => s.traced && t.spans.exists(p => p.id == s.parent && p.name == "setup"))
    val spans = Spans.flatMap { name =>
      val inPasses = traced.flatMap(_.spans.filter(_.name == name))
      val stats = (if (inPasses.nonEmpty) inPasses else setupSpans.filter(_.name == name).toSeq)
        .map(t.listener.stats(_))
      def med(f: SpanStats => Double) = median(stats.map(f))
      Seq(("wall_s", med(_.wallS), "s"), ("driver_s", med(_.driverS), "s"),
        ("cpu_s", med(_.cpuS), "s"), ("gc_s", med(_.gcS), "s"),
        ("shuffle_write_mb", med(_.shuffleWriteMb), "MB"), ("spill_mb", med(_.spillMb), "MB"),
        ("jobs", med(_.jobs.toDouble), "count"), ("task_skew", med(_.taskSkew), "ratio"))
        .map { case (k, v, u) => (s"$name.$k", v, u) }
    }
    val counters = Counters.map { case (k, u) =>
      (k, median(traced.flatMap(_.counters.get(k))), u)
    }
    val overhead = 100.0 * (median(traced.map(_.runS)) / median(untraced.map(_.runS)) - 1.0)
    spans ++ counters ++ Seq(
      ("storage.residual_mb", median(traced.map(_.residualMb)), "MB"),
      ("host.steal_pct", stealPct, "%"),
      ("trace.overhead_pct", overhead, "%"))
  }
}
