package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a layer call (or a pass / set-up that groups them).
  * Times are epoch milliseconds so they line up with listener events.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Long, endMs: Long, wallS: Double, traced: Boolean) {
  def group: String = Span.group(run, id)
}

object Span {
  /** The Spark job group a traced span runs its jobs under. */
  def group(run: String, id: Int): String = s"$run/$id"
}

/** Spark metrics of one traced span. */
final case class SpanStats(wallS: Double, driverS: Double, cpuS: Double, gcS: Double,
                           shuffleWriteMb: Double, spillMb: Double, jobs: Int,
                           taskSkew: Double)

/** Listener registered by the benchmark. Always keeps the process-wide
  * shuffle-write total (the end-to-end `shuffle_mb`); for jobs carrying
  * a job group it also keeps per-group job intervals and per-stage task
  * metrics, from which [[stats]] rolls up a span.
  */
final class StageListener extends SparkListener {
  private val jobGroupKey = "spark.jobGroup.id"
  private var shuffleTotal = 0L
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val openJobs = mutable.HashMap.empty[Int, (String, Long)]
  private val jobSpans = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  // per group: executor cpu ns, gc ms, shuffle-write bytes, spill bytes
  private val totals = mutable.HashMap.empty[String, Array[Long]]
  private val taskMs = mutable.HashMap.empty[(String, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(jobGroupKey))).foreach { g =>
      openJobs(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (g, t0) =>
      jobSpans.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val written = m.shuffleWriteMetrics.bytesWritten
      shuffleTotal += written
      stageGroup.get(e.stageId).foreach { g =>
        val t = totals.getOrElseUpdate(g, new Array[Long](4))
        t(0) += m.executorCpuTime
        t(1) += m.jvmGCTime
        t(2) += written
        t(3) += m.memoryBytesSpilled + m.diskBytesSpilled
        taskMs.getOrElseUpdate((g, e.stageId), mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  def shuffleBytes: Long = synchronized(shuffleTotal)

  /** Roll up a traced span; call after the listener bus is drained. */
  def stats(s: Span): SpanStats = synchronized {
    val g = s.group
    val jobs = jobSpans.getOrElse(g, mutable.ArrayBuffer.empty[(Long, Long)])
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    // union of the job intervals: wall time outside it is driver-only
    var busyMs = 0L
    var reach = Long.MinValue
    jobs.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) busyMs += b - from
      reach = math.max(reach, b)
    }
    val t = totals.getOrElse(g, new Array[Long](4))
    val skew = taskMs.collect { case ((grp, _), ts) if grp == g && ts.nonEmpty =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L).toDouble
    }.foldLeft(1.0)(math.max)
    SpanStats(
      wallS = s.wallS,
      driverS = math.max(0.0, s.wallS - busyMs / 1e3),
      cpuS = t(0) / 1e9,
      gcS = t(1) / 1e3,
      shuffleWriteMb = t(2) / 1e6,
      spillMb = t(3) / 1e6,
      jobs = jobSpans.get(g).map(_.size).getOrElse(0),
      taskSkew = skew)
  }
}

/** Records spans around the benchmark's calls into the engine. Every
  * span is timed; a span opened while `traced` is on also carries a
  * Spark job group, so the listener can attribute its jobs to it.
  * Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val run: String) {
  val listener = new StageListener
  spark.sparkContext.addSparkListener(listener)

  var traced = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Time `f` as span `name` under `parent` (0 = the run itself). */
  def span[T](name: String, parent: Int = 0)(f: Int => T): T = {
    nextId += 1
    val id = nextId
    val sc = spark.sparkContext
    val on = traced
    val ms0 = System.currentTimeMillis()
    if (on) sc.setJobGroup(Span.group(run, id), name)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      if (on) sc.clearJobGroup()
      spans += Span(id, name, parent, run, ms0, System.currentTimeMillis(), wall, on)
    }
  }

  def children(parent: Int): Seq[Span] = spans.filter(_.parent == parent).toSeq

  def drain(): Unit = org.apache.spark.perfbench.SparkAccess.drainListeners(spark.sparkContext)

  /** Write every span (with its Spark metrics when traced) as JSON. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = spans.sortBy(_.id).map { s =>
      val base = s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"run":${q(s.run)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}"""
      if (!s.traced) base + "}"
      else {
        val st = listener.stats(s)
        base + s""","driver_s":${st.driverS},"cpu_s":${st.cpuS},"gc_s":${st.gcS},""" +
          s""""shuffle_write_mb":${st.shuffleWriteMb},"spill_mb":${st.spillMb},""" +
          s""""jobs":${st.jobs},"task_skew":${st.taskSkew}}"""
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
