package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Thrown out of a pass when a layer call itself fails. */
final class LayerFailed(name: String, cause: Throwable)
  extends RuntimeException(s"$name threw: $cause", cause)

object Check {
  def ensure(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** Compare against the stored expectation for this seed, if any. */
  def expected(expect: Map[String, String], key: String, actual: Any): Unit =
    expect.get(key).foreach(e => ensure(e == actual.toString, s"$key = $actual, expected $e"))

  def pairs(df: DataFrame, a: String, b: String): (Array[Long], Array[Long]) = {
    val rows = df.select(a, b).collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  def labels(df: DataFrame, id: String, label: String): Map[Long, Long] = {
    val rows = df.select(id, label).collect()
    val m = rows.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    ensure(m.size == rows.length, s"${rows.length - m.size} vertices labelled twice")
    m
  }

  /** Structural checks on a component labelling, then equality with
    * the reference labelling.
    */
  def components(got: Map[Long, Long], g: LocalGraph, reference: Map[Long, Long]): Unit = {
    var k = 0
    while (k < g.m) {
      val (a, b) = (g.ids(g.us(k)), g.ids(g.vs(k)))
      ensure(got.get(a).isDefined && got.get(a) == got.get(b), s"edge ($a, $b) crosses components")
      k += 1
    }
    got.groupBy(_._2).foreach { case (label, members) =>
      ensure(members.keys.min == label, s"label $label is not its component's min member")
    }
    ensure(got.keySet == reference.keySet, s"vertex set differs: ${got.size} vs ${reference.size}")
    ensure(got == reference, "labels differ from the union-find reference")
  }
}

/** Op accounting for one run. An op is one layer call plus its output
  * check; a throw or a failed check counts it as failed. Checks are
  * queued while the pass is timed and run after it.
  */
final class Ops(spark: SparkSession, tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private val pending = mutable.ArrayBuffer.empty[(String, () => Unit)]
  /** Largest cached-block total seen at a layer boundary this pass. */
  var storagePeak = 0L

  def sampleStorage(): Unit =
    storagePeak = math.max(storagePeak,
      org.apache.spark.perfbench.SparkAccess.cachedBytes(spark.sparkContext))

  def call[T](name: String, parent: Int)(f: => T)(check: T => Unit): T = {
    attempted += 1
    val out = try tracer.span(name, parent)(_ => f) catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: $e"
        throw new LayerFailed(name, e)
    }
    sampleStorage()
    pending += name -> (() => check(out))
    out
  }

  def runChecks(): Unit = {
    pending.foreach { case (name, c) =>
      try c() catch {
        case e: Throwable =>
          failed += 1
          failures += s"$name: ${e.getMessage}"
      }
    }
    pending.clear()
  }
}
