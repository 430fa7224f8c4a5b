package perfbench

import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, Triangles}
import graft.graph.GraphOps

/** The benchmark's checks of itself:
  *  - listener attribution: a span around a `groupBy` reports shuffle
  *    writes, a span around a narrow projection reports none;
  *  - perturbation: a correct CC labelling and triangle count pass their
  *    op checks, and the same outputs with one label flipped or the
  *    count off by one are counted as failed ops.
  * Returns the process exit code.
  */
object SelfTest {

  def run(a: Main.Args): Int = {
    val spark = Main.startSession(2, a.workDir)
    val results = try {
      val t = new Tracer(spark, "self-test")
      t.traced = true
      val wide = t.span("groupBy") { id =>
        spark.range(0, 200000, 1, 4).groupBy(col("id") % 97).count().collect(); id
      }
      val narrow = t.span("map") { id =>
        spark.range(0, 200000, 1, 4).select((col("id") * 2).as("x"))
          .write.format("noop").mode("overwrite").save()
        id
      }
      t.drain()
      def statsOf(id: Int) = t.listener.stats(t.spans.find(_.id == id).get)
      val (w, n) = (statsOf(wide), statsOf(narrow))

      val p = spark.sparkContext.defaultParallelism
      val raw = Workload.powerlawEdges(spark, 20000L, a.seed).localCheckpoint(true)
      val refs = new GraphRefs(Workload.graphOf(raw))
      val ops = new Ops(spark, t)
      val cc = ops.call("algo.cc", 0) {
        ConnectedComponents.run(spark, raw, None, p).localCheckpoint(true)
      }(refs.checkComponents)
      val tri = ops.call("algo.triangles", 0) {
        Triangles.countTriangles(spark, GraphOps.undirectedPairs(raw), p)
      }(n => Check.ensure(n == refs.triangles, s"$n != ${refs.triangles}"))
      ops.runChecks()
      val cleanFailed = ops.failed
      val victim = refs.g.ids(refs.g.us(0))
      ops.call("algo.cc", 0) {
        cc.withColumn("component",
          when(col("id") === victim, col("component") + 1).otherwise(col("component")))
      }(refs.checkComponents)
      ops.call("algo.triangles", 0)(tri + 1)(n =>
        Check.ensure(n == refs.triangles, s"$n != ${refs.triangles}"))
      ops.runChecks()

      Seq(
        s"groupBy span writes shuffle (${w.shuffleWriteMb} MB, ${w.jobs} jobs)" ->
          (w.shuffleWriteMb > 0 && w.jobs > 0),
        s"narrow map span writes none (${n.shuffleWriteMb} MB, ${n.jobs} jobs)" ->
          (n.shuffleWriteMb == 0.0 && n.jobs > 0),
        s"correct CC and triangle outputs pass (${ops.failures.take(cleanFailed).mkString("; ")})" ->
          (cleanFailed == 0),
        s"flipped CC label and off-by-one count fail (${ops.failures.drop(cleanFailed).mkString("; ")})" ->
          (ops.attempted == 4 && ops.failed == 2))
    } finally spark.stop()
    results.foreach { case (what, ok) => println(s"${if (ok) "PASS" else "FAIL"} $what") }
    if (results.forall(_._2)) 0 else 1
  }
}
