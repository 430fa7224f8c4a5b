package perfbench

import java.security.MessageDigest

/** Undirected simple graph held on the driver: vertices are the sorted
  * distinct endpoint ids, edges are index pairs u < v, duplicate-free.
  * The independent references below run on it and share no code with
  * the engine.
  */
final class LocalGraph private (val ids: Array[Long], val us: Array[Int], val vs: Array[Int]) {
  def n: Int = ids.length
  def m: Int = us.length
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Symmetric adjacency in CSR form: (offsets, neighbours). */
  lazy val adjacency: (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    var k = 0
    while (k < m) { off(us(k) + 1) += 1; off(vs(k) + 1) += 1; k += 1 }
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val fill = off.clone()
    val nb = new Array[Int](2 * m)
    k = 0
    while (k < m) {
      nb(fill(us(k))) = vs(k); fill(us(k)) += 1
      nb(fill(vs(k))) = us(k); fill(vs(k)) += 1
      k += 1
    }
    (off, nb)
  }

  def degree(i: Int): Int = adjacency._1(i + 1) - adjacency._1(i)

  /** Fingerprint of the vertex ids and edge set (16 hex digits). */
  lazy val fingerprint: String = {
    val buf = java.nio.ByteBuffer.allocate(8 * (n + m))
    ids.foreach(buf.putLong)
    var k = 0
    while (k < m) { buf.putLong(us(k).toLong << 32 | vs(k).toLong); k += 1 }
    MessageDigest.getInstance("SHA-256").digest(buf.array()).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
  }
}

object LocalGraph {

  private def sortedUnique(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var c = 0
    var k = 0
    while (k < a.length) {
      if (c == 0 || a(k) != a(c - 1)) { a(c) = a(k); c += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(a, c)
  }

  /** Build from (src, dst) pairs in any orientation; self-loops and
    * repeats are dropped.
    */
  def apply(src: Array[Long], dst: Array[Long]): LocalGraph = {
    val ids = sortedUnique(src ++ dst)
    def idx(x: Long) = java.util.Arrays.binarySearch(ids, x)
    val keys = new Array[Long](src.length)
    var c = 0
    var k = 0
    while (k < src.length) {
      val a = idx(src(k)); val b = idx(dst(k))
      if (a != b) { keys(c) = math.min(a, b).toLong << 32 | math.max(a, b).toLong; c += 1 }
      k += 1
    }
    val uniq = sortedUnique(java.util.Arrays.copyOf(keys, c))
    new LocalGraph(ids, uniq.map(x => (x >>> 32).toInt), uniq.map(x => (x & 0xffffffffL).toInt))
  }
}

object Reference {

  /** Connected components by union-find: vertex id → min member id. */
  def components(g: LocalGraph): Map[Long, Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    var k = 0
    while (k < g.m) {
      val a = find(g.us(k)); val b = find(g.vs(k))
      // link the larger root under the smaller: ids are sorted, so the
      // smallest index of a component is its min member id
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 1
    }
    (0 until g.n).iterator.map(i => g.ids(i) -> g.ids(find(i))).toMap
  }

  /** Exact triangle count: orient each edge from lower to higher
    * (degree, index) and count, for every oriented wedge u→v→w, whether
    * u→w exists (marker array over u's out-neighbours).
    */
  def triangles(g: LocalGraph): Long = {
    def before(a: Int, b: Int) =
      g.degree(a) < g.degree(b) || (g.degree(a) == g.degree(b) && a < b)
    val outs = Array.fill(g.n)(Array.newBuilder[Int])
    var k = 0
    while (k < g.m) {
      val (a, b) = (g.us(k), g.vs(k))
      if (before(a, b)) outs(a) += b else outs(b) += a
      k += 1
    }
    val out = outs.map(_.result())
    val mark = new Array[Int](g.n)
    java.util.Arrays.fill(mark, -1)
    var total = 0L
    var u = 0
    while (u < g.n) {
      out(u).foreach(v => mark(v) = u)
      out(u).foreach(v => out(v).foreach(w => if (mark(w) == u) total += 1))
      u += 1
    }
    total
  }

  /** Synchronous label propagation over the symmetric graph, the
    * published semantics the engine's LPA documents: every vertex starts
    * with its own id, each round adopts the label most frequent among
    * its neighbours (ties to the smaller label), stopping after a round
    * with no change or `maxIter` rounds. Returns vertex id → min member
    * id of its final label class.
    */
  def labelPropagation(g: LocalGraph, maxIter: Int): Map[Long, Long] = {
    val (off, nb) = g.adjacency
    var label = g.ids.clone()
    var step = 0
    var changed = true
    while (step < maxIter && changed) {
      val next = label.clone()
      var i = 0
      while (i < g.n) {
        val from = off(i); val to = off(i + 1)
        if (to > from) {
          val ls = new Array[Long](to - from)
          var j = from
          while (j < to) { ls(j - from) = label(nb(j)); j += 1 }
          java.util.Arrays.sort(ls)
          var best = ls(0); var bestRun = 0; var a = 0
          while (a < ls.length) {
            var b = a
            while (b < ls.length && ls(b) == ls(a)) b += 1
            // ascending scan + strict '>' keeps the smaller label on ties
            if (b - a > bestRun) { bestRun = b - a; best = ls(a) }
            a = b
          }
          next(i) = best
        }
        i += 1
      }
      changed = !java.util.Arrays.equals(next, label)
      label = next
      step += 1
    }
    val minOf = label.indices.groupBy(label(_)).map { case (l, is) => l -> is.map(g.ids(_)).min }
    g.ids.indices.iterator.map(i => g.ids(i) -> minOf(label(i))).toMap
  }

  /** One PageRank power step over the symmetric graph:
    * r'(v) = (1-d)/n + d·(Σ_{u~v} r(u)/deg(u) + dangling/n).
    */
  private def powerStep(g: LocalGraph, r: Array[Double], damping: Double): Array[Double] = {
    val (off, nb) = g.adjacency
    val n = g.n.toDouble
    val dangling = r.indices.filter(i => g.degree(i) == 0).map(r(_)).sum
    Array.tabulate(g.n) { i =>
      var contrib = 0.0
      var j = off(i)
      while (j < off(i + 1)) { contrib += r(nb(j)) / g.degree(nb(j)); j += 1 }
      (1 - damping) / n + damping * (contrib + dangling / n)
    }
  }

  private def maxChange(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((m, i) => math.max(m, math.abs(a(i) - b(i))))

  /** Largest rank change one more power step makes from `ranks`. */
  def powerStepDelta(g: LocalGraph, ranks: Map[Long, Double], damping: Double = 0.85): Double = {
    val r = g.ids.map(ranks)
    maxChange(powerStep(g, r, damping), r)
  }

  /** PageRank by power iteration from the uniform vector until no rank
    * moves by `tol` in a step.
    */
  def pageRank(g: LocalGraph, tol: Double = 1e-6, damping: Double = 0.85): Map[Long, Double] = {
    var r = Array.fill(g.n)(1.0 / g.n)
    var delta = Double.MaxValue
    while (delta >= tol) {
      val next = powerStep(g, r, damping)
      delta = maxChange(next, r)
      r = next
    }
    g.ids.indices.iterator.map(i => g.ids(i) -> r(i)).toMap
  }

  /** Order-independent fingerprint of a set of rows (16 hex digits). */
  def fingerprint(rows: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.toArray.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def labelFingerprint(labels: Map[Long, Long]): String =
    fingerprint(labels.map { case (v, c) => s"$v,$c" })
}
