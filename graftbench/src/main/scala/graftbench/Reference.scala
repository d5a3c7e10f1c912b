package graftbench

/** Plain single-threaded implementations the engine's outputs are checked
  * against. They share no code with the engine. */
object Reference {

  /** PageRank on the directed view of `g` (both directions of every edge)
    * over vertices 1..n: start at 1/n, then `iterations` times
    * `(1-d)/n + d * sum(value(u) / deg(u))` over in-neighbours u. Isolated
    * vertices keep only the teleport term. Index v-1 holds vertex v. */
  def pageRank(g: Csr, damping: Double, iterations: Int): Array[Double] = {
    val n = g.n
    var value = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iterations) {
      val acc = new Array[Double](n)
      var u = 1
      while (u <= n) {
        val d = g.degree(u)
        if (d > 0) {
          val share = value(u - 1) / d
          var k = g.off(u - 1)
          while (k < g.off(u)) { acc(g.nbrs(k) - 1) += share; k += 1 }
        }
        u += 1
      }
      value = acc.map(s => (1.0 - damping) / n + damping * s)
    }
    value
  }

  /** Number of triangles: for every edge u < v, the common neighbours
    * w > v, so each triangle counts once. */
  def triangles(g: Csr): Long = {
    var total = 0L
    for (u <- 1 to g.n) {
      var i = g.off(u - 1)
      while (i < g.off(u)) {
        val v = g.nbrs(i)
        if (v > u) {
          // sorted-list intersection of the neighbours above v
          var a = i + 1
          var b = g.off(v - 1)
          while (a < g.off(u) && b < g.off(v)) {
            val x = g.nbrs(a); val y = g.nbrs(b)
            if (x < y) a += 1
            else if (y < x) b += 1
            else { if (x > v) total += 1; a += 1; b += 1 }
          }
        }
        i += 1
      }
    }
    total
  }

  /** Hop distances from `source` (unit weights); -1 for unreached. */
  def bfs(g: Csr, source: Int): Array[Int] = {
    val dist = Array.fill(g.n)(-1)
    val queue = new Array[Int](g.n)
    var head = 0; var tail = 0
    dist(source - 1) = 0; queue(tail) = source; tail += 1
    while (head < tail) {
      val u = queue(head); head += 1
      var k = g.off(u - 1)
      while (k < g.off(u)) {
        val v = g.nbrs(k)
        if (dist(v - 1) < 0) { dist(v - 1) = dist(u - 1) + 1; queue(tail) = v; tail += 1 }
        k += 1
      }
    }
    dist
  }

  /** Connected-component label of every vertex: the smallest id in it. */
  def components(g: Csr): Array[Int] = {
    val label = Array.fill(g.n)(0)
    val queue = new Array[Int](g.n)
    for (v <- 1 to g.n if label(v - 1) == 0) {
      // v is the smallest id of its component: ids are visited in order
      var head = 0; var tail = 0
      label(v - 1) = v; queue(tail) = v; tail += 1
      while (head < tail) {
        val u = queue(head); head += 1
        var k = g.off(u - 1)
        while (k < g.off(u)) {
          val w = g.nbrs(k)
          if (label(w - 1) == 0) { label(w - 1) = v; queue(tail) = w; tail += 1 }
          k += 1
        }
      }
    }
    label
  }
}
