package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.util.SplittableRandom

/** Undirected simple graph on vertices 1..n in compressed sparse row form:
  * the neighbours of vertex v are `nbrs(off(v-1) until off(v))`, sorted. */
final case class Csr(n: Int, off: Array[Int], nbrs: Array[Int]) {
  def neighbours(v: Int): Array[Int] = java.util.Arrays.copyOfRange(nbrs, off(v - 1), off(v))
  def degree(v: Int): Int = off(v) - off(v - 1)
  /** Undirected edges, each counted once. */
  def edgeCount: Long = nbrs.length / 2L
}

object Csr {
  /** Builds the CSR of the undirected graph with the given canonical pairs
    * (u < v, 1-based, no duplicates). */
  def fromPairs(n: Int, pairs: Array[Long]): Csr = {
    val deg = new Array[Int](n + 1)
    pairs.foreach { p => deg(hi(p)) += 1; deg(lo(p)) += 1 }
    val off = new Array[Int](n + 1)
    var v = 1
    while (v <= n) { off(v) = off(v - 1) + deg(v); v += 1 }
    val fill = java.util.Arrays.copyOf(off, n + 1)
    val nbrs = new Array[Int](off(n))
    pairs.foreach { p =>
      val a = hi(p); val b = lo(p)
      nbrs(fill(a - 1)) = b; fill(a - 1) += 1
      nbrs(fill(b - 1)) = a; fill(b - 1) += 1
    }
    v = 1
    while (v <= n) { java.util.Arrays.sort(nbrs, off(v - 1), off(v)); v += 1 }
    Csr(n, off, nbrs)
  }

  def pair(u: Int, v: Int): Long = (math.min(u, v).toLong << 32) | math.max(u, v).toLong
  def hi(p: Long): Int = (p >>> 32).toInt
  def lo(p: Long): Int = (p & 0xffffffffL).toInt
}

/** Deterministic input generators: the same seed always gives the same
  * graph, and the engine only ever sees the files written from it. */
object Gen {

  /** R-MAT graph with the Graph500 quadrant probabilities a/b/c = .57/.19/.19:
    * `edgeFactor * 2^scale` draws, self-loops and duplicates dropped, each
    * undirected edge kept once as a canonical (u < v) pair on 1-based ids.
    * The result is sorted. */
  def rmat(scale: Int, edgeFactor: Int, seed: Long): Array[Long] = {
    val rnd = new SplittableRandom(seed)
    val draws = edgeFactor.toLong << scale
    val out = new Array[Long](draws.toInt)
    var k = 0
    var i = 0L
    while (i < draws) {
      var u = 0; var v = 0; var bit = 0
      while (bit < scale) {
        val r = rnd.nextDouble()
        if (r >= 0.57) {
          if (r < 0.76) v |= 1 << bit
          else if (r < 0.95) u |= 1 << bit
          else { u |= 1 << bit; v |= 1 << bit }
        }
        bit += 1
      }
      if (u != v) { out(k) = Csr.pair(u + 1, v + 1); k += 1 }
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(out, k)
    java.util.Arrays.sort(sorted)
    var m = 0
    var j = 0
    while (j < k) {
      if (m == 0 || sorted(j) != sorted(m - 1)) { sorted(m) = sorted(j); m += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(sorted, m)
  }

  /** Largest vertex id that occurs in the pairs. */
  def maxId(pairs: Array[Long]): Int = pairs.iterator.map(Csr.lo).foldLeft(0)(math.max)

  /** `side`×`side` grid with one diagonal per cell, as canonical pairs on
    * 1-based ids. Vertex ids are a seeded permutation of the grid cells,
    * except that id 1 always sits at corner (0, 0). */
  def mesh(side: Int, seed: Long): Array[Long] = {
    val n = side * side
    // ids(cell) for cell = r*side + c; Fisher-Yates over cells 1..n-1
    val ids = Array.tabulate(n)(_ + 1)
    val rnd = new SplittableRandom(seed)
    var i = n - 1
    while (i > 1) {
      val j = 1 + rnd.nextInt(i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val b = Array.newBuilder[Long]
    for (r <- 0 until side; c <- 0 until side) {
      val here = ids(r * side + c)
      if (c + 1 < side) b += Csr.pair(here, ids(r * side + c + 1))
      if (r + 1 < side) b += Csr.pair(here, ids((r + 1) * side + c))
      if (r + 1 < side && c + 1 < side) b += Csr.pair(here, ids((r + 1) * side + c + 1))
    }
    val pairs = b.result()
    java.util.Arrays.sort(pairs)
    pairs
  }

  /** Edge-list text: one `src dst` line per direction of every pair. */
  def writeEdgeList(pairs: Array[Long], path: String): Unit =
    write(path) { w =>
      pairs.foreach { p =>
        val u = Csr.hi(p); val v = Csr.lo(p)
        w.write(s"$u $v\n$v $u\n")
      }
    }

  /** METIS adjacency: header `n m`, then line v lists the neighbours of v. */
  def writeMetis(g: Csr, path: String): Unit =
    write(path) { w =>
      w.write(s"${g.n} ${g.edgeCount}\n")
      for (v <- 1 to g.n) w.write(g.neighbours(v).mkString("", " ", "\n"))
    }

  private def write(path: String)(f: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 16)
    try f(w) finally w.close()
  }
}
