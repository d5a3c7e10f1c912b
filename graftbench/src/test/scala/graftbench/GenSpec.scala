package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def isCanonicalSet(pairs: Array[Long]): Boolean =
    pairs.forall(p => Csr.hi(p) < Csr.lo(p) && Csr.hi(p) >= 1) &&
      pairs.sliding(2).forall { case Array(a, b) => a < b; case _ => true }

  test("R-MAT is deterministic per seed, canonical, and free of loops and duplicates") {
    val a = Gen.rmat(10, 16, 7)
    assert(a.sameElements(Gen.rmat(10, 16, 7)))
    assert(!a.sameElements(Gen.rmat(10, 16, 8)))
    assert(isCanonicalSet(a))
    assert(Gen.maxId(a) <= 1024)
  }

  test("R-MAT at scale 16, edge factor 16, seed 42 has a fixed pair count") {
    val n = Gen.rmat(16, 16, 42).length
    assert(n == RmatScale16Seed42, s"$n pairs")
  }

  test("the 125x125 mesh has 15,625 vertices and 46,376 edges, id 1 at a corner") {
    for (seed <- Seq(1L, 42L)) {
      val pairs = Gen.mesh(125, seed)
      assert(isCanonicalSet(pairs))
      val g = Csr.fromPairs(125 * 125, pairs)
      assert(g.n == 15625 && g.edgeCount == 46376)
      // the (0,0) corner touches right, down and the diagonal; its
      // eccentricity is the side minus one, so SSSP and CC from it take
      // 125 supersteps
      assert(g.degree(1) == 3)
      assert(Reference.bfs(g, 1).max == 124)
    }
    assert(Gen.mesh(125, 1).sameElements(Gen.mesh(125, 1)))
    assert(!Gen.mesh(125, 1).sameElements(Gen.mesh(125, 2)))
  }

  test("the METIS and edge-list writers emit what the engine's loaders read") {
    val dir = java.nio.file.Files.createTempDirectory("graftbench").toFile
    val g = Csr.fromPairs(4, Array(Csr.pair(1, 2), Csr.pair(2, 3)))
    Gen.writeMetis(g, s"$dir/g.graph")
    Gen.writeEdgeList(Array(Csr.pair(1, 2), Csr.pair(2, 3)), s"$dir/g.edges")
    val src = scala.io.Source
    assert(src.fromFile(s"$dir/g.graph").getLines().toList == List("4 2", "2", "1 3", "2", ""))
    assert(src.fromFile(s"$dir/g.edges").getLines().toList == List("1 2", "2 1", "2 3", "3 2"))
  }

  private val RmatScale16Seed42 = 909461
}

class ReferenceSpec extends AnyFunSuite {
  private def graph(n: Int, edges: (Int, Int)*) =
    Csr.fromPairs(n, edges.map { case (u, v) => Csr.pair(u, v) }.sorted.toArray)

  test("SSSP on 3line from vertex 1 is 0, 1, 2") {
    assert(Reference.bfs(graph(3, 1 -> 2, 2 -> 3), 1).toSeq == Seq(0, 1, 2))
  }

  test("a 4-clique with a pendant vertex has 4 triangles") {
    val g = graph(5, 1 -> 2, 1 -> 3, 1 -> 4, 2 -> 3, 2 -> 4, 3 -> 4, 4 -> 5)
    assert(Reference.triangles(g) == 4)
    assert(Reference.triangles(graph(3, 1 -> 2, 2 -> 3)) == 0)
  }

  test("components label each vertex with the smallest id it reaches") {
    val g = graph(6, 2 -> 5, 5 -> 3, 4 -> 6)
    assert(Reference.components(g).toSeq == Seq(1, 2, 2, 4, 2, 4))
  }

  test("PageRank is uniform on a clique and keeps mass without dangling vertices") {
    val k4 = graph(4, 1 -> 2, 1 -> 3, 1 -> 4, 2 -> 3, 2 -> 4, 3 -> 4)
    assert(Reference.pageRank(k4, 0.5, 20).forall(x => math.abs(x - 0.25) < 1e-15))
    val star = graph(4, 1 -> 2, 1 -> 3, 1 -> 4)
    val pr = Reference.pageRank(star, 0.5, 3)
    assert(math.abs(pr.sum - 1.0) < 1e-12)
    // one step by hand: centre gets 0.5/4 + 0.5 * 3 * (0.25 / 1)
    assert(math.abs(Reference.pageRank(star, 0.5, 1)(0) - 0.5) < 1e-15)
  }
}
