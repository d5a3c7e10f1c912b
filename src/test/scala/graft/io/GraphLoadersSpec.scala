package graft.io

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraphLoadersSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def res(name: String): String =
    getClass.getResource(s"/graphs/$name").getPath

  test("edge-list: header and comment lines skipped, 5 edges, 4 vertices") {
    val g = GraphLoaders.edgeList(spark, res("edgelist.graph"))
    assert(g.edges.count() === 5)
    assert(g.vertices.count() === 4)
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 1L)))
  }

  test("edge-list: 0-based file renumbered +1 like the reference") {
    val g = GraphLoaders.edgeList(spark, res("edgelist0.graph"))
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set((1L, 2L), (2L, 3L), (3L, 1L)))
  }

  test("METIS adjacency: line number is the vertex id") {
    val g = GraphLoaders.metisAdjacency(spark, res("metis.graph"))
    assert(g.vertices.count() === 4)
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set(
      (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 3L)))
  }

  test("METIS subgraph fmt=1111: vid/vwgt + (nbr, part, ewgt) triples") {
    val g = GraphLoaders.metisSubgraph(spark, res("subgraph.0"))
    assert(g.vertices.count() === 4)
    val vw = g.vertices.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vw === Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.5, 4L -> 1.0))
    val e = g.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(e === Set(
      (1L, 2L, 1.5, 0), (1L, 3L, 2.0, 1),
      (2L, 1L, 1.5, 0), (2L, 4L, 1.0, 1),
      (3L, 1L, 2.0, 0),
      (4L, 2L, 1.0, 0)))
  }

  test("METIS subgraph fmt=0011 auto-decoded: implicit row-order vid, no vwgt") {
    val g = GraphLoaders.metisSubgraph(spark, res("subgraph01.0"))
    val vw = g.vertices.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vw === Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    val e = g.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(e === Set(
      (1L, 2L, 1.5, 0), (1L, 3L, 2.0, 1),
      (2L, 1L, 1.5, 0), (2L, 4L, 1.0, 1),
      (3L, 1L, 2.0, 0),
      (4L, 2L, 1.0, 1)))
  }

  test("real reference fixtures load with the documented shapes") {
    // read-only inputs from /root/reference/graph (FIXTURES.md §A)
    val rd = GraphLoaders.edgeList(spark, "/root/reference/graph/rdsmall.graph")
    assert(rd.edges.count() === 24) // 24 directed lines after the 2-line header
    assert(rd.vertices.count() === 12) // vertex 11 gap-filled as isolated
    val small = GraphLoaders.metisAdjacency(spark, "/root/reference/graph/small.graph")
    assert(small.vertices.count() === 10)
    assert(small.edges.count() === 20) // 10 undirected edges, both directions
    val sub = GraphLoaders.metisSubgraph(spark, "/root/reference/graph/small.graph.subgraph.0")
    assert(sub.vertices.count() > 0 && sub.edges.count() > 0)
  }

  test("subgraph writer roundtrip: write 2 parts, read back == original") {
    // parts = 2: the one split of this fixture where every id-mod-parts
    // class keeps both vertices and edges — at 3 parts the writer now
    // (correctly) refuses the edgeless part 0, see the empty-part test.
    val src = GraphLoaders.edgeList(spark, "/root/reference/graph/small.graph")
    val base = java.nio.file.Files.createTempDirectory("graft-sgw").toString + "/small"
    GraphLoaders.writeMetisSubgraphs(src, parts = 2, base)
    val back = (0 until 2).map(p => GraphLoaders.metisSubgraph(spark, s"$base.subgraph.$p"))
    val origE = src.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val backE = back.flatMap(_.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))).toSet
    assert(backE === origE)
    val origV = src.vertices.collect().map(_.getLong(0)).toSet
    val backV = back.flatMap(_.vertices.collect().map(_.getLong(0))).toSet
    assert(backV === origV)
    // owners in the files follow the id-mod-parts convention
    val owners = back.flatMap(_.edges.select("dst", "dst_part").collect()
      .map(r => r.getLong(0) -> r.getInt(1)))
    owners.foreach { case (dst, dp) => assert(dp === (dst % 2).toInt) }
  }

  test("subgraph writer: fractional weights roundtrip via the float path") {
    import spark.implicits._
    // Weights 0.5/2.25 must NOT truncate to 0/2 (the pre-fix int cast);
    // the writer switches every weight token to the reference's isfewgts
    // float representation when any weight is fractional.
    val edges = Seq((1L, 2L, 0.5), (2L, 1L, 0.5), (1L, 3L, 2.25), (3L, 1L, 2.25),
      (2L, 3L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 4).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-sgwf").toString + "/frac"
    GraphLoaders.writeMetisSubgraphs(g, parts = 1, base)
    val back = GraphLoaders.metisSubgraph(spark, s"$base.subgraph.0")
    val backE = back.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(backE === edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("subgraph writer refuses an empty part (reference reader errexits on it)") {
    import spark.implicits._
    // 2 vertices, parts=3 → at least one id-mod-parts class is empty; the
    // reference's graph_Read rejects nvtxs<=0||nedges<=0 (graph.h:587-588),
    // so the writer must fail loudly instead of emitting an unreadable file.
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 3).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-sgwe").toString + "/empty"
    val ex = intercept[IllegalArgumentException] {
      GraphLoaders.writeMetisSubgraphs(g, parts = 3, base)
    }
    assert(ex.getMessage.contains("empty"))
  }

  test("partstats vs the reference's hand-partitioned small.graph (partition.h:469-542)") {
    // Hand count from /root/reference/graph/small.graph.subgraph.{0,1,2}:
    // part 0 owns {3,8,9} (6 edge records, 2 pointing off-part: 3→1, 3→2),
    // part 1 owns {1,4,5,10} (8 records, cut 1→2 and 1→3),
    // part 2 owns {2,6,7} (6 records, cut 2→1 and 2→3).
    // Imbalance (nparts·max/sum): vertices 3·4/10 = 1.2, edges 3·8/20 = 1.2.
    val stats = GraphLoaders.partitionStats(
      spark, "/root/reference/graph/small.graph", 3)
    val rows = stats.orderBy("part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows === Array((0L, 3L, 6L, 2L), (1L, 4L, 8L, 2L), (2L, 3L, 6L, 2L)))
    val (vImbal, eImbal, cuts) = GraphLoaders.partitionImbalance(stats)
    assert(math.abs(vImbal - 1.2) < 1e-9)
    assert(math.abs(eImbal - 1.2) < 1e-9)
    assert(cuts === 6L)
  }

  test("partstats on our own writer's output: zero cut for a 1-part write") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 1.0), (3L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 4).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-ps").toString + "/ps"
    GraphLoaders.writeMetisSubgraphs(g, parts = 1, base)
    val stats = GraphLoaders.partitionStats(spark, base, 1)
    val (vImbal, eImbal, cuts) = GraphLoaders.partitionImbalance(stats)
    assert(vImbal === 1.0 && eImbal === 1.0 && cuts === 0L)
  }

  test("partstats counts an isolated vertex (a zero-neighbor `id vwgt` row)") {
    import spark.implicits._
    // Vertex 4 has no edges: the writer emits it as a 2-token row, which
    // the one-scan reader must parse as an empty neighbor list.
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 1.0), (3L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 5).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-psi").toString + "/iso"
    GraphLoaders.writeMetisSubgraphs(g, parts = 2, base)
    val rows = GraphLoaders.partitionStats(spark, base, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // id mod 2: part 0 owns {2, 4} (2 records, both cut), part 1 owns
    // {1, 3} (2 records, both cut).
    assert(rows === Array((0L, 2L, 2L, 2L), (1L, 2L, 2L, 2L)))
    val isolated = GraphLoaders.writtenSubgraphRecords(spark, base, 2)
      .where(org.apache.spark.sql.functions.col("id") === 4L).collect()
    assert(isolated.length === 1 && isolated.head.getSeq[Any](2).isEmpty)
  }

  test("assignment writer: broadcast and shuffle ownership joins write the same files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Ring 1..6, symmetric; the assignment splits it into {1,2,3} and
    // {4,5,6}, which the default id-mod-2 owner would not.
    val ring = (1L to 6L).map(a => (a, a % 6 + 1))
    val edges = (ring ++ ring.map(_.swap)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(spark.range(1, 7).select(col("id")), edges)
    val assign = (1L to 6L).map(v => (v, if (v <= 3) 0L else 1L)).toDF("id", "part")
    def written(budget: Option[Long]): (Seq[String], Seq[String]) = {
      budget.foreach(b => spark.conf.set(graft.graph.GraphOps.BroadcastBytesKey, b.toString))
      try {
        assert(graft.graph.GraphOps.broadcastFits(spark, 32L * 6) === budget.isEmpty)
        val base = java.nio.file.Files.createTempDirectory("graft-sga").toString + "/ring"
        GraphLoaders.writeMetisSubgraphs(g, parts = 2, base, Some(assign))
        val stats = GraphLoaders.partitionStats(spark, base, 2).collect()
          .map(_.mkString("|")).toSeq
        val back = (0 until 2).flatMap(p => GraphLoaders.metisSubgraph(spark,
          s"$base.subgraph.$p").edges.collect().map(_.mkString("|"))).sorted
        (stats, back)
      } finally spark.conf.unset(graft.graph.GraphOps.BroadcastBytesKey)
    }
    val (bStats, bEdges) = written(None)
    val (sStats, sEdges) = written(Some(0L))
    assert(bStats === sStats)
    assert(bEdges === sEdges)
    assert(bEdges.length === 12)
    // Only the two ring edges between 3|4 and 6|1 cross the split, once
    // in each direction.
    assert(bStats === Seq("0|3|6|2|33.33", "1|3|6|2|33.33"))
  }

  test("partstats refuses subgraph files the writer did not produce") {
    // fmt=11 (edge weights + owners, no vid/vwgt columns) and ncon=2
    // rows have token counts the one-scan reader would misread silently.
    val dir = java.nio.file.Files.createTempDirectory("graft-psx")
    def write(name: String, lines: String*): String = {
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      dir.resolve(name).toString
    }
    val fmt11 = write("fmt11.subgraph.0", "2 2 11", "2 0 1", "1 0 1")
    val ex = intercept[IllegalArgumentException] {
      GraphLoaders.partitionStats(spark, s"$dir/fmt11", 1)
    }
    assert(ex.getMessage.contains(fmt11))
    val ncon2 = write("ncon2.subgraph.0", "2 2 1111 2", "1 1 1 2 0 1", "2 1 1 1 0 1")
    val ex2 = intercept[IllegalArgumentException] {
      GraphLoaders.partitionStats(spark, s"$dir/ncon2", 1)
    }
    assert(ex2.getMessage.contains(ncon2))
  }

  test("locality assignment cuts strictly fewer edges than id-mod-parts (O8)") {
    // The reference's headline Zoltan capability (gmr.cpp:107-167,
    // "minimize inter-node traffic"): LPA communities balanced into
    // parts must beat the random `id mod parts` baseline on the
    // co-occurrence graph's edge cut, measured by our own partitionStats.
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val parts = 3
    val g = graft.graph.PropertyGraph(
      graft.operators.GraphQueries.vertexDegMaterialized(spark, sf).select(col("id")),
      graft.graph.PropertyGraph.symmetrize(
        graft.operators.GraphQueries.partPairsMaterialized(spark, sf)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-loc").toString
    GraphLoaders.writeMetisSubgraphs(g, parts, s"$tmp/hash")
    val (_, _, hashCut) = GraphLoaders.partitionImbalance(
      GraphLoaders.partitionStats(spark, s"$tmp/hash", parts))
    val assign = GraphLoaders.localityAssignment(
      graft.operators.GraphQueries.lpaLabelsMaterialized(spark, sf), parts)
    // total function: every labeled id assigned exactly once, to a real part
    val arows = assign.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(arows.length === arows.map(_._1).distinct.length)
    assert(arows.forall { case (_, p) => p >= 0 && p < parts })
    assert(arows.map(_._2).distinct.length === parts,
      "capacity-split LPT must populate every part")
    GraphLoaders.writeMetisSubgraphs(g, parts, s"$tmp/loc", Some(assign))
    val (_, _, locCut) = GraphLoaders.partitionImbalance(
      GraphLoaders.partitionStats(spark, s"$tmp/loc", parts))
    assert(locCut < hashCut,
      s"locality cut $locCut should beat the hash baseline $hashCut")
    // the roundtrip stays exact under a custom assignment
    val backE = (0 until parts)
      .map(p => GraphLoaders.metisSubgraph(spark, s"$tmp/loc.subgraph.$p").edges)
      .reduce(_ union _)
    assert(backE.count() === g.edges.count())
  }

  test("g29 locality roundtrip: cut_improved = true, totals exact, one row per part") {
    // The gated (rows-only) locality query: per-part cut columns must sum
    // to the broadcast totals, and the Zoltan claim (locality beats the
    // hash cut) must hold as data — the same property the O8 spec above
    // proves through partitionImbalance, here through the query surface.
    val rows = graft.operators.GraphQueries
      .g29LocalityRoundtrip(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    val locTot = rows.map(_.getLong(3)).sum
    val hashTot = rows.map(_.getLong(4)).sum
    rows.foreach { r =>
      assert(r.getLong(5) === locTot, "loc_cut_total must equal the per-part sum")
      assert(r.getLong(6) === hashTot, "hash_cut_total must equal the per-part sum")
      assert(r.getBoolean(7), s"locality cut $locTot must beat hash $hashTot")
    }
  }

  test("g29b locality invariants: one row, totality + balance + cut win (O8)") {
    // The oracle-checked companion (VERDICT r11 item 3): nvtxs_total
    // must equal the graph's own vertex count (totality — DuckDB
    // recomputes this side independently), every part populated, the
    // LPT capacity bound held, and the Zoltan cut claim true as data.
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val (frame, assignHandle) = graft.operators.GraphQueries
      .g29bInvariantsWithHandle(spark, sf)
    // g29b persists its assignment frame and cannot unpersist it itself
    // (the caller actions the plan). Release exactly that frame — a
    // blanket clearCache() would evict every cached frame in the shared
    // session and silently slow later suites (ADVICE r13) — and release
    // it even when an assert fails, or the leak outlives this suite
    // (ADVICE r14).
    try {
      val rows = frame.collect()
      assert(rows.length === 1)
      val r = rows.head
      val v = graft.operators.GraphQueries
        .vertexDegMaterialized(spark, sf).select(col("id")).count()
      assert(r.getAs[Long]("nvtxs_total") === v,
        "assignment must be total: every vertex placed exactly once")
      assert(r.getAs[Long]("parts_used") === 3L)
      assert(r.getAs[Boolean]("balance_ok"),
        "max part load must respect the LPT bound cap·(2 − 1/parts)")
      assert(r.getAs[Boolean]("cut_improved"),
        "locality cut must beat the id-mod-parts baseline")
    } finally {
      assignHandle.unpersist(blocking = true)
    }
  }

  test("integer files + SampleSort ≡ sorted concatenation (O22)") {
    val df = GraphLoaders.integers(spark, res("numbers.part.0").stripSuffix(".0") + ".*")
    val sorted = SampleSort.sort(df, "n").collect().map(_.getLong(0)).toSeq
    assert(sorted === Seq(1L, 3L, 6L, 7L, 19L, 42L, 55L, 88L, 100L))
  }
}
