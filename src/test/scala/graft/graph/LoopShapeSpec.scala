package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Both join shapes of [[GraphOps.stateLoop]] — the broadcast shape the
  * default budget picks on small graphs and the shuffle shape a zero
  * budget forces — give the same results, the scope restores AQE, and
  * GmrRunner and the BFS queries release only what they cached. */
class LoopShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Two seeded random communities joined by a path, plus a separate
    * component; symmetric, integer weights 1..4. */
  private def symEdges: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (for { a <- 1L to 40L; b <- (a + 1) to 40L
                       if (a <= 20) == (b <= 20) && rnd.nextDouble() < 0.2 }
                 yield (a, b)) ++ Seq(20L -> 21L, 50L -> 51L, 51L -> 52L)
    val weighted = pairs.map { case (a, b) => (a, b, (1 + (a * 7 + b) % 4).toDouble) }
    PropertyGraph.symmetrize(weighted.toDF("src", "dst", "weight"))
  }

  private def withBudget[T](bytes: Option[Long])(f: => T): T = {
    bytes.foreach(b => spark.conf.set(GraphOps.BroadcastBytesKey, b.toString))
    try f finally spark.conf.unset(GraphOps.BroadcastBytesKey)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def nothingCached: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("broadcast and shuffle shapes give identical loop outputs") {
    def outputs(): Map[String, Seq[String]] = {
      val g = PropertyGraph.fromEdges(symEdges)
      val pr = PageRank(g)
      Map(
        "sssp" -> rows(GmrRunner.run(g, new Sssp(1L)).vertices),
        "cc" -> rows(GmrRunner.run(g, ConnectedComponentsProgram).vertices),
        // The shapes sum PageRank's doubles in different partition
        // orders, which moves the last bit: compare at 12 decimals.
        "pagerank" -> rows(GmrRunner.runFixed(pr.graph, pr.program, 5).vertices
          .select(col("id"), round(col("value"), 12))),
        "lpa" -> rows(GraphOps.labelPropagation(g, 5)),
        "kcore" -> rows(GraphOps.kCore(symEdges, k = 3, rounds = 4)))
    }
    val broadcastShape = withBudget(None) {
      assert(GraphOps.stateLoop(spark, 100)(_.broadcast))
      outputs()
    }
    val shuffleShape = withBudget(Some(0L)) {
      assert(!GraphOps.stateLoop(spark, 100)(_.broadcast))
      outputs()
    }
    for ((name, out) <- broadcastShape) {
      assert(out.nonEmpty, name)
      assert(out === shuffleShape(name), s"$name differs between the two shapes")
    }
  }

  test("a loop scope restores AQE after a normal return and after a throw") {
    val before = spark.conf.get(AqeKey)
    assert(before === "true")
    val inside = GraphOps.stateLoop(spark, 100) { shape =>
      assert(shape.broadcast)
      spark.conf.get(AqeKey)
    }
    assert(inside === "false")
    assert(spark.conf.get(AqeKey) === before)
    val ex = intercept[IllegalStateException] {
      GraphOps.stateLoop(spark, 100) { _ => throw new IllegalStateException("boom") }
    }
    assert(ex.getMessage === "boom")
    assert(spark.conf.get(AqeKey) === before)
    // The shuffle shape keeps AQE on inside the body.
    withBudget(Some(0L)) {
      assert(GraphOps.stateLoop(spark, 100)(_ => spark.conf.get(AqeKey)) === before)
    }
  }

  test("the strong-tie BFS queries release their persisted edge view") {
    val sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    for (q <- Seq("g14_betweenness", "g21_harmonic", "g23_eccentricity")) {
      val out = graft.SparkEntry.queries(q)(spark, sf)
      assert(nothingCached, s"$q left a frame cached")
      assert(out.collect().nonEmpty, q)
    }
  }

  test("GmrRunner keeps a caller's cache and releases only its own") {
    for (budget <- Seq(None, Some(0L))) withBudget(budget) {
      spark.catalog.clearCache()
      val cached = PropertyGraph.fromEdges(symEdges)
      cached.edges.persist(StorageLevel.MEMORY_AND_DISK)
      GmrRunner.run(cached, ConnectedComponentsProgram)
      assert(cached.edges.storageLevel === StorageLevel.MEMORY_AND_DISK,
        s"caller's cache dropped (budget $budget)")
      cached.edges.unpersist(blocking = true)

      assert(nothingCached)
      val uncached = PropertyGraph.fromEdges(symEdges)
      GmrRunner.run(uncached, ConnectedComponentsProgram)
      assert(uncached.edges.storageLevel === StorageLevel.NONE)
      assert(nothingCached, s"GmrRunner left a frame cached (budget $budget)")
    }
  }
}
