package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.graph.{ConnectedComponentsProgram, GmrRunner, GraphOps, PageRank,
  PropertyGraph, Sssp}
import graft.io.GraphLoaders

/** One repetition's results. `check` compares them with the plain
  * references and is called once per run, outside the timed region. */
trait Rep {
  /** Failure messages, one per call whose output is wrong. */
  def check(): Seq[String]
  def release(): Unit
  /** GmrRunner's own per-superstep seconds, all loops of the repetition. */
  def supersteps: Seq[Double] = Nil
  /** Directed edges × supersteps the repetition's loops processed. */
  def edgeSteps: Long = 0L
  /** Directed edges the repetition's loader produced. */
  def edgesLoaded: Long = 0L
}

trait Workload {
  /** Writes the inputs for `seed` into `dir`. Not part of any timing. */
  def prepare(seed: Long, dir: File): Unit
  /** One repetition: every call wrapped in a `layer.function` span. */
  def rep(spark: SparkSession, t: Tracer): Rep
  /** Run before each set-up: drops caches the program keeps across runs. */
  def resetCaches(): Unit = ()
}

object Workloads {
  def apply(name: String): Option[Workload] = name match {
    case "bsp-dense" => Some(new BspDense(BspDense.Scale, BspDense.EdgeFactor))
    case "bsp-frontier" => Some(new BspFrontier(BspFrontier.Side))
    case "query-mix" => Some(new QueryMix)
    case _ => None
  }

  /** Loads through the engine's loader and caches the edge frame, as a
    * caller of GmrRunner is told to; the count forces the parse. */
  def cached(g: PropertyGraph): (PropertyGraph, Long) = {
    val e = g.edges.persist(StorageLevel.MEMORY_AND_DISK)
    (PropertyGraph(g.vertices, e), e.count())
  }

  def collectValues(df: DataFrame): Map[Long, Option[Double]] =
    df.select("id", "value").collect().iterator
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
}

/** Data-heavy BSP: PageRank over every edge every superstep, then the
  * triangle kernel, on a skewed R-MAT graph. */
final class BspDense(scale: Int, edgeFactor: Int) extends Workload {
  private var path = ""
  private var ref: Csr = _

  def prepare(seed: Long, dir: File): Unit = {
    val pairs = Gen.rmat(scale, edgeFactor, seed)
    ref = Csr.fromPairs(Gen.maxId(pairs), pairs)
    path = new File(dir, "rmat.edges").getPath
    Gen.writeEdgeList(pairs, path)
  }

  def rep(spark: SparkSession, t: Tracer): Rep = {
    val (g, directed) = t.span("io.GraphLoaders.edgeList") {
      Workloads.cached(GraphLoaders.edgeList(spark, path))
    }
    val pr = t.span("graph.PageRank") {
      val run = PageRank.compat(g)
      GmrRunner.runTraced(run.graph, run.program, BspDense.Iterations)
    }
    val triangles = t.span("graph.GraphOps.triangleCountViaIntersect") {
      GraphOps.triangleCountViaIntersect(g.edges.where(col("src") < col("dst")))
        .first().getLong(0)
    }
    new Rep {
      def check(): Seq[String] = {
        val want = Reference.pageRank(ref, 0.5, BspDense.Iterations)
        val got = Workloads.collectValues(pr.vertices)
        val badRank = (1 to ref.n).count { v =>
          got.get(v.toLong).flatten.forall(x => math.abs(x - want(v - 1)) > 1e-9 * want(v - 1))
        }
        Seq(
          Option.when(directed != 2 * ref.edgeCount)(
            s"edgeList: $directed edges loaded, want ${2 * ref.edgeCount}"),
          Option.when(got.size != ref.n || badRank > 0)(
            s"PageRank: ${got.size} vertices, $badRank differ from the reference"),
          Option.when(pr.iterations != BspDense.Iterations)(
            s"PageRank: ${pr.iterations} supersteps, want ${BspDense.Iterations}"),
          Option.when(triangles != Reference.triangles(ref))(
            s"triangles: $triangles, want ${Reference.triangles(ref)}"),
        ).flatten
      }
      def release(): Unit = g.edges.unpersist()
      override def supersteps: Seq[Double] = pr.supersteps
      override def edgeSteps: Long = directed * pr.iterations
      override def edgesLoaded: Long = directed
    }
  }
}

object BspDense {
  val Scale = 11
  val EdgeFactor = 16
  val Iterations = 5
}

/** Latency-bound BSP: SSSP and connected components to convergence on a
  * mesh, where each superstep touches only a thin frontier, so per-superstep
  * fixed cost dominates. */
final class BspFrontier(side: Int) extends Workload {
  private var path = ""
  private var ref: Csr = _

  def prepare(seed: Long, dir: File): Unit = {
    ref = Csr.fromPairs(side * side, Gen.mesh(side, seed))
    path = new File(dir, "mesh.graph").getPath
    Gen.writeMetis(ref, path)
  }

  def rep(spark: SparkSession, t: Tracer): Rep = {
    val (g, directed) = t.span("io.GraphLoaders.metisAdjacency") {
      Workloads.cached(GraphLoaders.metisAdjacency(spark, path))
    }
    val sssp = t.span("graph.Sssp") { GmrRunner.run(g, new Sssp(1)) }
    val cc = t.span("graph.ConnectedComponents") { GmrRunner.run(g, ConnectedComponentsProgram) }
    new Rep {
      def check(): Seq[String] = {
        val dist = Reference.bfs(ref, 1)
        val label = Reference.components(ref)
        // id 1 holds the smallest label, so both loops stop one superstep
        // after the last vertex at its eccentricity changes
        val steps = dist.max + 1
        def mismatches(got: Map[Long, Option[Double]], want: Int => Option[Double]) =
          (1 to ref.n).count(v => got.get(v.toLong) != Some(want(v)))
        val badDist = mismatches(Workloads.collectValues(sssp.vertices),
          v => Option.when(dist(v - 1) >= 0)(dist(v - 1).toDouble))
        val badLabel = mismatches(Workloads.collectValues(cc.vertices),
          v => Some(label(v - 1).toDouble))
        Seq(
          Option.when(directed != 2 * ref.edgeCount)(
            s"metisAdjacency: $directed edges loaded, want ${2 * ref.edgeCount}"),
          Option.when(badDist > 0 || sssp.iterations != steps)(
            s"SSSP: $badDist distances differ, ${sssp.iterations} supersteps, want $steps"),
          Option.when(badLabel > 0 || cc.iterations != steps)(
            s"CC: $badLabel labels differ, ${cc.iterations} supersteps, want $steps"),
        ).flatten
      }
      def release(): Unit = g.edges.unpersist()
      override def supersteps: Seq[Double] = sssp.supersteps ++ cc.supersteps
      override def edgeSteps: Long = directed * (sssp.iterations + cc.iterations)
      override def edgesLoaded: Long = directed
    }
  }
}

object BspFrontier {
  val Side = 5
}
