package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The durability mode must be semantics-free: every iterative path
  * (BSP runner, Borůvka, SCC, Brandes) produces bit-identical results
  * whether state is truncated with localCheckpoint (default) or with
  * reliable `df.checkpoint()` against a checkpoint dir
  * ([[Materialize]], `spark.graft.checkpoint.reliable`). */
class ReliableCheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def withReliable[A](f: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Materialize.ReliableKey, "true")
    spark.conf.set(Materialize.DirKey, dir)
    try f
    finally {
      spark.conf.set(Materialize.ReliableKey, "false")
      // next reliable run may use a fresh dir; the SparkContext-level
      // checkpoint dir is sticky but harmless once the mode is off
    }
  }

  test("Materialize routes to reliable checkpoint files when enabled") {
    import spark.implicits._
    withReliable {
      val out = Materialize(Seq(1L, 2L, 3L).toDF("x"))
      assert(out.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable mode must set a checkpoint dir")
      assert(out.rdd.isCheckpointed || out.queryExecution.toString.nonEmpty)
    }
  }

  test("reliable rounds under one dir reuse one checkpoint subdir") {
    import spark.implicits._
    withReliable {
      val base = spark.conf.get(Materialize.DirKey)
      Materialize(Seq(1L).toDF("x"))
      val first = spark.sparkContext.getCheckpointDir
      Materialize(Seq(2L).toDF("x"))
      assert(spark.sparkContext.getCheckpointDir === first)
      assert(new java.io.File(base).list().toSeq.length === 1)
    }
  }

  test("g2 SSSP (BSP runner) and g7 MST under Reliable == Local") {
    val local2 = graft.SparkEntry.queries("g2_sssp")(spark, sf).collect().toSeq
    val local7 = graft.SparkEntry.queries("g7_mst")(spark, sf).collect().toSeq
    val (rel2, rel7) = withReliable {
      (graft.SparkEntry.queries("g2_sssp")(spark, sf).collect().toSeq,
        graft.SparkEntry.queries("g7_mst")(spark, sf).collect().toSeq)
    }
    assert(rel2 === local2)
    assert(rel7 === local7)
  }

  test("g9 SCC under Reliable == Local") {
    val local = graft.SparkEntry.queries("g9_scc")(spark, sf).collect().toSeq
    val rel = withReliable {
      graft.SparkEntry.queries("g9_scc")(spark, sf).collect().toSeq
    }
    assert(rel === local)
  }
}
