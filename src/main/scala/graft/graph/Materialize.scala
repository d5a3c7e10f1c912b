package graft.graph

import org.apache.spark.sql.DataFrame

/** Superstep/state materialization with a pluggable durability mode.
  *
  * Every iterative path in the engine (BSP loops, Borůvka contraction,
  * SCC rounds, k-core peeling, Brandes levels, Lloyd's iterations) must
  * truncate lineage each round — a lazy k-step plan that references the
  * previous state twice is a ~2^k recompute tree (measured 239 s →
  * seconds, SURVEY §6). HOW the truncation is made durable is a
  * deployment decision:
  *
  *  - '''Local''' (default): `localCheckpoint(eager)` — blocks live in
  *    executor storage. Fastest, and exactly right for `local[*]` where
  *    executor == driver. On a real cluster a lost executor loses its
  *    blocks AND the lineage that could recompute them: a 40-round SCC
  *    job dies with no recovery path.
  *  - '''Reliable''': `df.checkpoint(eager)` against the Spark
  *    checkpoint dir — state survives executor loss, the standard
  *    durability mode for long iterative jobs at cluster scale (the
  *    reference's equivalent "durability" is rerunning the MPI binary,
  *    `/root/reference/gmr.cpp:202-317` assumes restartability).
  *
  * Mode is per-session Spark conf (runtime-settable, no code change):
  * {{{
  * spark.conf.set("spark.graft.checkpoint.reliable", "true")
  * spark.conf.set("spark.graft.checkpoint.dir", "hdfs://.../ckpt")
  * }}}
  * Both modes are eager and semantically identical — ReliableCheckpointSpec
  * runs the same queries under both and asserts equal results.
  */
object Materialize {

  val ReliableKey = "spark.graft.checkpoint.reliable"
  val DirKey = "spark.graft.checkpoint.dir"

  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ReliableKey).contains("true")

  /** Eagerly materialize `df` and truncate its lineage, honoring the
    * session's durability mode. */
  def apply(df: DataFrame): DataFrame = {
    if (reliable(df)) {
      val sc = df.sparkSession.sparkContext
      val want = df.sparkSession.conf.getOption(DirKey).getOrElse(
        sys.props("java.io.tmpdir") + "/graft-checkpoints")
      // setCheckpointDir creates a fresh `<base>/<uuid>` subdir and
      // reports it fully qualified (`file:/…`, `hdfs://…`), so compare
      // its parent against the qualified base: re-set only when the
      // configured dir changes mid-session, not on every round.
      // Checkpoint FILES are only reclaimed when
      // spark.cleaner.referenceTracking.cleanCheckpoints=true (a
      // startup-time conf — GraftSession sets it); long iterative jobs
      // otherwise accumulate unbounded checkpoint data.
      val base = new org.apache.hadoop.fs.Path(want)
      val qualified = base.getFileSystem(sc.hadoopConfiguration).makeQualified(base)
      if (!sc.getCheckpointDir.exists(d => new org.apache.hadoop.fs.Path(d).getParent == qualified))
        sc.setCheckpointDir(want)
      df.checkpoint() // eager, written to the checkpoint dir
    } else df.localCheckpoint(true)
  }

  /** `df.materialize()` — chainable form of [[Materialize.apply]]. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialize(): DataFrame = Materialize(df)
  }
}
