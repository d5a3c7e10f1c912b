package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One `SparkEntry` query: `short` is the key's prefix before the first
  * `_`, as in `graft.Bench`'s compact map. */
final case class Query(module: String, key: String) {
  def short: String = key.takeWhile(_ != '_')
  def span: String = s"operators.$module.$short"
}

/** The operator surface: SparkEntry queries over tables that `tables.py`
  * writes before the JVM starts, the same tables for every seed. Each query
  * is forced through a `noop` sink and the cache is cleared between queries,
  * as `graft.Bench` does. The seed shuffles the query order. Outputs
  * are checked against the DuckDB oracle by `run.py` after the JVM exits:
  * `check` writes each query's result and oracle SQL for that. */
final class QueryMix extends Workload {
  private var tables = ""
  private var out: File = _
  private var order: Seq[Query] = Nil

  def prepare(seed: Long, dir: File): Unit = {
    tables = new File(dir, "tables").getPath
    require(new File(tables, "lineitem.parquet").exists, s"no generated tables in $tables")
    out = new File(dir, "out")
    order = new scala.util.Random(seed).shuffle(QueryMix.Queries)
  }

  /** The derive-once caches key on the table directory; dropping them makes
    * every set-up pay their builds, as a fresh deployment does. */
  override def resetCaches(): Unit = graft.core.Derived.wipeFor(Seq(tables))

  def rep(spark: SparkSession, t: Tracer): Rep = {
    order.foreach { q =>
      t.span(q.span) {
        SparkEntry.queries(q.key)(spark, tables).write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
    }
    new Rep {
      def check(): Seq[String] = {
        out.mkdirs()
        val sql = order.map { q =>
          SparkEntry.queries(q.key)(spark, tables).write.mode("overwrite")
            .parquet(new File(out, q.key).getPath)
          spark.catalog.clearCache()
          s"${Json.str(q.key)}: ${Json.str(SparkEntry.oracleSql(q.key))}"
        }
        val w = new java.io.PrintWriter(new File(out, "oracle_sql.json"))
        try w.println(sql.mkString("{", ",\n", "}")) finally w.close()
        Nil
      }
      def release(): Unit = ()
    }
  }
}

object QueryMix {
  val Queries: Seq[Query] = Seq(
    Query("RelationalQueries", "q21_percentiles"),
    Query("StreamingQueries", "q17_sessions"),
    Query("GraphQueries", "g9_scc"),
  )
}
