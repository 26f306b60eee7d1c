package perfbench

import java.io.File

import graft.queries.Pipeline
import org.apache.spark.sql.SparkSession

/** The lake's DML, versioning and stream query definitions from the engine's
  * l-family, run unchanged on seeded `events`/`documents` tables. Each op
  * is `build` (the definition's function: fixture, eager DML, its `require`
  * gates) then `exec` (the final action, writing the result as parquet).
  * After the run every result is compared with the definition's DuckDB
  * oracle on the same parquet (see `perfbench/oracle.py`).
  *
  * The tables are small on purpose: this workload measures the per-statement
  * fixed cost (jobs, store RPCs, planning, triggers), not data volume. */
final class LakeDml(spark: SparkSession, seed: Long, dirs: Dirs) extends Workload {
  import LakeDml._

  private val tables = new File(dirs.data, "tables")
  private val results = new File(dirs.data, "results")
  private val written = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]

  override def setup(rep: Int): Unit = {
    Harness.deleteRecursively(tables)
    Gen.events(spark, seed, Events, Users).write.parquet(new File(tables, "events.parquet").getPath)
  }

  private var n = 0
  private def run(name: String): Boolean = {
    val q = Pipeline.defs(name)
    val df = Trace.call("queries", "build") {
      val t = System.nanoTime()
      try q.fn(spark, tables.getPath)
      finally Trace.add("queries.build_ms", (System.nanoTime() - t) / 1e6)
    }
    n += 1
    val out = new File(results, s"$name-$n").getPath
    Trace.call("queries", "exec") {
      val t = System.nanoTime()
      try df.write.parquet(out)
      finally Trace.add("queries.exec_ms", (System.nanoTime() - t) / 1e6)
    }
    written(name) = out :: written.getOrElse(name, Nil)
    true
  }

  override val ops: Seq[Op] = Queries.map(q => Op(q, () => run(q)))

  /** Hand every result to the oracle compare: the manifest names the
    * generated tables and, per query, its oracle SQL and result dirs. */
  override def verify(): Seq[String] = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
    } + "\""
    val qs = written.flatMap { case (name, outs) =>
      Pipeline.defs(name).oracle.map(oracle => s"${str(name)}:{${str("oracle")}:${str(oracle)},${str("results")}:[${outs.map(str).mkString(",")}]}")
    }
    val tbl = Seq("events").map(t =>
      s"${str(t)}:${str(new File(tables, s"$t.parquet").getPath)}")
    val w = new java.io.PrintWriter(new File(dirs.data, "oracle.json"), "UTF-8")
    try w.println(s"{${str("tables")}:{${tbl.mkString(",")}},${str("queries")}:{${qs.mkString(",")}}}")
    finally w.close()
    Nil
  }
}

object LakeDml {
  val Events = 5000
  val Users = 100
  /** One per DML/versioning/stream family, in the order a pass runs them. */
  val Queries: Seq[String] = Seq("l30_lake_sql_update", "l37_lake_mor_dml",
    "l39_lake_eq_delete")
}
