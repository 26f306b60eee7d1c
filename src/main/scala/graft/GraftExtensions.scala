package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.exprs

/** The engine's one session-extensions installer: the SQL functions and
  * the two advisory optimizer rules. [[Sessions.builder]] installs it
  * through `withExtensions`; a cluster deployment names it in
  * `spark.sql.extensions=graft.GraftExtensions`. Both reach the same
  * `SparkSessionExtensions`, so there is one registration path, and a
  * child session (`newSession()`) inherits it. The functions come from
  * the SAME registry ([[org.apache.spark.sql.graft.exprs.functionBuilders]])
  * as the imperative `exprs.register`, so the two surfaces cannot drift.
  *
  * The rules are [[org.apache.spark.sql.graft.StreamLakePrune]], which
  * carries a streaming query's `WHERE` to the lake micro-batch source for
  * object-level pruning (Spark's own pushdown rule never visits streaming
  * relations), and [[org.apache.spark.sql.graft.ZOrderWriteLayout]],
  * which lays out a `clusterBy zorder(a,b)` lake write. Neither changes
  * what a query returns; every other operator in this engine is either a
  * Spark built-in plan or a scalar expression (SURVEY.md §4.2).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    exprs.functionBuilders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(exprs.getClass.getName, null, name, usage, ""),
        builder))
    }
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.StreamLakePrune)
    // injected operator rules run BEFORE V2Writes builds AppendData.write,
    // so ZOrderWriteLayout reads the lake relation's raw write options
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.ZOrderWriteLayout)
  }
}
