package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.{SessionStateHelper, SQLConf}
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 decoupled `Column` from catalyst (`ColumnNode`); the
  * supported conversion (`classic.ExpressionUtils`) is package-private
  * to `org.apache.spark.sql`, so libraries adding custom catalyst
  * expressions expose it through a same-package object. JVM-public,
  * Scala `private[sql]` — this is the conventional extension shim.
  *
  * The same shim exposes what a driver-side parquet footer read needs
  * to behave exactly like Spark's own schema inference: the session's
  * SQL conf, its per-query Hadoop conf, and the file index's hidden-name
  * rule (see [[graft.sources.Tables.parquet]]).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def sqlConf(spark: SparkSession): SQLConf = SessionStateHelper.getSqlConf(spark)
  def hadoopConf(spark: SparkSession): Configuration = SessionStateHelper.getHadoopConf(spark)

  /** True for a name Spark's file index skips while listing: `_`/`.`
    * prefixes (but not `k=v` partition dirs, `_metadata` or
    * `_common_metadata`) and `._COPYING_` in-flight copies. */
  def isHiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
