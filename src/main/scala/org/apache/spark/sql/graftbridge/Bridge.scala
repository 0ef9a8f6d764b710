package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr: Expression)` constructor
  * (Column is now backed by ColumnNode for Connect parity). This bridge
  * lives under `org.apache.spark.sql` so it can reach the `private[sql]`
  * classic converter, giving graft's custom Catalyst expressions a typed
  * `Column` wrapper without reflection.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst function builder into a LIVE session's registry
    * (`sessionState` is private[sql]; the config-time path is
    * `spark.sql.extensions` = graft.functions.GraftExtensions).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}

/** Cache-manager reads for `graft.engine.Pin` (the lookups are
  * `private[sql]`): which cached entry backs a frame, and which cached
  * entries a frame's plan reads.
  */
object CacheBridge {
  import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder,
    InMemoryRelation}

  private def manager(df: org.apache.spark.sql.DataFrame) =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  /** The cache entry `df` itself is, if it was persisted. */
  def builderOf(df: org.apache.spark.sql.DataFrame): Option[AnyRef] =
    manager(df).lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** The cache entries the plan of `df` reads when it executes. */
  def buildersRead(df: org.apache.spark.sql.DataFrame): Set[AnyRef] = {
    val m = manager(df)
    if (m.isEmpty) Set.empty
    else m.useCachedData(df.queryExecution.analyzed)
      .collectWithSubqueries { case imr: InMemoryRelation => imr.cacheBuilder }
      .toSet
  }

  /** Whether every block of a cache entry is built. */
  def loaded(builder: AnyRef): Boolean =
    builder.asInstanceOf[CachedRDDBuilder].isCachedColumnBuffersLoaded

  /** The RDD id behind a cache entry, once its blocks are built. */
  def rddId(builder: AnyRef): Option[Int] =
    if (loaded(builder))
      Some(builder.asInstanceOf[CachedRDDBuilder].cachedColumnBuffers.id)
    else None
}
