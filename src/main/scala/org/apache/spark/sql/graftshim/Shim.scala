package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Spark internals (the standard pattern for
  * Spark extension libraries: a shim object living under
  * `org.apache.spark.sql` to satisfy the package-private access).
  *
  * Kept to the minimum surface: Column↔Expression conversion and catalyst
  * function registration, needed so graft's custom codegen'd Expressions
  * (e.g. `normalize_word`) can be used as ordinary `Column`s without the
  * boxing cost of a Scala UDF; and the session's Hadoop configuration,
  * for a reader that opens files itself.
  */
object Shim {
  /** Wrap a catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the analyzed catalyst Expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a one-row one-column DataFrame as a scalar subquery expression —
    * the form Spark's own runtime-filter injection uses to ship a
    * driver-computed value (e.g. a Bloom filter) into a filter predicate
    * without a user-visible join. The plan executes once per query
    * (ReuseSubquery dedups repeated references). */
  def scalarSubquery(df: DataFrame): Column =
    ExpressionUtils.column(ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed))

  /** `bloom_filter_agg` over a LONG column (pre-hash with xxhash64, the
    * same contract as Spark's InjectRuntimeFilter). Returns the one-row
    * binary sketch; sized for `numItems` expected insertions over
    * `numBits` bits. */
  def bloomFilterAgg(child: Column, numItems: Long, numBits: Long): Column =
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(child),
      Literal(numItems), Literal(numBits)).toAggregateExpression())

  /** `might_contain(bloom, xxhash64-value)` — bloom must be a constant or
    * scalar-subquery column (see [[scalarSubquery]]); value must be LONG. */
  def bloomMightContain(bloom: Column, value: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(value)))

  /** The Hadoop configuration this session's file sources read with
    * (the SparkContext's, plus the session's SQL-level overrides). */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Register a catalyst expression builder as a SQL temp function on this
    * session (so `spark.sql("... normalize_word(x) ...")` also works). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
