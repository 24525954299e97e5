package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Accessibility bridge: the only file living under the Spark namespace.
  *
  * `AbstractDataType` (needed to implement `ExpectsInputTypes`) and the
  * Column↔Expression converters are `private[sql]`; re-exporting them from
  * inside the package is the established pattern for out-of-tree Catalyst
  * expression libraries. Nothing else of Spark's internals is touched.
  */
object Bridge {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `TypeCollection` (accept-any-of input type) is `private[sql]` like
    * `AbstractDataType` itself — re-exported for expressions that take
    * e.g. array<float> OR array<double> without forcing a cast.
    */
  def typeCollection(ts: AbstractType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)

  /** The session's stable UUID (`private[sql]` on the classic session) —
    * a string identity for memo maps that must not strongly hold the
    * session object itself.
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** A copy of a session over the same SparkContext and cache, with its
    * conf, functions and strategies (`newSession()` drops the runtime
    * conf); later changes on one side miss the other (`private[sql]`).
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The analyzed logical plan of a DataFrame — input for building custom
    * logical nodes out of already-resolved children.
    */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Wrap a (resolved) logical plan back into a DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's rows as JSON object strings, written from Spark's
    * internal rows by the generator and options `Dataset.toJSON` uses, so
    * the text is the same. `toJSON` converts each row to an external
    * `Row` and back, which generates and compiles two classes per schema;
    * this path generates none.
    */
  def jsonRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[String] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val schema = ds.schema
    val tz = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    ds.queryExecution.toRdd.mapPartitions { rows =>
      val writer = new java.io.CharArrayWriter()
      val gen = new org.apache.spark.sql.catalyst.json.JacksonGenerator(schema, writer,
        new org.apache.spark.sql.catalyst.json.JSONOptions(Map.empty[String, String], tz))
      rows.map { row =>
        gen.write(row)
        gen.flush()
        val json = writer.toString
        writer.reset()
        json
      }
    }
  }

  /** Register a function builder on a LIVE session (extensions only apply
    * at session build time; `withExtensions` is silently ignored by
    * `getOrCreate` when a session already exists).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A finished SQL execution's planning and total time in seconds, from
    * its end event. Planning is every phase the execution's own
    * `QueryExecution` tracker measured (analysis, optimization, physical
    * planning); the total is the execution's whole span. Both the
    * `QueryExecution` and the span are `private[sql]` on the event. None
    * when the event carries no `QueryExecution`.
    */
  def planAndTotalSeconds(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[(Double, Double)] =
    Option(e.qe).map { qe =>
      (qe.tracker.phases.valuesIterator.map(_.durationMs).sum / 1e3,
        e.duration / 1e9)
    }
}
