package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Library-side accessor for `Dataset.ofRows`, which is `private[sql]` —
  * the standard way for an extension library to materialize a DataFrame
  * from a hand-built `LogicalPlan` (every Spark-native library that ships
  * custom plan nodes carries an equivalent one-liner). No Spark internals
  * are modified; this only re-exports an existing constructor.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The task's current input file for `input_file_name()` and
    * `input_file_block_start/length()` (Spark's `InputFileBlockHolder`,
    * `private[spark]`). A reader sets it when it opens a file and unsets
    * it when it closes, as Spark's own file readers do; `length` -1 means
    * the whole file. */
  def setInputFile(path: String, start: Long, length: Long): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.set(path, start, length)
  def unsetInputFile(): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.unset()

  /** `dt` with every nested field, element and map value nullable
    * (Catalyst's `private[spark]` `asNullable`). */
  def asNullable(dt: types.DataType): types.DataType = dt.asNullable

  /** `c`, declared non-nullable: Catalyst's own `AssertNotNull`, for a
    * value the caller knows is never null but whose expression (a map
    * lookup, say) Catalyst types as nullable. Fails the task if a null
    * does arrive. */
  def assertNotNull(c: Column): Column = classic.ExpressionUtils.column(
    catalyst.expressions.objects.AssertNotNull(
      classic.ExpressionUtils.expression(c)))

  /** Re-wrap a computed batch DataFrame as a STREAMING frame for a legacy
    * `Source.getBatch` return: MicroBatchExecution asserts
    * `isStreaming=true` on the returned plan, and a multi-stage computed
    * plan (e.g. a CDC diff) can only carry that flag through a
    * `LogicalRDD` leaf over its own lazily-materialized row RDD — the
    * exact wrap Spark's built-in v1 sources use
    * (`internalCreateDataFrame(rdd, schema, isStreaming = true)`). */
  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    ofRows(spark, execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = true)(cs))
  }
}
