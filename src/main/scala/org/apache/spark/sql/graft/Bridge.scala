package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, StructType}

/** Column ↔ Catalyst `Expression` / DataFrame ↔ `InternalRow` bridge.
  *
  * Spark 4 moved the public `Column` API to column nodes and made the
  * classic converters `private[sql]`; extension libraries that ship native
  * expressions host a one-line bridge inside the `org.apache.spark.sql`
  * namespace to reach them (the standard pattern across public Spark
  * connector/extension projects). Everything else in this library lives
  * under `graft.*`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a `Column` tree to a Catalyst `Expression` tree.
    * [[expression]] wraps the column NODE lazily — fine inside Dataset
    * analysis, but a `FunctionRegistry` builder must hand the analyzer a
    * real expression or the wrapper survives to codegen as Unevaluable.
    */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The frame's raw Tungsten rows. Lets per-partition kernels read
    * individual fixed-width fields lazily (`UnsafeRow` getters) without
    * paying the full row encoder — variable width columns (arrays, maps)
    * stay as undecoded bytes unless touched.
    *
    * Deferred: `queryExecution.toRdd` runs AQE's shuffle stages eagerly,
    * so it is only called once a job asks for the partitions (the
    * scheduler resolves an RDD's ancestry on the submitting thread).
    * Building a plan over these rows starts no Spark job.
    */
  def toInternalRows(df: DataFrame): RDD[InternalRow] = new DeferredRows(df)

  private final class DeferredRows(@transient df: DataFrame)
      extends RDD[InternalRow](df.sparkSession.sparkContext, Nil) {
    @transient private lazy val rows =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd
    override protected def getDependencies: Seq[Dependency[_]] = Seq(new OneToOneDependency(rows))
    override protected def getPartitions: Array[Partition] = rows.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }

  /** Driver-side converter from Catalyst values of `dt` to Scala values. */
  def toScala(dt: DataType): Any => Any = CatalystTypeConverters.createToScalaConverter(dt)

  /** Evaluate a constant column (a literal, possibly cast) on the driver. */
  def evalConstant(c: Column, dt: DataType): Any =
    CatalystTypeConverters.convertToScala(toCatalyst(c).eval(), dt)

  /** Rebuild a DataFrame from Tungsten rows produced by a kernel over
    * [[toInternalRows]] output. The rows must already match `schema`.
    */
  def fromInternalRows(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Register a SQL function builder on a LIVE session (the runtime twin
    * of `SparkSessionExtensions.injectFunction`, which only applies at
    * session build time). Same triple shape as injectFunction.
    */
  def registerFunction(spark: SparkSession,
      fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
           org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
           Seq[Expression] => Expression)): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(fn._1, fn._2, fn._3)
}
