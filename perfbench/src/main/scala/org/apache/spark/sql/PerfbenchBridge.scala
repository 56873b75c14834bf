package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}

/** The Spark-internal calls the benchmark's tracer needs. */
object PerfbenchBridge {

  /** Wait until the listener bus delivered every posted event, so
    * per-span task metrics are complete before they are read.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  private def ofRows(df: DataFrame, p: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], p)

  private def union(df: DataFrame): Union =
    analyzed(df).collectFirst { case u: Union => u }.getOrElse(
      throw new IllegalStateException("the plan has no union"))

  /** The inputs of the first union in `df`'s analyzed plan, in order. */
  def unionInputs(df: DataFrame): Seq[DataFrame] =
    union(df).children.map(ofRows(df, _))

  /** `df` with the inputs of that union replaced by `inputs` (same
    * columns in the same order), keeping every operator above it.
    */
  def withUnionInputs(df: DataFrame, inputs: Seq[DataFrame]): DataFrame = {
    val u = union(df)
    require(inputs.size == u.children.size, "one replacement per union input")
    // the operators above refer to the old inputs' attribute ids
    val kids = u.children.zip(inputs.map(analyzed)).map { case (old, p) =>
      Project(old.output.zip(p.output).map { case (a, b) =>
        Alias(b, a.name)(exprId = a.exprId) }, p)
    }
    ofRows(df, analyzed(df).transformDown {
      case x if x eq u => u.withNewChildren(kids)
    })
  }
}
