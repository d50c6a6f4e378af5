package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` helpers the engine needs: lift a
  * custom Catalyst `Expression` into a Column (and back), name the
  * `AbstractDataType` type `ExpectsInputTypes` implementations must
  * mention, and bind a plan analyzed once to each use's inputs. Lives in
  * the spark.sql package solely to satisfy the scoping; nothing internal
  * is modified. */
object GraftSqlShim {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** An empty leaf with `schema`'s columns on `spark`: a stand-in input of
    * a plan that is analyzed once and bound to real inputs per use
    * ([[bind]]). */
  def placeholder(spark: SparkSession, schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema)))

  /** `template`'s analyzed plan with each [[placeholder]] of `inputs`
    * replaced by its frame's analyzed plan under a Project that aliases
    * the frame's columns, by position, to the placeholder's attribute ids
    * (the substitution Structured Streaming's `MicroBatchExecution`
    * applies to each trigger's sources), as a DataFrame of `template`'s
    * session. A frame must carry its placeholder's column names and
    * types. */
  def bind(template: DataFrame, inputs: Seq[(DataFrame, DataFrame)]): DataFrame = {
    val byLeaf = inputs.map { case (ph, frame) =>
      val leaf = ph.queryExecution.analyzed.output
      val real = frame.queryExecution.analyzed
      require(leaf.map(a => a.name -> a.dataType) == real.output.map(a => a.name -> a.dataType),
        s"bound input ${real.schema.simpleString} does not match its placeholder " +
          DataTypeUtils.fromAttributes(leaf).simpleString)
      leaf.map(_.exprId) -> Project(leaf.zip(real.output).map { case (p, r) =>
        Alias(r, p.name)(exprId = p.exprId) }, real)
    }.toMap
    val plan = template.queryExecution.analyzed.transform {
      case l: LocalRelation if byLeaf.contains(l.output.map(_.exprId)) =>
        byLeaf(l.output.map(_.exprId))
    }
    classic.Dataset.ofRows(template.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }

  /** The Observation that the next run of a plan bound from `template`
    * ([[bind]]) completes for `template`'s one CollectMetrics node: the
    * one its session already holds for that node (name, dataframe id),
    * else a new one. The session keeps one Observation per node, so a
    * second one registered for it would never complete. */
  def observation(template: DataFrame): Observation = {
    val node = template.queryExecution.analyzed.collectFirst { case c: CollectMetrics => c }
      .getOrElse(throw new IllegalArgumentException("template observes nothing"))
    template.sparkSession.asInstanceOf[classic.SparkSession].observationManager
      .getOrNewObservation(node.name, node.dataframeId)
  }
}
