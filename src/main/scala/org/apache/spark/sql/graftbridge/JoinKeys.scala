package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, In, IsNotNull, Literal}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils

/** The keys a join's source side can match, as filters on its target
  * side. Reads the analyzed join (`Dataset.ofRows` and the analyzed plan
  * are `private[sql]`), so it lives under the `org.apache.spark.sql`
  * package tree like [[ColumnBridge]]. */
object JoinKeys {

  /** For `joined`, an analyzed inner join of `target` (left) with a
    * source (right): one `c IN (…)` filter over `target` per equi-join
    * pair whose target side is a column `c` of `target`, holding the
    * source side's distinct non-null values. Exact: a target row outside
    * the values cannot match any source row. A pair adds no filter when
    * its target side is an expression (a null-safe `<=>` pair's keys are
    * `coalesce`/`isnull` expressions), or when the source holds more than
    * `bound` distinct values; a non-deterministic or streaming source
    * adds none. A source whose optimized key plan is a local relation is
    * read from its rows on the driver with no Spark job; any other runs
    * one collect of at most `bound + 1` values. */
  def restrictions(joined: DataFrame, target: DataFrame, bound: Int): Seq[Column] = {
    val ds = joined.asInstanceOf[classic.Dataset[_]]
    val targetOut = target.asInstanceOf[classic.Dataset[_]]
      .queryExecution.analyzed.outputSet
    ds.queryExecution.analyzed match {
      case ExtractEquiJoinKeys(_, targetKeys, sourceKeys, _, _, _, source, _)
          if !joined.isStreaming && source.deterministic =>
        targetKeys.zip(sourceKeys).flatMap {
          case (a: Attribute, s) if targetOut.contains(a) && s.dataType == a.dataType =>
            values(ds.sparkSession, source, s, bound).map(vs =>
              ExpressionUtils.column(In(a, vs.map(Literal(_, a.dataType)))))
          case _ => None
        }
      case _ => Nil
    }
  }

  /** The distinct non-null values of `key` over `source` as Catalyst
    * values, or None when there are more than `bound`. */
  private def values(spark: classic.SparkSession, source: LogicalPlan,
      key: Expression, bound: Int): Option[Seq[Any]] = {
    val keys = Project(Seq(Alias(key, "k")()), source)
    val found = classic.Dataset.ofRows(spark, keys).queryExecution.optimizedPlan match {
      case LocalRelation(_, rows, _, _) =>
        rows.iterator.filterNot(_.isNullAt(0))
          .map(r => InternalRow.copyValue(r.get(0, key.dataType)))
          .distinct.take(bound + 1).toSeq
      case _ =>
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(key.dataType)
        classic.Dataset.ofRows(spark, Filter(IsNotNull(keys.output.head), keys))
          .distinct().limit(bound + 1).collect().toSeq.map(r => toCatalyst(r.get(0)))
    }
    if (found.size > bound) None else Some(found)
  }
}
