package org.apache.spark.sql.perfbench

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.Origin
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Source files that built a finished SQL execution's query: the origins
  * the DataFrame API recorded on its plan nodes and expressions. Lives in
  * Spark's package because the event's query execution is package-private. */
object PlanFiles {

  def of(e: SparkListenerSQLExecutionEnd): Set[String] =
    Option(e.qe).map(qe => files(qe.analyzed)).getOrElse(Set.empty)

  def files(plan: LogicalPlan): Set[String] = {
    val out = Set.newBuilder[String]
    def add(o: Origin): Unit =
      o.stackTrace.foreach(_.foreach(f => Option(f.getFileName).foreach(out += _)))
    plan.foreach { node =>
      add(node.origin)
      node.expressions.foreach(_.foreach {
        case _: Attribute => ()
        case e => add(e.origin)
      })
    }
    out.result()
  }
}
