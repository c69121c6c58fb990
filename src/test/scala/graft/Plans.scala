package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan capture and walks shared by the plan-shape specs. */
object Plans {
  /** Every node of a physical plan, through adaptive wrappers, query
    * stages, commands and cached relations (a cached relation's plan is
    * shared by every query reading it). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case i: InMemoryTableScanExec => nodes(i.relation.cachedPlan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case o => o.children.flatMap(nodes)
  })

  /** Whether `p` scans the lake table `table` (`<lakeRoot>/<table>/data`). */
  def scans(p: SparkPlan, table: String): Boolean = nodes(p).exists {
    case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getParent.getName == table)
    case _ => false
  }

  /** The queries that succeeded while `body` ran, every one delivered
    * (the listener bus is asynchronous). */
  def captured(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      GraftTestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    qes.asScala.toSeq
  }

  /** Runs `body` with SQL conf `key` set to `value`, then restores it. */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
