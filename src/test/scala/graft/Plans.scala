package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{DenseRank, Expression, Rank, RowNumber}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan,
  UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions.fail

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

  /** The rank (row_number, rank, dense_rank) windows of `p`. */
  def rankWindows(p: SparkPlan): Seq[WindowExec] = nodes(p).collect {
    case w: WindowExec if w.windowExpression.exists(_.exists {
      case _: RowNumber | _: Rank | _: DenseRank => true
      case _ => false
    }) => w
  }

  /** The per-group top-k skew bound: every exchange feeding a rank
    * window of `p` must read Catalyst's map-side `WindowGroupLimit …
    * Partial` on the window's own partition keys, so no group ships
    * more than (map tasks x limit) rows into its window.
    * InferWindowGroupLimit adds it only for a literal rank filter with
    * a limit <= spark.sql.optimizer.windowGroupLimitThreshold (1000); a
    * non-literal filter or a larger limit silently brings back the
    * unbounded window. Fails on the first window that breaks it; else
    * returns each checked exchange with the group limit it reads (a
    * window fed by no exchange is not checked). Walks planned and
    * executed adaptive plans alike. */
  def groupLimitedExchanges(p: SparkPlan): Seq[(ShuffleExchangeExec, WindowGroupLimitExec)] = {
    val windows = rankWindows(p)
    if (windows.isEmpty) fail("no rank window:\n" + p)
    def feed(q: SparkPlan): Option[ShuffleExchangeExec] = q match {
      case e: ShuffleExchangeExec => Some(e)
      case s: QueryStageExec => feed(s.plan)
      case r: ReusedExchangeExec => feed(r.child)
      case u: UnaryExecNode => feed(u.child)
      case _ => None
    }
    def sameKeys(a: Seq[Expression], b: Seq[Expression]) =
      a.size == b.size && a.zip(b).forall { case (x, y) => x.semanticEquals(y) }
    windows.flatMap(w => feed(w.child).map(w -> _)).map { case (w, e) =>
      e.child match {
        case g: WindowGroupLimitExec if g.mode == Partial && sameKeys(g.partitionSpec, w.partitionSpec) =>
          e -> g
        case other => fail(s"the exchange under the window on ${w.partitionSpec} reads " +
          s"${other.nodeName}, not a partial WindowGroupLimit on the same keys:\n" + p)
      }
    }
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
