package graftbench

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval on the benchmark's `System.nanoTime` clock. */
final case class Span(id: Int, name: String, layer: String, start: Long, end: Long, parent: Int)

/** Spans the benchmark records around its own calls into each layer.
  * Kept in memory and written out once, when the run ends. The
  * benchmark drives every layer from one thread, so a stack gives the
  * enclosing span. */
final class Tracer(val on: Boolean) {
  private final class Open(val id: Int, val name: String, val layer: String,
                           val start: Long, val parent: Int)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Open] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val o = new Open(nextId, name, layer, System.nanoTime(), stack.headOption.fold(-1)(_.id))
      nextId += 1
      stack = o :: stack
      try body
      finally {
        stack = stack.tail
        done += Span(o.id, o.name, o.layer, o.start, System.nanoTime(), o.parent)
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Spark counters taken from outside the program: a SparkListener for
  * jobs, stages and task metrics, and a QueryExecutionListener for the
  * exchanges left in each final adaptive plan. Jobs are attributed to a
  * layer by the source file of their call site (never the line), so the
  * names survive edits to the program. */
final class SparkObs(spark: SparkSession) extends SparkListener {
  import SparkObs._

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Listener times are epoch milliseconds; spans use nanoTime. */
  def toNano(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  final class JobRec(val id: Int, val site: String, val siteLayer: String, val exec: String,
                     val start: Long, val stageIds: Seq[Int]) { @volatile var end: Long = -1L }
  final class StageRec(val id: Int, val name: String) {
    var submitted = -1L; var firstLaunch = -1L; var completed = -1L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private var tasks = 0L
  private var cpuNs, runMs, gcMs = 0L
  private var shWrite, shRead, shRecords, spill, output = 0L
  private var exchanges, reused = 0L

  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val ex = collectWithSubqueries(plan) { case e: Exchange => e }.size
      val re = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size
      SparkObs.this.synchronized { exchanges += ex; reused += re }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  def drain(): Unit = GraftBenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created last, so it carries the highest id
    // and the action's call site as its name
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val file = siteFile(site)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, file, layerOf(file), exec, toNano(e.time), e.stageIds)
  }

  /** The call site of the action that started each SQL execution. */
  private val execLayer = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execLayer(x.executionId.toString) = layerOf(siteFile(x.description))
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = toNano(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId, e.stageInfo.name))
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      if (s.firstLaunch < 0 || e.taskInfo.launchTime < s.firstLaunch) s.firstLaunch = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRecords += m.shuffleWriteMetrics.recordsWritten
      shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
    stages.get(e.stageId).foreach(_.taskMs += e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.completed = e.stageInfo.completionTime.getOrElse(-1L))
  }

  /** Adaptive execution submits stages from its own threads, whose
    * call sites name no program file; such a job takes the layer of the
    * action that started its SQL execution. */
  private def layers: Map[Int, String] =
    jobs.values.map { j =>
      j.id -> (if (j.siteLayer != "other") j.siteLayer else execLayer.getOrElse(j.exec, "other"))
    }.toMap

  /** Counter values for everything seen since registration. `wallS` is
    * the measured phase's wall time, `cores` the task slots. */
  def counters(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val sts = stages.values.toSeq
    val waits = sts.filter(s => s.submitted > 0 && s.firstLaunch > 0)
      .map(s => math.max(0L, s.firstLaunch - s.submitted))
    val skews = sts.filter(_.taskMs.size >= 4).map { s =>
      val t = s.taskMs.sorted
      val med = math.max(1L, t(t.size / 2))
      t.last.toDouble / med
    }
    val layer = layers
    def layerJobs(l: String) = jobs.values.filter(j => layer(j.id) == l)
    def jobS(l: String) = layerJobs(l).filter(_.end > 0).map(j => (j.end - j.start) / 1e9).sum
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> sts.size.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.task_run_s" -> runMs / 1e3,
      "spark.shuffle_write_bytes" -> shWrite.toDouble,
      "spark.shuffle_read_bytes" -> shRead.toDouble,
      "spark.shuffle_records" -> shRecords.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.output_bytes" -> output.toDouble,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else median(skews)),
      "spark.exchanges" -> exchanges.toDouble,
      "spark.reused_exchanges" -> reused.toDouble,
      "spark.busy_frac" -> (if (wallS <= 0) 0.0 else runMs / 1e3 / (wallS * cores)),
      "spark.sched_wait_s" -> waits.sum / 1e3,
      "crawl.jobs" -> layerJobs("crawl").size.toDouble,
      "crawl.job_s" -> jobS("crawl"),
      "lake.jobs" -> layerJobs("lake").size.toDouble,
      "lake.job_s" -> jobS("lake"),
      "bloom.jobs" -> layerJobs("bloom").size.toDouble,
      "bloom.job_s" -> jobS("bloom")
    )
  }

  /** Jobs and stages as spans: a job's parent is the innermost
    * benchmark span open when it started, a stage's parent is its job. */
  def sparkSpans(bench: Seq[Span], firstId: Int): Seq[Span] = synchronized {
    var id = firstId
    val out = mutable.ArrayBuffer.empty[Span]
    val stageJob = mutable.HashMap.empty[Int, Int]
    val layer = layers
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      val end = if (j.end > 0) j.end else j.start
      val parent = bench.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.fold(-1)(_.id)
      val jid = id; id += 1
      out += Span(jid, s"job ${j.id} ${j.site}", s"spark.${layer(j.id)}", j.start, end, parent)
      j.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, jid))
    }
    stages.values.toSeq.sortBy(_.id).foreach { s =>
      if (s.submitted > 0 && s.completed > 0) {
        out += Span(id, s"stage ${s.id} ${s.name}", "spark.stage",
          toNano(s.submitted), toNano(s.completed), stageJob.getOrElse(s.id, -1))
        id += 1
      }
    }
    out.toSeq
  }
}

object SparkObs {
  private val SiteFile = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r.unanchored

  /** Source file of a call site like `count at Crawler.scala:227`. */
  def siteFile(site: String): String = site match {
    case SiteFile(f) => f
    case _           => ""
  }

  /** Layer of a job by the program file that submitted it. */
  def layerOf(file: String): String = file match {
    case "Crawler.scala"          => "crawl"
    case "Lake.scala"             => "lake"
    case "PartitionedBloom.scala" => "bloom"
    case f if BenchFiles(f)       => "bench"
    case f if f.endsWith(".scala") => "ops"
    case _                        => "other"
  }

  private val BenchFiles = Set("Main.scala", "Obs.scala", "Checks.scala")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Self time per layer: a span's duration minus the part of it its
    * children cover (children may overlap; their union is taken). */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        covered += math.max(0L, curE - curS)
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}
