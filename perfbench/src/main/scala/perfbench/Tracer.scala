package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor totals of one job group (one request phase),
  * or of a whole request. */
final class GroupStats {
  var stages = 0L; var singleTaskStages = 0L
  var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L; var spillDisk = 0L

  def add(g: GroupStats): Unit = {
    stages += g.stages; singleTaskStages += g.singleTaskStages
    tasks += g.tasks; failedTasks += g.failedTasks
    cpuNs += g.cpuNs; runMs += g.runMs; gcMs += g.gcMs
    shuffleWrite += g.shuffleWrite; shuffleRead += g.shuffleRead
    fetchWaitMs += g.fetchWaitMs; spillDisk += g.spillDisk
  }
}

/** Catalyst-side facts of one request, from its executed queries. */
final class QueryStats {
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  /** file relations of the analysed plans, by identity: one per load */
  val relations: java.util.Set[HadoopFsRelation] =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[HadoopFsRelation, java.lang.Boolean])
  /** `filesSize` of each csv scan the executed plans ran */
  val csvScans: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]
}

final case class JobRecord(jobId: Int, group: String, start: Long, end: Long)

/** Measures a traced run from outside the engine: a `SparkListener` for
  * jobs, stages, tasks and stored blocks, and one `QueryExecutionListener`
  * per request session for the Catalyst phases and the scanned relations.
  * Requests are told apart by the job group the harness sets per request
  * phase (`<request>/<phase>`). While `enabled` is false every callback
  * returns at once, so untraced requests pay only the listener dispatch. */
final class Tracer extends SparkListener {
  @volatile var enabled = false
  /** the request whose blocks are being stored (one client thread) */
  @volatile var currentRequest: String = ""

  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  private val jobsDone = mutable.ArrayBuffer.empty[JobRecord]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]
  private val blockBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val queries = mutable.Map.empty[String, QueryStats]

  private def group(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobStarts(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, t0) => jobsDone += JobRecord(e.jobId, g, t0, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val s = group(g)
      s.stages += 1
      if (e.stageInfo.numTasks == 1) s.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = group(g)
      s.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillDisk += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) synchronized {
      blockBytes(currentRequest) += b.memSize + b.diskSize
    }
  }

  /** A listener for one request's session: Catalyst phase times from the
    * `QueryPlanningTracker`, the analysed plans' file relations, and the
    * bytes of csv files the executed plans scanned. */
  def queryListener(request: String): QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val rels = qe.analyzed.collect {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation]
      }
      val csvScans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }
      Tracer.this.synchronized {
        val q = queries.getOrElseUpdate(request, new QueryStats)
        q.analysisMs += ms("analysis"); q.optimizationMs += ms("optimization")
        q.planningMs += ms("planning")
        rels.foreach(q.relations.add)
        q.csvScans ++= csvScans
      }
    }
  }

  def jobs: Seq[JobRecord] = synchronized(jobsDone.toList)
  /** Totals over all job groups of one request. */
  def requestStats(request: String): GroupStats = synchronized {
    val total = new GroupStats
    groups.foreach { case (g, s) => if (g.startsWith(request + "/")) total.add(s) }
    total
  }
  def blocks(request: String): Long = synchronized(blockBytes(request))
  def queryStats(request: String): QueryStats =
    synchronized(queries.getOrElse(request, new QueryStats))
}
