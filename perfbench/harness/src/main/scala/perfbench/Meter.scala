package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one metered call. Byte counts are bytes, times
  * are seconds. `cpuByTable` is executor CPU keyed by the raw-layer table
  * a SQL execution writes (taken from its output path). */
final case class Counters(
    wallS: Double, jobs: Long, stages: Long, tasks: Long, execCpuS: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, gcS: Double, planS: Double,
    recordsWritten: Long, bytesWritten: Long, driverS: Double,
    cpuByTable: Map[String, Double])

/** Counts jobs, stages, tasks, executor CPU, shuffle, spill, GC, output
  * and planning time for one call at a time. Calls are sequential (one
  * client), so the listener bus is drained before and after each call and
  * everything seen in between belongs to it. */
final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val RawTable = "/raw/([a-z_]+)".r

  private var jobs, stages, tasks, shufR, shufW, spill, recW, bytesW = 0L
  private var cpuNs, gcMs, planMs = 0L
  private var intervals = Vector.empty[(Long, Long)]
  private var execTable = Map.empty[Long, String]
  private var stageTable = Map.empty[Int, String]
  private var cpuByTable = Map.empty[String, Long]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = BusDrain(spark.sparkContext)

  private def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shufR = 0; shufW = 0; spill = 0
    recW = 0; bytesW = 0; cpuNs = 0; gcMs = 0; planMs = 0
    intervals = Vector.empty; cpuByTable = Map.empty
  }

  /** Runs `body` and returns its counters; `driverS` is the call's wall
    * time not covered by any running stage. */
  def measure(body: => Unit): Counters = {
    drain()
    reset()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var wall = 0.0
    try body
    finally {
      wall = (System.nanoTime() - n0) / 1e9
      drain()
    }
    val t1 = t0 + (wall * 1000).round
    synchronized {
      val busy = Stats.unionLength(intervals, t0, t1) / 1e3
      Counters(wall, jobs, stages, tasks, cpuNs / 1e9, shufR, shufW, spill,
        gcMs / 1e3, planMs / 1e3, recW, bytesW, math.max(0.0, wall - busy),
        cpuByTable.map { case (k, v) => k -> v / 1e9 })
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      RawTable.findFirstMatchIn(e.physicalPlanDescription + " " + e.description)
        .foreach(m => synchronized { execTable += e.executionId -> m.group(1) })
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    exec.flatMap(id => execTable.get(id.toLong)).foreach { t =>
      j.stageIds.foreach(s => stageTable += s -> t)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val info = s.stageInfo
    stages += 1
    tasks += info.numTasks
    for (b <- info.submissionTime; e <- info.completionTime) intervals :+= (b -> e)
    val m = info.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shufR += m.shuffleReadMetrics.totalBytesRead
      shufW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recW += m.outputMetrics.recordsWritten
      bytesW += m.outputMetrics.bytesWritten
      stageTable.get(info.stageId).foreach { t =>
        cpuByTable += t -> (cpuByTable.getOrElse(t, 0L) + m.executorCpuTime)
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}
