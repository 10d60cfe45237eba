package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Task time of one stage; `name` lists the plan operators it ran, or is
  * Spark's call-site name for a stage outside any SQL operator. */
final case class StageTime(stage: Int, name: String, tasks: Int, taskSecs: Double)

/** Non-zero SQLMetrics of one executed physical operator. `action` is the
  * Dataset action whose plan the operator belongs to (`overwrite` for a
  * noop-sink write, `count`, `localCheckpoint`, ...); `desc` is its one-line
  * plan string without expression or plan ids, cut to 160 characters;
  * `rows` is its `numOutputRows`, when it has one. */
final case class OperatorMetrics(action: String, node: String, desc: String,
                                 rows: Option[Long], metrics: Map[String, Long])

/**
 * Where one measured window's time, rows and bytes went, layer by layer:
 * stage/job counters from a `SparkListener`, and per-operator SQLMetrics
 * from the executed plans of every Dataset action in the window.
 *
 * `busySecs` is the wall time covered by at least one running job (job
 * intervals merged, so concurrent jobs count once); `driverSerialSecs` is
 * the rest — planning, AQE re-optimization, job submission and driver-side
 * work between jobs, the share that adding executors does not shrink.
 * `parallelism` is Σtask seconds per busy second. `gcSecs`, shuffle and
 * spill are summed over task metrics, as perfbench's `spark.*` figures are.
 */
final case class QueryProfile(wallSecs: Double, jobs: Int, stages: Int,
                              taskSecs: Double, gcSecs: Double,
                              shuffleReadMb: Double, shuffleWriteMb: Double,
                              spillMb: Double, busySecs: Double,
                              driverSerialSecs: Double, parallelism: Double,
                              topStages: Seq[StageTime],
                              operators: Seq[OperatorMetrics])

object QueryProfile extends AdaptiveSparkPlanHelper {

  /** Stages kept in `topStages`, by task time. */
  private val TopStages = 5
  /** Length kept of an operator's plan string: its keys and functions. */
  private val DescChars = 160

  /** Profile of running `body`, which should block until its Spark work is
    * done (a write or a collect, not a lazy transformation). */
  def of(spark: SparkSession)(body: => Unit): QueryProfile = {
    val sc = spark.sparkContext
    // events of earlier work must not reach this window's listener
    Bridge.waitListenerBusEmpty(sc)
    val l = new Recorder
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    def detach(): Unit = {
      // listener events are async; let the bus drain before reading
      Bridge.waitListenerBusEmpty(sc)
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body catch { case e: Throwable => detach(); throw e }
    val wallSecs = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    detach()
    l.result(wallSecs, w0, w1)
  }

  private final class Recorder extends SparkListener with QueryExecutionListener {
    private val openJobs = mutable.Map[Int, Long]()
    private val jobIntervals = mutable.Buffer[(Long, Long)]()
    private val stageNames = mutable.Map[Int, String]()
    private val stageTasks = mutable.Map[Int, (Int, Long)]() // (tasks, Σms)
    private val plans = mutable.Buffer[(String, QueryExecution)]()
    private var jobs = 0
    private var gcMs, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

    override def onJobStart(js: SparkListenerJobStart): Unit =
      synchronized { openJobs(js.jobId) = js.time; jobs += 1 }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      synchronized { openJobs.remove(je.jobId).foreach(s => jobIntervals += ((s, je.time))) }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val scopes = Bridge.stageScopes(sc.stageInfo)
        stageNames(sc.stageInfo.stageId) =
          if (scopes.isEmpty) sc.stageInfo.name else scopes.mkString(" > ")
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      if (te.taskInfo != null) {
        val (n, ms) = stageTasks.getOrElse(te.stageId, (0, 0L))
        stageTasks(te.stageId) = (n + 1, ms + te.taskInfo.duration)
      }
      val m = te.taskMetrics
      if (m != null) {
        gcMs += m.jvmGCTime
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { plans += ((funcName, qe)) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Seconds of [w0, w1] (epoch ms) covered by at least one job. */
    private def busySecs(w0: Long, w1: Long): Double = {
      val clipped = jobIntervals.map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
        .filter(t => t._2 > t._1).sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) busy += curE - curS
      busy / 1e3
    }

    def result(wallSecs: Double, w0: Long, w1: Long): QueryProfile = synchronized {
      // the job clock has millisecond grain; the wall clock does not
      val busy = math.min(busySecs(w0, w1), wallSecs)
      val taskSecs = stageTasks.values.map(_._2).sum / 1e3
      val top = stageTasks.toSeq.sortBy(-_._2._2).take(TopStages).map { case (id, (n, ms)) =>
        StageTime(id, stageNames.getOrElse(id, ""), n, ms / 1e3)
      }
      // metrics are read now, not at onSuccess: a lazy checkpoint's plan
      // runs after its action returns, inside a later job of the window
      val ops = plans.toSeq.flatMap { case (action, qe) =>
        collectWithSubqueries(qe.executedPlan) {
          case p if p.metrics.values.exists(_.value > 0) =>
            OperatorMetrics(action, p.nodeName,
              p.simpleString(8).replaceAll("#\\d+L?|, \\[plan_id=\\d+\\]", "").take(DescChars),
              p.metrics.get("numOutputRows").map(_.value),
              p.metrics.collect { case (k, m) if m.value > 0 => k -> m.value })
        }
      }
      QueryProfile(wallSecs, jobs, stageNames.size, taskSecs, gcMs / 1e3,
        shuffleReadBytes / 1e6, shuffleWriteBytes / 1e6, spillBytes / 1e6,
        busy, wallSecs - busy, if (busy > 0) taskSecs / busy else 0.0, top, ops)
    }
  }
}
