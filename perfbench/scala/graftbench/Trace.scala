package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Listener counters are attributed to the
  * span that was open on the driver thread when the job was submitted. */
final class Span(val id: Int, val parent: Int, val name: String, val runId: String,
                 val startNs: Long) {
  var endNs: Long = -1L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  def durS: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder plus the SparkListener that counts Spark work.
 *
 * The benchmark drives Spark from one thread, so "the open span" is well
 * defined: opening a span stores its id as a SparkContext local property,
 * Spark copies local properties into every job it submits, and the listener
 * reads the id back from the job-start event. Spans are written out only
 * when the run ends ([[toJson]]).
 */
final class Tracer(sc: SparkContext, val runId: String) {
  private val Prop = "graftbench.span"
  private val lock = new Object
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** (root span id, name) -> value. */
  private val counters = mutable.LinkedHashMap[(Int, String), Double]()

  private val byId = mutable.Map[Int, Span]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val jobStartMs = mutable.Map[Int, Long]()
  /** (span id, start ms, end ms) of every finished job. */
  private val jobIntervals = mutable.ArrayBuffer[(Int, Long, Long)]()
  /** stage id -> task durations (ms), for the skew ratio. */
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageOwner = mutable.Map[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
      val sid = Option(js.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobSpan(js.jobId) = sid
      jobStartMs(js.jobId) = js.time
      js.stageIds.foreach(s => stageSpan(s) = sid)
      byId.get(sid).foreach(_.jobs += 1)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
      val sid = jobSpan.getOrElse(je.jobId, -1)
      jobStartMs.remove(je.jobId).foreach(s => jobIntervals += ((sid, s, je.time)))
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      val sid = stageSpan.getOrElse(sc.stageInfo.stageId, -1)
      byId.get(sid).foreach(_.stages += 1)
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = lock.synchronized {
      val sid = stageSpan.getOrElse(te.stageId, -1)
      byId.get(sid).foreach { s =>
        s.tasks += 1
        if (te.taskInfo != null) {
          s.taskMs += te.taskInfo.duration
          stageTaskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer[Long]()) += te.taskInfo.duration
          stageOwner(te.stageId) = sid
        }
        val m = te.taskMetrics
        if (m != null) {
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = lock.synchronized {
      val s = new Span(spans.size, parent, name, runId, System.nanoTime())
      spans += s; byId(s.id) = s; s
    }
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def rootKey(name: String) = (stack.lastOption.map(_.id).getOrElse(-1), name)

  /** Add `v` to the named counter of the open root span. */
  def count(name: String, v: Double): Unit = {
    val k = rootKey(name); counters(k) = counters.getOrElse(k, 0.0) + v
  }
  /** Set the named value of the open root span (last write wins). */
  def set(name: String, v: Double): Unit = counters(rootKey(name)) = v
  /** The named counter summed over all root spans. */
  def counter(name: String): Double = counters.collect { case ((_, n), v) if n == name => v }.sum
  /** The named counter of one root span. */
  def counter(name: String, root: Span): Double = counters.getOrElse((root.id, name), 0.0)

  /** Wait for the listener bus, then stop listening. */
  def close(): Unit = {
    org.apache.spark.graftbench.SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Σ duration (s) of every span with this name. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.durS).sum
  /** Σ duration (s) of the spans with this name under `root`. */
  def total(name: String, root: Span): Double =
    spans.filter(s => s.name == name && isUnder(s, root.id)).map(_.durS).sum

  /** Duration minus the union of its children's intervals. */
  def selfS(s: Span): Double = s.durS - unionS(children(s.id).map(c => (c.startNs, c.endNs)))

  private def unionS(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e9
  }

  /** Ids of `root`'s subtree, leaving out subtrees whose name starts with
    * one of `exclude` (side passes that are not part of the composition). */
  def subtree(root: Span, exclude: Seq[String]): Seq[Span] = {
    if (exclude.exists(root.name.startsWith)) Seq.empty
    else root +: children(root.id).flatMap(subtree(_, exclude))
  }

  /** The `spark.*` layer figures for `root` without the excluded side
    * passes: wall is the root's duration minus the excluded spans'. */
  def sparkFigures(root: Span, exclude: Seq[String]): Map[String, Double] = {
    val inc = subtree(root, exclude)
    val ids = inc.map(_.id).toSet
    val wall = compositionWall(root, exclude)
    val busy = {
      val ms = jobIntervals.filter(j => ids.contains(j._1)).map(j => (j._2 * 1000000L, j._3 * 1000000L))
      unionS(ms.toSeq)
    }
    val taskS = inc.map(_.taskMs).sum / 1e3
    val skew = stageTaskMs.filter { case (st, _) => stageOwner.get(st).exists(ids.contains) }
      .values.filter(_.size >= 2).map { d =>
        val sorted = d.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med <= 0) 1.0 else sorted.last / med
      }
    Map(
      "spark.jobs" -> inc.map(_.jobs).sum.toDouble,
      "spark.stages" -> inc.map(_.stages).sum.toDouble,
      "spark.driver_serial_s" -> math.max(0.0, wall - busy),
      "spark.task_s" -> taskS,
      "spark.parallelism" -> (if (busy > 0) taskS / busy else 0.0),
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.shuffle_write_mb" -> inc.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.shuffle_read_mb" -> inc.map(_.shuffleReadBytes).sum / 1e6,
      "spark.spill_mb" -> inc.map(_.spillBytes).sum / 1e6,
      "spark.gc_s" -> inc.map(_.gcMs).sum / 1e3)
  }

  /** Wall of `root` without its excluded side passes. */
  def compositionWall(root: Span, exclude: Seq[String]): Double =
    root.durS - spans.filter(s => exclude.exists(s.name.startsWith) && isUnder(s, root.id))
      .map(_.durS).sum

  private def isUnder(s: Span, rootId: Int): Boolean = {
    var p = s.parent
    while (p >= 0 && p != rootId) p = spans(p).parent
    p == rootId
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "dur_s" -> s.durS, "self_s" -> selfS(s), "jobs" -> s.jobs, "stages" -> s.stages,
        "tasks" -> s.tasks, "task_s" -> s.taskMs / 1e3, "gc_s" -> s.gcMs / 1e3,
        "shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
        "shuffle_read_mb" -> s.shuffleReadBytes / 1e6, "spill_mb" -> s.spillBytes / 1e6))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case r: Raw => r.json
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  /** Already-rendered JSON. */
  final case class Raw(json: String)
}
