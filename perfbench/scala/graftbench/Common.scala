package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.BlockId

/** Session, timing and output-digest helpers shared by the workloads. */
object Common {

  /** Executor cores: local[k], k <= nproc. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def newSession(work: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val T0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"graftbench ${secs(T0)}%7.1fs $msg")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Order-insensitive digest of a frame: row count plus two independent
    * folds of a per-row xxhash64 over the columns in name order. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h")).agg(
      count(lit(1)), bit_xor(col("h")),
      sum(col("h").bitwiseAND(lit(0xffffffL))),
      sum(shiftright(col("h"), 40).bitwiseAND(lit(0xffffffL)))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    f"${l(0)}%d-${l(1)}%016x-${l(2)}%x-${l(3)}%x"
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try paths.forEach(x => Files.delete(x)) finally paths.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** Drop every cached/checkpointed block so each operation starts from the
    * same storage state. */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Rows per second of a noop-sink pass, median of three passes. */
  def kernelRate(df: DataFrame, unitsPerRow: Double = 1.0, reps: Int = 3): Double = {
    val n = df.count().toDouble
    val ts = (1 to reps).map(_ => timed(df.write.format("noop").mode("overwrite").save())._2)
    n * unitsPerRow / median(ts)
  }
}

/**
 * Peak memory held by RDD blocks (local checkpoints and caches), from the
 * block-update events the block manager posts to the listener bus. Broadcast
 * pieces are left out: when they are freed depends on the JVM's garbage
 * collector, not on the program.
 */
final class StorageMeter(sc: SparkContext) extends SparkListener {
  private val sizes = mutable.Map[BlockId, Long]()
  private var current = 0L
  private var peak = 0L
  private var base = 0L
  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      current += mem - sizes.getOrElse(info.blockId, 0L)
      if (mem == 0L) sizes.remove(info.blockId) else sizes(info.blockId) = mem
      peak = math.max(peak, current)
    }
  }

  /** Start a new high-water mark from the current level. */
  def mark(): Unit = {
    org.apache.spark.graftbench.SparkInternals.drainListenerBus(sc)
    synchronized { base = current; peak = current }
  }

  /** MB above the level at [[mark]] at the highest point since. */
  def peakSinceMb: Double = {
    org.apache.spark.graftbench.SparkInternals.drainListenerBus(sc)
    synchronized { (peak - base) / 1e6 }
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

/** The result of one benchmark run, before it is printed. */
final class RunResult {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()

  def fail(what: String): Unit = { failed += 1; failures += what }
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** Run one checked operation: an exception or a failed check counts as a
    * failed operation. Returns the body's value when it succeeded. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      val msg = s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
      System.err.println(s"graftbench FAILED $msg")
      e.printStackTrace(System.err)
      fail(msg); None
    }
  }
}

final class CheckFailed(what: String) extends RuntimeException(what)
