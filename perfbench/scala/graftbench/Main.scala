package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One closed-loop workload: one client (the driver thread) starts each
  * operation only after the previous one finished. */
trait Workload {
  def name: String
  /** Generate the seeded inputs as parquet and bind them. */
  def setup(spark: SparkSession): Unit
  /** Run the workload's code paths once so the timed phase starts warm. */
  def warmup(spark: SparkSession): Unit
  /** Timed operations for `seconds`, outputs checked; fills the end-to-end
    * metrics other than `setup_s`. */
  def timed(spark: SparkSession, seconds: Double, out: RunResult, storage: StorageMeter): Unit
  /** One untraced and one traced pass; returns the per-layer figures. */
  def traced(spark: SparkSession, out: RunResult): Map[String, Double]
}

/** Committed output digests for the default and hold-out seeds. */
final class Goldens(path: Option[Path]) {
  private val tree = path.filter(Files.exists(_))
    .map(p => new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile))
  def get(workload: String, seed: Long): Seq[String] =
    tree.flatMap(t => Option(t.get(workload))).flatMap(w => Option(w.get(seed.toString)))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
}

/**
 * Entry point:
 * `Main --workload <incremental|neardup> --seed <n> --seconds <s>
 *  --trace <0|1> --work <dir> [--goldens <file>] [--record <file>]`.
 *
 * Prints one JSON result line last on stdout. With `--trace 0` it holds the
 * end-to-end metrics, with `--trace 1` the per-layer metrics of a separate
 * traced run. The run record (spans, per-layer figures, digests, box probe)
 * goes to `--record`.
 */
object Main {

  /** Set-up repetitions (session start plus seeded input generation) whose
    * median is `setup_s`. The warm-up operation that follows runs once and
    * counts in no metric. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = Paths.get(need("work")).toAbsolutePath
    val goldens = new Goldens(a.get("goldens").map(Paths.get(_)))
    Common.rmrf(work); Files.createDirectories(work)

    val wl: Workload = workloadName match {
      case "incremental" => new IncrementalWorkload(seed, work, goldens)
      case "neardup" => new NeardupWorkload(seed, work, goldens)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = new RunResult
    var spark: SparkSession = null
    val setups = (1 to (if (trace) 1 else SetupReps)).map { _ =>
      Common.timed {
        spark = Common.newSession(work)
        wl.setup(spark)
      }._2
    }
    Common.log("inputs written")
    wl.warmup(spark)
    Common.log("warm-up done")
    val probe = boxProbe(spark)
    System.err.println(f"graftbench $workloadName seed=$seed trace=$trace setups=${setups.mkString(",")} " +
      f"box_probe=${probe / 1e6}%.2fM rows/s")
    val storage = new StorageMeter(spark.sparkContext)
    if (!trace) {
      out.metric("setup_s", Common.median(setups), "s")
      wl.timed(spark, seconds, out, storage)
    } else {
      val m = wl.traced(spark, out) + ("box.probe_rows_per_s" -> probe)
      Layers.Names.foreach { case (n, u) => out.metric(n, m.getOrElse(n, 0.0), u) }
    }
    storage.stop()
    spark.stop()

    val metrics = out.metrics.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Json.obj(Seq("correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> math.max(1, out.attempted), "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(metrics))))
    a.get("record").foreach { r =>
      val rec = Json.obj(Seq("workload" -> workloadName, "seed" -> seed, "trace" -> trace,
        "cores" -> Common.Cores, "seconds" -> seconds, "setup_reps_s" -> setups,
        "box_probe_rows_per_s" -> probe, "failures" -> out.failures.toSeq,
        "result" -> Json.Raw(result)) ++ out.info.toSeq)
      Files.createDirectories(Paths.get(r).getParent)
      Files.writeString(Paths.get(r), rec + "\n")
    }
    println(result)
  }

  /** Graft-free Spark canary: url-shaped strings through one repartition
    * exchange and one aggregate exchange. Rows per second, best of two, so a
    * run made in a degraded window on a shared host can be recognized. */
  def boxProbe(spark: SparkSession): Double = {
    val n = 1000000L
    def once(): Double = Common.timed {
      spark.range(n).select(concat(lit("http://host"), pmod(xxhash64(col("id")), lit(100000)).cast("string"),
        lit(".example/p"), col("id").cast("string")).as("url"))
        .repartition(4 * Common.Cores, xxhash64(col("url")))
        .groupBy(pmod(xxhash64(col("url"), lit(2)), lit(n / 3)).as("k")).agg(count(lit(1)).as("c"))
        .agg(sum("c")).head()
    }._2
    n / math.min(once(), once())
  }
}
