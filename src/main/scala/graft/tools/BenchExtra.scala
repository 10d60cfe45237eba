package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.QueryProfile

/** One query's timed samples (seconds), its output row count, an
  * order-insensitive hash of its output, and the profile of its fastest rep. */
final case class QueryRun(query: String, samples: Seq[Double], min: Double, median: Double,
                          rows: Long, hash: String, profile: QueryProfile)

/** The query runner: times SparkEntry queries through the noop sink with an
  * untimed sf0.001 warm-up pass and N timed repetitions at the target scale,
  * and prints one JSON line per query (a [[QueryRun]]): every sample,
  * min/median, the [[QueryProfile]] of the min rep (jobs, stages, task/GC
  * seconds, shuffle and spill, driver-serial time, top stages, per-operator
  * SQLMetrics), then the row count and output hash of one untimed pass. The
  * hash is the check for output-preserving changes: run before and after,
  * it must not move. Usage:
  *   SPARK_GRAFT_REPS=3 sbt "runMain graft.tools.BenchExtra q23 q85 ..."
  * (no args = the full suite). Does NOT replace graft.Bench, which is the
  * frozen driver contract.
  */
object BenchExtra {

  /** Times `reps` noop-sink runs of `build`, then counts and hashes its
    * output in one untimed aggregate: Σ xxhash64 over all columns, summed as
    * a decimal so it cannot overflow and does not depend on row order. */
  def run(spark: SparkSession, name: String, reps: Int)(build: => DataFrame): QueryRun = {
    spark.sparkContext.setJobDescription(name)
    val profiles = (1 to reps).map { _ =>
      QueryProfile.of(spark)(build.write.format("noop").mode("overwrite").save())
    }
    val samples = profiles.map(_.wallSecs)
    val sorted = samples.sorted
    val out = build.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("*")).cast("decimal(20,0)")), lit(0))).head()
    QueryRun(name, samples, sorted.head, sorted(sorted.size / 2),
      out.getLong(0), out.get(1).toString, profiles.minBy(_.wallSecs))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR",
      new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001").getPath)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sel = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.startsWith) }
    // untimed warm-up at the small scale: pays Janino/JIT before timers
    sel.foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[warmup] $name: ${e.getMessage}") }
    }
    sel.foreach { case (name, fn) =>
      val r = run(spark, name, reps)(fn(spark, sfDir))
      println(org.json4s.jackson.Serialization.write(r)(org.json4s.DefaultFormats))
    }
    spark.stop()
  }
}
