package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.QueryProfile
import graft.tools.BenchExtra

/** The layer profile and the query runner's per-query pass, on queries whose
  * shape (shuffle or not, rows per operator) is known. */
class QueryProfileSpec extends SparkSpec {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("a groupBy reports its jobs and shuffle; busy time fits inside wall time") {
    val p = QueryProfile.of(spark)(noop(spark.range(20000).groupBy(col("id") % 7).count()))
    assert(p.jobs >= 1)
    assert(p.stages >= 1 && p.taskSecs > 0)
    assert(p.shuffleWriteMb > 0 && p.shuffleReadMb > 0)
    assert(p.busySecs <= p.wallSecs)
    assert(math.abs(p.driverSerialSecs - (p.wallSecs - p.busySecs)) < 1e-9)
    assert(p.topStages.nonEmpty && p.topStages.map(_.taskSecs).sum <= p.taskSecs + 1e-9)
    // the partial and final aggregates are both in the executed plan
    assert(p.operators.count(_.node == "HashAggregate") >= 2, p.operators)
  }

  test("a narrow filter/select writes no shuffle; the filter's output rows equal count()") {
    val df = spark.range(20000).filter(col("id") % 3 === 0).select((col("id") * 2).as("x"))
    val p = QueryProfile.of(spark)(noop(df))
    assert(p.shuffleWriteMb == 0.0 && p.shuffleReadMb == 0.0)
    assert(p.operators.filter(_.node == "Filter").flatMap(_.rows) == Seq(df.count()), p.operators)
  }

  test("runner: output hash is stable across runs and across a repartition of the same rows") {
    val rows = spark.range(5000).select(col("id"),
      (col("id") % 11).cast("string").as("s"), lit(null).cast("double").as("d"))
    val a = BenchExtra.run(spark, "a", reps = 2)(rows)
    val b = BenchExtra.run(spark, "b", reps = 1)(rows)
    val c = BenchExtra.run(spark, "c", reps = 1)(rows.repartition(7))
    assert(a.samples.size == 2 && a.min <= a.median && a.min == a.profile.wallSecs)
    assert(Seq(a.rows, b.rows, c.rows) == Seq(5000L, 5000L, 5000L))
    assert(a.hash == b.hash && a.hash == c.hash)
    // a different multiset of rows moves the hash
    val d = BenchExtra.run(spark, "d", reps = 1)(rows.union(rows.limit(1)))
    assert(d.rows == 5001 && d.hash != a.hash)
  }
}
