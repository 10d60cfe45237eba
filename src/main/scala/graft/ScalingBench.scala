package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.Crawl
import graft.obs.QueryProfile
import graft.web.SyntheticWeb

/**
 * Two-cluster-size scaling evidence (BASELINE.md protocol): the identical
 * crawl job — same synthetic web, same seeds, same plan (fixed shuffle
 * partitions and politeness slots, so only the executor-core count differs) —
 * run at local[N] and local[4N]. Reports URLs scheduled+deduped/sec at both
 * levels and efficiency = (thr_4N / thr_N) / 4, appended to BENCH/BASELINE.md.
 *
 * No real cluster exists in this sandbox; local[8] vs local[32] is the
 * sanctioned stand-in for N vs 4N executors. The plan is parallelism-
 * invariant (CrawlSpec asserts identical outputs across local shuffle
 * configs), so the comparison isolates pure compute scale-out.
 */
object ScalingBench {

  private def sessionWith(cores: Int, shufflePartitions: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // AQE stays on (Spark's default; measured faster at every level: its
      // shuffle optimizations outweigh the per-stage re-planning cost here)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false") // keep plans identical
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Hosts scale with the web (a 10^10 crawl has millions of hosts; a 50-host
    * web at 10^6 pages would make politeness slots artificially skew-bound). */
  private def hostsFor(nPages: Long): Int = math.max(64, (nPages / 2000).toInt)

  /** Fixture tables are written ONCE per bench process as parquet on disk —
    * the production input shape (an Iceberg-style table scan), identical
    * across levels, and outside the timed window. */
  private def fixturesDir(spark: SparkSession, nPages: Long, nSeeds: Long): String = {
    val nh = hostsFor(nPages)
    val dir = s"/tmp/graft-bench-fixtures-$nPages-$nSeeds"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_DONE"))) {
      SyntheticWeb.pages(spark, nPages, nh).write.mode("overwrite").parquet(s"$dir/pages")
      SyntheticWeb.seeds(spark, nSeeds, nPages, nh).write.mode("overwrite").parquet(s"$dir/seeds")
      SyntheticWeb.robots(spark, nh).write.mode("overwrite").parquet(s"$dir/robots")
      SyntheticWeb.doppelganger(spark, nPages, nh).write.mode("overwrite").parquet(s"$dir/dopp")
      SyntheticWeb.cdx(spark, nPages, nh).write.mode("overwrite").parquet(s"$dir/cdx")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_DONE"))
    }
    dir
  }

  /** One timed crawl over the parquet fixtures; returns (urls, wall seconds). */
  private def runOnce(spark: SparkSession, nPages: Long, nSeeds: Long,
                      rounds: Int, slots: Int): (Long, Double) = {
    val dir = fixturesDir(spark, nPages, nSeeds) // BEFORE the profile: the
    // fixture-build jobs (first run at a size) must not pollute its counters
    def rd(name: String) = spark.read.parquet(s"$dir/$name")
    var scheduled = 0L
    val p = QueryProfile.of(spark) {
      val res = Crawl.run(spark, rd("pages"), rd("seeds"),
        Some(rd("robots")), Some(rd("dopp")), Some(rd("cdx")),
        Crawl.Config(maxRounds = rounds, perHostBudget = Int.MaxValue,
          numSlots = slots, dedupSizeThreshold = 32, numShards = 16))
      // force the full output (digesting, revisit construction) to materialize
      res.warcRows.write.format("noop").mode("overwrite").save()
      scheduled = res.totalScheduled
    }
    val secs = p.wallSecs
    // driver-serial = wall not covered by any job: the share a real
    // 4N-executor cluster does NOT shrink by adding executors
    println(f"JOBGAPS jobs=${p.jobs} wall=$secs%.1f busy=${p.busySecs}%.1f " +
      f"driverSerial=${p.driverSerialSecs}%.1f (${100 * p.driverSerialSecs / secs}%.1f%%) " +
      f"taskSecs=${p.taskSecs}%.1f avgParallelism=${p.parallelism}%.1f " +
      f"gcSecs=${p.gcSecs}%.1f")
    (scheduled, secs)
  }

  private def measure(cores: Int, shufflePartitions: Int, nPages: Long,
                      nSeeds: Long, rounds: Int, warmup: Boolean): (Long, Double) = {
    val spark = sessionWith(cores, shufflePartitions)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // warm-up MUST be the identical workload: plan literals (page counts,
      // round epochs) are baked into generated code, so a smaller warm-up
      // compiles different classes and the measured run would pay full
      // Janino+JIT cost (observed: a cold first level costs ~120 s extra
      // regardless of cores)
      if (warmup) runOnce(spark, nPages, nSeeds, rounds, shufflePartitions)
      runOnce(spark, nPages, nSeeds, rounds, shufflePartitions)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "1000000").toLong
    val nSeeds = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEEDS", "200000").toLong
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "2").toInt
    val levels = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEVELS", "2,8,32")
      .split(",").map(_.trim.toInt).toSeq
    // identical plan at every level: shuffle partitions and politeness slots
    // fixed so only scheduling-onto-cores differs between levels. 8x max
    // cores (round 4, measured): smaller tasks shrink per-task working sets,
    // relieving the shared-L3 spill that dominates high-core scaling on this
    // box — 256 parts beat the old 128 at BOTH 8 cores (53.6 vs 55-57.5 s)
    // and 32 cores (36.8 vs 47.7-49.5 s); 512 over-fragments (77.9 s at 8).
    val shuffleParts = sys.env.get("SPARK_GRAFT_BENCH_PARTS").map(_.toInt)
      .getOrElse(math.max(levels.max * 8, 64))
    // pinned-run mode: one level per JVM (driven under `taskset -c 0..N-1` so
    // GC/compiler/IO threads share the N cpus exactly like an N-core
    // executor); results append to a JSONL file assembled externally
    val jsonOut = sys.env.get("SPARK_GRAFT_BENCH_JSON_OUT")
    if (jsonOut.isDefined) {
      val n = levels.head
      val (u, t) = measure(n, shuffleParts, nPages, nSeeds, rounds, warmup = true)
      val line = s"""{"level":$n,"urls":$u,"secs":$t,"pages":$nPages}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(jsonOut.get), line + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      println(line)
      return
    }

    val results = levels.map { n =>
      val (u, t) = measure(n, shuffleParts, nPages, nSeeds, rounds, warmup = true)
      println(f"level local[$n]: $u urls in $t%.1f s (${u / t}%.0f urls/s)")
      (n, u, t)
    }
    require(results.map(_._2).distinct.size == 1,
      s"parallelism changed results: ${results.map(_._2)}")
    val urls = results.head._2

    def thr(i: Int) = results(i)._2 / results(i)._3
    val pairs = results.indices.dropRight(1).map { i =>
      val (nLo, _, _) = results(i); val (nHi, _, _) = results(i + 1)
      val ratio = nHi.toDouble / nLo
      (nLo, nHi, thr(i), thr(i + 1), (thr(i + 1) / thr(i)) / ratio)
    }

    // NOTE: table rows are concatenated OUTSIDE stripMargin — interpolating
    // "|"-prefixed rows into a stripMargin template eats the pipes (the
    // round-1 BENCH/BASELINE.md tables rendered broken for exactly this)
    val rows = results.map { case (n, u, t) =>
      f"| local[$n] | $t%.1f | ${u / t}%.0f |"
    }.mkString("\n")
    val pairRows = pairs.map { case (lo, hi, tLo, tHi, eff) =>
      f"| local[$lo] -> local[$hi] | ${tHi / tLo}%.2f x (of ${hi / lo}x cores) | **$eff%.3f** |"
    }.mkString("\n")

    val header =
      f"""# BENCH — two-cluster-size scaling evidence
         |
         |Metric (BASELINE.json): frontier throughput = URLs scheduled+deduped/sec,
         |scaling efficiency >= 0.8 from N to 4N parallelism. No real cluster exists in
         |this sandbox, so the criterion is evidenced by running the IDENTICAL job on
         |the IDENTICAL input at several local[] parallelism levels (same seed, same
         |plan: shuffle partitions = politeness slots = $shuffleParts at every
         |level; outputs verified identical across levels — the run aborts otherwise).
         |
         |Workload: $nPages-page synthetic web, $nSeeds seeds, $rounds rounds,
         |per-host budget uncapped; $urls URLs scheduled+deduped; noop sink forces
         |full materialization of warc_rows (payload digests + revisit construction).
         |""".stripMargin
    val footer =
      f"""
         |Hardware note: this box exposes 32 logical CPUs but raw CPU scaling
         |(measured with an embarrassingly-parallel hash loop, no Spark) tops out at
         |~0.8 efficiency from 8 -> 32 threads (SMT/shared-host ceiling); the
         |low-core pairs are the honest view of the ENGINE's scaling, the 8 -> 32
         |pair additionally carries the hardware ceiling.
         |
         |Config: JVM heap ${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}, AQE on
         |(partition coalescing off to pin identical plans), UTC session TZ.
         |
         |10^10-URL design point (architectural, not materialized locally): seen-set =
         |1024-shard blocked Bloom at 10 bits/key ~ 12.5 GB total (~12 MB/shard) +
         |per-shard cuckoo, sharded by xxhash64(url_key) — the same hash that
         |partitions the exact seen table, so filter probes and the anti-join backstop
         |are shard-local; per-host budget caps hot-host rounds; AQE skew-join splits
         |the fetch join.
         |""".stripMargin
    val md = header +
      "\n| Level | wall (s) | throughput (URLs/s) |\n| --- | --- | --- |\n" + rows +
      "\n\n| N -> 4N pair | speedup | scaling efficiency |\n| --- | --- | --- |\n" + pairRows +
      "\n" + footer

    val dir = new java.io.File("BENCH"); dir.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH/BASELINE.md"), md)
    val pairsJson = pairs.map { case (lo, hi, _, _, eff) => s""""${lo}to$hi":$eff""" }.mkString(",")
    println(s"""{"metric":"scaling_efficiency","value":${pairs.last._5},"unit":"ratio","pairs":{$pairsJson},"urls":$urls}""")
  }
}
