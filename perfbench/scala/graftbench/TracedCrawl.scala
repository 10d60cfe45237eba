package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fetch.Fetch
import graft.frontier.Scheduler
import graft.jobs.Crawl
import graft.seen.{FilterExprs, SeenSetOps}
import graft.seen.SeenSetOps.FilterTable
import graft.snapshot.SnapshotStore

/**
 * `Crawl.run` recomposed from the same public layer functions, with a span
 * around each call. It materializes exactly where `Crawl.run` does (with its
 * default knobs: state checkpoints on, sequential jobs, Bloom prefilter on,
 * no cuckoo build, stats on, fixture links, no DNS or host ranks), so its
 * output must equal `Crawl.run`'s; the benchmark checks that on every traced
 * run. Side passes that only measure (the seen-filter audit) run in
 * `audit.*` spans, which the layer figures leave out.
 */
object TracedCrawl {

  private def emptyDigestSeen(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("payload_digest", StringType), StructField("record_id", StringType),
        StructField("target_uri", StringType), StructField("warc_date", TimestampType),
        StructField("size", LongType))))

  def run(spark: SparkSession, web: Fixtures.Web, cfg: Crawl.Config,
          store: Option[SnapshotStore], tr: Tracer): Crawl.Result = {
    val resumed = tr.span("snapshot.read")(store.flatMap(_.latest))
    var round = resumed.map(_.round + 1).getOrElse(0)
    var (frontier, seenKeys, digestSeen, filters) = tr.span("snapshot.read") {
      val s = store.orNull
      (resumed.flatMap(_ => s.read(spark, "frontier"))
        .getOrElse(graft.web.SyntheticWeb.seedFrontier(web.seeds)
          .select(col("url"), col("priority"), col("discovery_time"), col("depth"), col("via"))),
        resumed.flatMap(_ => s.read(spark, "url_seen"))
          .getOrElse(spark.range(0).select(col("id").cast("string").as("url_key")).limit(0)),
        resumed.flatMap(_ => s.read(spark, "digest_seen")).getOrElse(emptyDigestSeen(spark)),
        resumed.flatMap(_ => s.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))))
    }
    val stats = scala.collection.mutable.Buffer[Crawl.RoundStats]()
    var allWarc: Option[DataFrame] = tr.span("snapshot.read")(store.flatMap(_.read(spark, "warc_rows")))
    var totalScheduled = resumed.map(_.counts.getOrElse("total_scheduled", 0L)).getOrElse(0L)
    var continue = true

    while (continue && round < cfg.maxRounds) tr.span("jobs.crawl_round") {
      val fcfg = Fetch.Config(round, cfg.baseEpoch + round, cfg.dedupSizeThreshold,
        maxReadBeforeTruncate = cfg.maxReadBeforeTruncate, parseLinks = cfg.parseLinks)
      tr.span("audit.seen_filter")(auditFilter(frontier, seenKeys, filters, web.robots, tr))

      val scheduled = tr.span("frontier.schedule") {
        Scheduler.schedule(spark, frontier, seenKeys, filters, Some(web.robots),
          Scheduler.Config(cfg.perHostBudget, cfg.maxPerRound, cfg.numSlots, salt = round))
          .localCheckpoint()
      }
      val (newFilters, nScheduled) = tr.span("seen.filter_build") {
        val plan = SeenSetOps.buildFilterTable(scheduled.select(col("url_key")), "url_key",
          cfg.numShards, cfg.bloomBlocksPerShard, cfg.cuckooBucketsPerShard,
          includeCuckoo = cfg.buildCuckoo)
        val ft = FilterTable(plan.df.localCheckpoint(), cfg.numShards)
        val n = ft.df.agg(sum(col("n"))).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
        (ft, n)
      }

      if (nScheduled == 0) {
        scheduled.unpersist()
        continue = false
      } else {
        val fetched = tr.span("fetch.fetch")(Fetch.fetch(scheduled, web.pages, fcfg, None).localCheckpoint())
        val obs = new Observation(s"graft-round-$round")
        def tierCount(t: String) =
          sum(when(col("seq") === 0 && col("dedupe_source") === t, 1L).otherwise(0L)).as(t)
        val warc = tr.span("fetch.warc_rows") {
          Fetch.buildWarcRows(fetched, digestSeen, Some(web.dopp), Some(web.cdx), fcfg)
            .withColumn("round", lit(round))
            .observe(obs, tierCount("none"), tierCount("local"), tierCount("doppelganger"),
              tierCount("cdx"), sum(when(col("seq") === 0, col("payload_size")).otherwise(0L)).as("bytes"))
            .localCheckpoint()
        }
        val newDigests = Fetch.newDigestEntries(warc, fcfg)
        val links = Fetch.outlinks(fetched, fcfg)
        val metrics = obs.get
        val byTier = Seq("none", "local", "doppelganger", "cdx")
          .map(t => t -> metrics.get(t).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
        val bytes = metrics.get("bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
        byTier.foreach { case (t, n) =>
          tr.count(if (t == "none") "fetch.responses" else s"fetch.revisits_$t", n.toDouble)
        }
        tr.count("fetch.payload_mb", bytes / 1e6)

        val newSeen = scheduled.select(col("url_key"))
        filters = Some(filters.map(f => SeenSetOps.mergeFilterTables(f, newFilters)).getOrElse(newFilters))
        seenKeys = seenKeys.unionByName(newSeen)
        digestSeen = digestSeen.unionByName(newDigests.select(
          col("payload_digest"), col("record_id"), col("target_uri"), col("warc_date"), col("size")))
        frontier = links
        if (store.isEmpty) {
          tr.span("jobs.crawl_state_checkpoint") {
            seenKeys = tr.span("seen.seen_checkpoint")(seenKeys.localCheckpoint())
            digestSeen = tr.span("fetch.digest_checkpoint")(digestSeen.localCheckpoint())
            frontier = tr.span("fetch.outlinks")(frontier.localCheckpoint())
            filters = tr.span("seen.filter_merge")(
              filters.map(f => FilterTable(f.df.localCheckpoint(), f.numShards)))
          }
          scheduled.unpersist(blocking = false)
          fetched.unpersist(blocking = false)
        }
        totalScheduled += nScheduled
        tr.count("frontier.scheduled", nScheduled.toDouble)
        allWarc = Some(allWarc.map(_.unionByName(warc)).getOrElse(warc))
        val nLinks = tr.span("frontier.frontier_count")(frontier.count())
        stats += Crawl.RoundStats(round, nScheduled, byTier("none"),
          byTier.view.filterKeys(_ != "none").values.sum, byTier - "none", bytes, nLinks)

        store.foreach { s =>
          import spark.implicits._
          val metricsDf = (byTier.toSeq :+ ("bytes" -> bytes))
            .toDF("metric", "value").withColumn("round", lit(round))
          val before = tr.span("audit.snapshot_files")(
            s.latest.map(_.files.values.flatten.toSet).getOrElse(Set.empty[String]))
          val m = tr.span("snapshot.commit") {
            s.commit(round, Map(
              "warc_rows" -> warc,
              "url_seen" -> newSeen,
              "digest_seen" -> newDigests,
              "frontier" -> frontier,
              "filters" -> filters.get.df,
              "metrics" -> metricsDf,
              "fetch_log" -> warc.filter(col("seq") === 0).select(
                col("target_uri"), col("host"), col("status"),
                col("content_length").as("bytes"), col("dedupe_source"), col("truncated"), col("round"))),
              Map("total_scheduled" -> totalScheduled, "round_scheduled" -> nScheduled,
                "num_shards" -> cfg.numShards.toLong,
                "bloom_blocks_per_shard" -> cfg.bloomBlocksPerShard.toLong))
          }
          tr.span("audit.snapshot_files") {
            val added = m.files.values.flatten.filterNot(before.contains).toSeq
            tr.count("snapshot.files_written", added.size.toDouble)
            tr.count("snapshot.bytes_written_mb", added.map(f =>
              java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum / 1e6)
          }
          cfg.snapshotKeepLast.foreach { k => tr.span("snapshot.expire_vacuum") { s.expire(k); s.vacuum() } }
          tr.span("snapshot.read") {
            seenKeys = s.read(spark, "url_seen").get
            digestSeen = s.read(spark, "digest_seen").get
            frontier = s.read(spark, "frontier").get
            filters = s.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))
            allWarc = s.read(spark, "warc_rows")
          }
        }
        round += 1
      }
    }

    tr.span("audit.filter_size") {
      filters.foreach(f => tr.set("seen.filter_mb",
        f.df.agg(sum(coalesce(octet_length(col("bloom")), lit(0)) +
          coalesce(octet_length(col("cuckoo")), lit(0)))).head().getLong(0) / 1e6))
    }
    Crawl.Result(stats.toSeq, allWarc.getOrElse(spark.emptyDataFrame), seenKeys, digestSeen,
      totalScheduled)
  }

  /**
   * Measures the seen-set prefilter on this round's candidates: how many
   * the Bloom filter passes to the exact anti-join, and how many of those
   * were never seen (false positives), against the exact seen table.
   */
  private def auditFilter(frontier: DataFrame, seenKeys: DataFrame, filters: Option[FilterTable],
                          robots: DataFrame, tr: Tracer): Unit = {
    tr.count("frontier.candidates", frontier.count().toDouble)
    filters.foreach { ft =>
      val polite = Scheduler.robotsFilter(Scheduler.canonicalize(frontier), robots)
      val hk = SeenSetOps.keyHash(col("url_key"))
      val r = polite.select(col("url_key"))
        .withColumn("__h", hk)
        .withColumn("__shard", pmod(col("__h"), lit(ft.numShards.toLong)).cast("int"))
        .join(ft.df.select(col("shard").as("__shard"), col("bloom").as("__bloom")), Seq("__shard"), "left")
        .withColumn("__maybe", FilterExprs.might_contain_blob(col("__shard"), col("__bloom"), col("__h")))
        .join(seenKeys.select(col("url_key"), lit(true).as("__seen")), Seq("url_key"), "left")
        .agg(count(lit(1)),
          sum(when(col("__maybe"), 1L).otherwise(0L)),
          sum(when(col("__seen").isNotNull, 1L).otherwise(0L)))
        .head()
      def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      tr.count("audit.probed", l(0).toDouble)
      tr.count("audit.maybe", l(1).toDouble)
      tr.count("audit.true_seen", l(2).toDouble)
    }
  }
}
