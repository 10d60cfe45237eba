package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SketchExprs
import graft.functions.UrlCanonicalize.url_canonicalize
import graft.functions.WarcDigest.warc_sha1_b32
import graft.warc.HttpExprs
import graft.web.SyntheticWeb

/** Per-layer figures of the traced run, read off the spans and counters. */
object Layers {

  /** Spans that only measure; the layer figures leave them out. */
  val SidePasses: Seq[String] = Seq("audit.")

  /** Every per-layer metric, in report order. A workload that does not run
    * a layer reports 0 for it. */
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.driver_serial_s" -> "s",
    "spark.task_s" -> "s", "spark.parallelism" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s",
    "functions.url_canonicalize_rows_per_s" -> "rows/s", "functions.warc_digest_mb_per_s" -> "MB/s",
    "functions.minhash_rows_per_s" -> "rows/s",
    "frontier.schedule_s" -> "s", "frontier.candidates" -> "count", "frontier.scheduled" -> "count",
    "frontier.schedule_yield" -> "ratio", "frontier.top_host_share" -> "ratio",
    "seen.filter_build_s" -> "s", "seen.filter_merge_s" -> "s", "seen.bloom_pass_ratio" -> "ratio",
    "seen.bloom_fpr" -> "ratio", "seen.filter_mb" -> "MB",
    "fetch.fetch_s" -> "s", "fetch.warc_rows_s" -> "s", "fetch.outlinks_s" -> "s",
    "fetch.responses" -> "count", "fetch.revisits_local" -> "count",
    "fetch.revisits_doppelganger" -> "count", "fetch.revisits_cdx" -> "count",
    "fetch.revisit_ratio" -> "ratio", "fetch.payload_mb" -> "MB",
    "jobs.crawl_state_checkpoint_s" -> "s", "jobs.crawl_jobs_per_round" -> "count",
    "jobs.verify_warc_s" -> "s", "jobs.verify_failures" -> "count", "jobs.cdx_index_s" -> "s",
    "jobs.cdx_lookup_s" -> "s", "jobs.cdx_records_per_s" -> "rec/s",
    "snapshot.commit_s" -> "s", "snapshot.read_s" -> "s", "snapshot.expire_vacuum_s" -> "s",
    "snapshot.bytes_written_mb" -> "MB", "snapshot.files_written" -> "count", "snapshot.live_mb" -> "MB",
    "sources.write_s" -> "s", "sources.files_written" -> "count", "sources.members_written" -> "count",
    "sources.write_mb_per_s" -> "MB/s", "sources.stored_bytes_per_byte" -> "ratio",
    "sources.scan_s" -> "s", "sources.scan_tasks" -> "count", "sources.pushdown_selectivity" -> "ratio",
    "sources.scan_mb_per_s" -> "MB/s",
    "warc.http_parse_rows_per_s" -> "rows/s",
    "ops.exact_dedup_s" -> "s", "ops.lsh_pairs_s" -> "s", "ops.keep_reps_s" -> "s",
    "ops.pairs" -> "count", "ops.pair_recall" -> "ratio", "ops.clusters" -> "count",
    "ops.docs_kept" -> "count",
    "trace.overhead_ratio" -> "ratio",
    "box.probe_rows_per_s" -> "rows/s")

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Figures of a traced crawl composition rooted at `root`. */
  def crawlFigures(tr: Tracer, root: Span, warcRows: DataFrame): Map[String, Double] = {
    val rounds = tr.subtree(root, SidePasses).filter(_.name == "jobs.crawl_round")
    val crawlJobs = rounds.flatMap(tr.subtree(_, SidePasses)).map(_.jobs).sum
    def c(n: String) = tr.counter(n, root)
    def t(n: String) = tr.total(n, root)
    val probed = c("audit.probed"); val maybe = c("audit.maybe"); val seen = c("audit.true_seen")
    val revisits = c("fetch.revisits_local") + c("fetch.revisits_doppelganger") + c("fetch.revisits_cdx")
    tr.sparkFigures(root, SidePasses) ++ Map(
      "frontier.schedule_s" -> t("frontier.schedule"),
      "frontier.candidates" -> c("frontier.candidates"),
      "frontier.scheduled" -> c("frontier.scheduled"),
      "frontier.schedule_yield" -> ratio(c("frontier.scheduled"), c("frontier.candidates")),
      "frontier.top_host_share" -> topHostShare(warcRows),
      "seen.filter_build_s" -> t("seen.filter_build"),
      "seen.filter_merge_s" -> t("seen.filter_merge"),
      "seen.bloom_pass_ratio" -> ratio(maybe, probed),
      "seen.bloom_fpr" -> ratio(maybe - seen, probed - seen),
      "seen.filter_mb" -> c("seen.filter_mb"),
      "fetch.fetch_s" -> t("fetch.fetch"),
      "fetch.warc_rows_s" -> t("fetch.warc_rows"),
      "fetch.outlinks_s" -> t("fetch.outlinks"),
      "fetch.responses" -> c("fetch.responses"),
      "fetch.revisits_local" -> c("fetch.revisits_local"),
      "fetch.revisits_doppelganger" -> c("fetch.revisits_doppelganger"),
      "fetch.revisits_cdx" -> c("fetch.revisits_cdx"),
      "fetch.revisit_ratio" -> ratio(revisits, revisits + c("fetch.responses")),
      "fetch.payload_mb" -> c("fetch.payload_mb"),
      "jobs.crawl_state_checkpoint_s" -> t("jobs.crawl_state_checkpoint"),
      "jobs.crawl_jobs_per_round" -> ratio(crawlJobs, rounds.size),
      "snapshot.commit_s" -> t("snapshot.commit"),
      "snapshot.read_s" -> t("snapshot.read"),
      "snapshot.expire_vacuum_s" -> t("snapshot.expire_vacuum"),
      "snapshot.bytes_written_mb" -> c("snapshot.bytes_written_mb"),
      "snapshot.files_written" -> c("snapshot.files_written"))
  }

  /** Largest share of one round's fetches that went to a single host. */
  def topHostShare(warcRows: DataFrame): Double = {
    val perHost = warcRows.filter(col("seq") === 0).groupBy("round", "host").count()
    val r = perHost.groupBy("round").agg(max("count").as("top"), sum("count").as("all"))
      .agg(max(col("top") / col("all"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Kernel rates over the crawl inputs: URL canonicalization of every
    * page and seed URL, SHA-1 WARC digests of every rendered payload. The
    * inputs are materialized first so a pass times the kernel, not parquet. */
  def crawlKernels(spark: SparkSession, web: Fixtures.Web): Map[String, Double] = {
    val urls = web.pages.select("url").unionByName(web.seeds.select("url")).localCheckpoint()
    val payloads = web.pages.select(SyntheticWeb.payloadExpr(col("spans")).as("p")).localCheckpoint()
    val mb = payloads.agg(sum(octet_length(col("p")))).head().getLong(0) / 1e6
    val n = payloads.count().toDouble
    val r = Map(
      "functions.url_canonicalize_rows_per_s" ->
        Common.kernelRate(urls.select(url_canonicalize(col("url")))),
      "functions.warc_digest_mb_per_s" ->
        Common.kernelRate(payloads.select(warc_sha1_b32(col("p"))), mb / n))
    urls.unpersist(); payloads.unpersist()
    r
  }

  /** HTTP status and payload-cut parsing over every record of a WARC archive. */
  def httpParseRate(spark: SparkSession, warcDir: String): Double = {
    val recs = spark.read.format("graft.sources.WarcDataSource").load(warcDir)
      .select(col("content")).localCheckpoint()
    val r = Common.kernelRate(recs.select(
      HttpExprs.parseStatus(col("content").cast("string")), HttpExprs.http_payload(col("content"))))
    recs.unpersist()
    r
  }

  /** MinHash signatures (5-char shingle hashes, 32 slots) per document. */
  def minhashRate(texts: DataFrame): Double = {
    val t = texts.select(regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm")).localCheckpoint()
    val r = Common.kernelRate(t.select(
      SketchExprs.minhash_sig_from_hashes(SketchExprs.xx_shingle_hashes(col("norm"), 5), 32)))
    t.unpersist()
    r
  }
}
