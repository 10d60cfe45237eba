package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{CdxIndex, Crawl, VerifyWarc}
import graft.snapshot.SnapshotStore
import graft.sources.WarcSink
import graft.web.SyntheticWeb

/** Output checks of a crawl's results. */
object CrawlChecks {

  /** Invariants of a finished crawl; throws [[CheckFailed]]. */
  def invariants(res: Crawl.Result, perHostBudget: Long, maxPerRound: Long): Unit = {
    def check(what: String)(ok: Boolean): Unit = if (!ok) throw new CheckFailed(what)
    val w = res.warcRows
    val seen = res.seenKeys.agg(count(lit(1)), countDistinct(col("url_key"))).head()
    check("seen set repeats a url_key")(seen.getLong(0) == seen.getLong(1))
    check("seen set size != URLs scheduled")(seen.getLong(0) == res.totalScheduled)
    // fetches per (round, host) -> per round -> whole crawl, in one job
    val fetches = w.filter(col("seq") === 0).groupBy("round", "host").count()
      .groupBy("round").agg(sum("count").as("n"), max("count").as("top"))
      .agg(sum("n"), max("top"), max("n")).head()
    def l(i: Int) = if (fetches.isNullAt(i)) 0L else fetches.getLong(i)
    check("fetched records != URLs scheduled")(l(0) == res.totalScheduled)
    check("a host got more than its per-round budget")(l(1) <= perHostBudget)
    check("a round scheduled more than maxPerRound")(l(2) <= maxPerRound)
    // local-tier revisits point at a response record of the same payload;
    // remote tiers carry the capture URI they deduplicated against
    val originals = w.filter(col("warc_type") === "response")
      .select(col("record_id").as("__rid"), col("payload_digest").as("__rd"))
    val local = w.filter(col("warc_type") === "revisit" && col("dedupe_source") === "local")
    val dangling = local.join(originals,
      local("refers_to") === originals("__rid") && local("payload_digest") === originals("__rd"),
      "left_anti").count()
    check(s"$dangling local revisits refer to no response record")(dangling == 0)
    val remote = w.filter(col("warc_type") === "revisit" &&
      col("dedupe_source").isin("doppelganger", "cdx") && col("refers_to_target_uri").isNull).count()
    check(s"$remote remote revisits lack a refers-to URI")(remote == 0)
  }

  /** Compares an observed digest with the committed golden, when there is one. */
  def golden(what: String, observed: String, expected: Option[String]): Unit =
    expected.foreach(e => if (e != observed) throw new CheckFailed(s"$what digest $observed != golden $e"))
}

/**
 * `incremental`: a production-shaped resumable crawl. Each operation is one
 * round: one `Crawl.run(maxRounds = r + 1)` call that resumes from a
 * `SnapshotStore` (keeping the last 3 snapshots) and commits, then that
 * round's records written as WARC files through `graft.sources`. Per-host
 * budget and per-round cap keep rounds small and equal, so job count,
 * driver-serial time, snapshot commit/resume and WARC writes dominate rather
 * than per-URL compute. After the last round the archive is scanned with a
 * `warc_type` pushdown, verified, CDX-indexed and queried.
 */
final class IncrementalWorkload(seed: Long, work: Path, goldens: Goldens) extends Workload {
  val name = "incremental"
  val size = WebSize(pages = 10000, seeds = 2000, hosts = 200)
  val perHostBudget = 25
  val maxPerRound = 1000L
  def cfg(rounds: Int) = Crawl.Config(maxRounds = rounds, perHostBudget = perHostBudget,
    maxPerRound = maxPerRound, snapshotKeepLast = Some(3))
  /** Fewest rounds a run times, and the rounds of the traced run. */
  val MinRounds = 2
  private val WarcFmt = "graft.sources.WarcDataSource"
  private def dir = work.resolve("web").toString
  private var web: Fixtures.Web = _

  def setup(spark: SparkSession): Unit = {
    Fixtures.writeWeb(spark, seed, size, dir)
    web = Fixtures.readWeb(spark, dir)
  }

  /** WARC records of some warc_rows: response bodies rendered from the page
    * spans with `SyntheticWeb.payloadExpr`/`headersExpr`, revisits cut to
    * the header block, requests rebuilt as the fetch layer wrote them. */
  def records(rows: DataFrame): DataFrame = {
    val p = web.pages.select(col("url_key").as("__pk"), col("spans").as("__spans"))
    val j = rows.join(p, rows("target_uri") === p("__pk"), "left")
      .withColumn("__payload", SyntheticWeb.payloadExpr(col("__spans")))
    val request = concat(lit("GET "),
      regexp_replace(col("target_uri"), lit("^[a-z]+://[^/]+"), lit("")),
      lit(" HTTP/1.1\r\nHost: "), col("host"),
      lit("\r\nUser-Agent: graft/0.1\r\nAccept-Encoding: identity\r\n\r\n"))
    val content =
      when(col("warc_type") === "request", request)
        .when(col("status") === 404, lit("HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n"))
        .when(col("warc_type") === "revisit", SyntheticWeb.headersExpr(col("__payload")))
        .otherwise(concat(SyntheticWeb.headersExpr(col("__payload")), col("__payload")))
    WarcSink.toRecordColumns(j.withColumn("__content", content), "__content")
  }

  /** Serialized WARC bytes of `records` (version line, header lines, blank
    * line, block, trailer), before compression. */
  def serializedBytes(recs: DataFrame): Long = {
    val hdr = aggregate(map_entries(col("headers")), lit(0L),
      (acc, e) => acc + octet_length(e.getField("key")) + octet_length(e.getField("value")) + 4)
    recs.agg(sum(octet_length(col("version")) + 2 + hdr + 2 + octet_length(col("content")) + 4))
      .head().getLong(0)
  }

  /** One resumable crawl: its snapshot store and WARC archive. */
  final class Archive(val root: Path) {
    val store = new SnapshotStore(root.resolve("store").toString)
    val warcDir: String = root.resolve("warc").toString
    val cdxDir: String = root.resolve("cdx").toString
    var rounds = 0
    var scheduled = 0L
    val roundDigests = mutable.Buffer[String]()

    /** One operation: resume, crawl and commit one round, then write its
      * WARC records. Returns (that round's rows, WARC write seconds). */
    def round(crawl: Int => Crawl.Result, tr: Option[Tracer] = None): (DataFrame, Double) = {
      val r = rounds
      val res = crawl(r + 1)
      val rows = res.warcRows.filter(col("round") === r)
      def write(): Unit = records(rows).write.format(WarcFmt)
        .option("prefix", f"BENCH-r$r%04d").mode("append").save(warcDir)
      val (_, w) = Common.timed(tr.map(_.span("sources.write")(write())).getOrElse(write()))
      rounds += 1; scheduled += res.rounds.map(_.scheduled).sum
      (rows, w)
    }

    /** Round `r`'s rows against the golden digest and its budgets. */
    def checkRound(rows: DataFrame, r: Int): Unit = {
      val d = Common.digest(rows)
      roundDigests += d
      CrawlChecks.golden(s"round $r warc_rows", d, goldens.get(name, seed).lift(r))
      val f = rows.filter(col("seq") === 0).groupBy("host").count()
        .agg(coalesce(max("count"), lit(0L)), coalesce(sum("count"), lit(0L))).head()
      if (f.getLong(0) > perHostBudget)
        throw new CheckFailed(s"round $r: a host got ${f.getLong(0)} > $perHostBudget")
      if (f.getLong(1) > maxPerRound || f.getLong(1) == 0)
        throw new CheckFailed(s"round $r scheduled ${f.getLong(1)} URLs")
    }

    def state(spark: SparkSession): Crawl.Result = Crawl.Result(Nil,
      store.read(spark, "warc_rows").get, store.read(spark, "url_seen").get,
      store.read(spark, "digest_seen").get, scheduled)
  }

  private def fresh(tag: String): Archive = {
    val p = work.resolve(tag); Common.rmrf(p); Files.createDirectories(p); new Archive(p)
  }

  private def crawl(spark: SparkSession, a: Archive)(rounds: Int): Crawl.Result =
    Crawl.run(spark, web.pages, web.seeds, Some(web.robots), Some(web.dopp), Some(web.cdx),
      cfg(rounds), Some(a.store))

  /** One small in-memory round and its WARC write: the round's code paths
    * at a fraction of a store round's cost. */
  def warmup(spark: SparkSession): Unit = {
    val r = Crawl.run(spark, web.pages, web.seeds.limit(300), Some(web.robots), Some(web.dopp),
      Some(web.cdx), cfg(1).copy(snapshotKeepLast = None))
    records(r.warcRows).write.format(WarcFmt).mode("overwrite").save(work.resolve("warmup").toString)
    Common.releaseStorage(spark)
  }

  /** Scan with pushdown, verify, index and look up the archive, checking
    * each step against what was written. */
  def archivePass(spark: SparkSession, a: Archive, tr: Option[Tracer], out: RunResult): Unit = {
    def span[T](n: String)(b: => T): T = tr.map(_.span(n)(b)).getOrElse(b)
    val written = a.store.read(spark, "warc_rows").get
    out.op("archive") {
      val scanned = span("sources.scan") {
        spark.read.format(WarcFmt).load(a.warcDir).filter(col("warc_type") === "response")
          .select(col("record_id"), col("block_digest"), col("content_length")).localCheckpoint()
      }
      val verify = span("jobs.verify_warc")(VerifyWarc.run(spark, a.warcDir).collect())
      span("jobs.cdx_index")(CdxIndex.write(spark, a.warcDir, a.cdxDir))
      val lines = spark.read.text(a.cdxDir)
      val targets = written.filter(col("seq") === 0)
        .select(col("target_uri").as("url"), lit("20231114221320").as("ts"))
        .orderBy(xxhash64(col("url"))).limit(500).localCheckpoint()
      val found = span("jobs.cdx_lookup")(
        CdxIndex.nearestCaptures(CdxIndex.parse(lines), targets).localCheckpoint())

      val want = written.filter(col("warc_type") === "response").select(col("record_id"), col("block_digest"))
      if (Common.digest(scanned.select("record_id", "block_digest")) != Common.digest(want))
        throw new CheckFailed("scanned responses differ from the records written")
      val nWritten = written.count()
      val failures = verify.count(r => !r.getAs[Boolean]("valid"))
      val onDisk = verify.map(_.getAs[Long]("record_count")).sum
      if (failures > 0) throw new CheckFailed(s"VerifyWarc: $failures invalid files")
      if (onDisk != nWritten + verify.length)
        throw new CheckFailed(s"VerifyWarc saw $onDisk records, wrote $nWritten + ${verify.length} warcinfo")
      val indexed = written.filter(col("warc_type").isin("response", "revisit")).count()
      val nLines = lines.count()
      if (nLines != indexed) throw new CheckFailed(s"CDX has $nLines lines for $indexed captures")
      val nT = targets.count(); val nF = found.count()
      if (nF != nT) throw new CheckFailed(s"CDX lookup found $nF of $nT captures")
      tr.foreach { t =>
        t.count("jobs.verify_failures", failures.toDouble)
        t.count("archive.records_on_disk", onDisk.toDouble)
        t.count("archive.records_scanned", scanned.count().toDouble)
        t.count("archive.scanned_mb", scanned.agg(sum("content_length")).head().getLong(0) / 1e6)
        t.count("archive.cdx_records", (nLines + nT).toDouble)
      }
    }
  }

  def timed(spark: SparkSession, seconds: Double, out: RunResult, storage: StorageMeter): Unit = {
    val a = fresh("run")
    val walls = mutable.Buffer[Double](); val peaks = mutable.Buffer[Double]()
    while (walls.size < MinRounds || walls.sum < seconds) {
      Common.releaseStorage(spark)
      storage.mark()
      val ((rows, _), wall) = Common.timed(a.round(crawl(spark, a)))
      peaks += storage.peakSinceMb
      walls += wall
      Common.log(f"round ${a.rounds - 1} took $wall%.2f s")
      out.op(s"round ${a.rounds - 1}")(a.checkRound(rows, a.rounds - 1))
    }
    val archiveS = Common.timed(archivePass(spark, a, None, out))._2
    Common.log(f"archive pass took $archiveS%.2f s")
    out.op("crawl invariants")(CrawlChecks.invariants(a.state(spark), perHostBudget, maxPerRound))
    Common.log("checks done")
    out.metric("items_per_s", a.scheduled / (walls.sum + archiveS), "items/s")
    out.metric("op_p50_s", Common.median(walls.toSeq), "s")
    out.metric("peak_storage_mb", Common.median(peaks.toSeq), "MB")
    out.info("ops") = walls.size
    out.info("digests") = a.roundDigests.toSeq
  }

  /**
   * An uninterrupted in-memory `Crawl.run` of [[MinRounds]] rounds, the same
   * crawl through [[TracedCrawl]] (outputs must agree; their walls give the
   * tracing overhead), then [[MinRounds]] traced resumable rounds with their
   * WARC writes, whose final state must equal the uninterrupted crawl's, and
   * the traced archive pass.
   */
  def traced(spark: SparkSession, out: RunResult): Map[String, Double] = {
    val once = cfg(MinRounds).copy(snapshotKeepLast = None)
    def digests(r: Crawl.Result) =
      Seq(r.warcRows, r.seenKeys, r.digestSeen).map(Common.digest) :+ r.totalScheduled.toString
    def plainCrawl() = {
      Common.releaseStorage(spark)
      Common.timed {
        val r = Crawl.run(spark, web.pages, web.seeds, Some(web.robots), Some(web.dopp), Some(web.cdx), once)
        r.warcRows.write.format("noop").mode("overwrite").save()
        r
      }
    }
    plainCrawl() // the first full crawl in the JVM still warms up
    val (plain, plainWall) = plainCrawl()
    val want = digests(plain)
    Common.releaseStorage(spark)
    val tr = new Tracer(spark.sparkContext, s"incremental-$seed")
    val inMemory = tr.span("jobs.crawl") {
      val r = TracedCrawl.run(spark, web, once, None, tr)
      r.warcRows.write.format("noop").mode("overwrite").save()
      r
    }
    out.op("traced crawl equals Crawl.run") {
      val got = digests(inMemory)
      if (got != want) throw new CheckFailed(s"traced crawl $got != Crawl.run $want")
    }
    Common.releaseStorage(spark)
    val a = fresh("traced")
    var writeS = 0.0; var serialized = 0L
    tr.span("jobs.incremental") {
      (0 until MinRounds).foreach { _ =>
        Common.releaseStorage(spark)
        val (rows, w) = a.round(rounds => tr.span("jobs.crawl_call") {
          TracedCrawl.run(spark, web, cfg(rounds), Some(a.store), tr)
        }, Some(tr))
        writeS += w
        tr.span("audit.records") {
          serialized += serializedBytes(records(rows))
          out.op(s"traced round ${a.rounds - 1}")(a.checkRound(rows, a.rounds - 1))
        }
      }
    }
    tr.span("jobs.archive")(archivePass(spark, a, Some(tr), out))
    tr.close()
    out.op("resumed state equals one uninterrupted crawl") {
      val resumed = a.state(spark)
      CrawlChecks.invariants(resumed, perHostBudget, maxPerRound)
      val got = digests(resumed)
      if (got != want) throw new CheckFailed(s"resumed crawl state $got != uninterrupted $want")
    }
    out.info("digests") = a.roundDigests.toSeq

    val root = tr.spans.find(_.name == "jobs.incremental").get
    val memRoot = tr.spans.find(_.name == "jobs.crawl").get
    val files = new java.io.File(a.warcDir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    val written = a.store.read(spark, "warc_rows").get
    val nWritten = written.count()
    val scanS = tr.total("sources.scan"); val verifyS = tr.total("jobs.verify_warc")
    val cdxS = tr.total("jobs.cdx_index") + tr.total("jobs.cdx_lookup")
    val m = Layers.crawlFigures(tr, root, written) ++ Map(
      // the in-memory composition is the only one that checkpoints state
      "jobs.crawl_state_checkpoint_s" -> tr.total("jobs.crawl_state_checkpoint", memRoot),
      "fetch.outlinks_s" -> tr.total("fetch.outlinks", memRoot),
      "seen.filter_merge_s" -> tr.total("seen.filter_merge", memRoot),
      "trace.overhead_ratio" -> tr.compositionWall(memRoot, Layers.SidePasses) / plainWall,
      "sources.write_s" -> writeS,
      "sources.files_written" -> files.length.toDouble,
      "sources.members_written" -> (nWritten + files.length).toDouble,
      "sources.write_mb_per_s" -> serialized / 1e6 / writeS,
      "sources.stored_bytes_per_byte" -> files.map(_.length).sum.toDouble / serialized,
      "sources.scan_s" -> scanS,
      "sources.scan_tasks" -> tr.spans.filter(_.name == "sources.scan").map(_.tasks).sum.toDouble,
      "sources.pushdown_selectivity" ->
        tr.counter("archive.records_scanned") / tr.counter("archive.records_on_disk"),
      "sources.scan_mb_per_s" -> tr.counter("archive.scanned_mb") / (scanS + verifyS),
      "jobs.verify_warc_s" -> verifyS,
      "jobs.verify_failures" -> tr.counter("jobs.verify_failures"),
      "jobs.cdx_index_s" -> tr.total("jobs.cdx_index"),
      "jobs.cdx_lookup_s" -> tr.total("jobs.cdx_lookup"),
      "jobs.cdx_records_per_s" -> tr.counter("archive.cdx_records") / cdxS,
      "snapshot.live_mb" -> Common.dirBytes(a.root.resolve("store")) / 1e6)
    out.info("spans") = Json.Raw(tr.toJson)
    Common.releaseStorage(spark)
    m ++ Layers.crawlKernels(spark, web) ++ Map(
      "warc.http_parse_rows_per_s" -> Layers.httpParseRate(spark, a.warcDir))
  }
}
