package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.Crawl
import graft.snapshot.SnapshotStore
import graft.web.SyntheticWeb

/**
 * Crawl-round semantics, mirroring the reference's e2e dedup tests:
 *  - first fetch of a payload inserts, duplicate becomes a headers-only
 *    revisit (client_test.go:844-914 arithmetic)
 *  - dedup counters from the metrics aggregation match direct recounts
 *  - identical outputs at different parallelism (goleak/CI-isolation analog,
 *    SURVEY §5 "deterministic-under-parallelism")
 *  - resume from snapshot reproduces the uninterrupted run (mend analog)
 */
class CrawlSpec extends SparkSpec {

  private val N = 400L

  private def world(s: SparkSession) = (
    SyntheticWeb.pages(s, N),
    SyntheticWeb.seeds(s, 150, N),
    SyntheticWeb.robots(s),
    SyntheticWeb.doppelganger(s, N),
    SyntheticWeb.cdx(s, N))

  private def cfg(rounds: Int) = Crawl.Config(maxRounds = rounds, perHostBudget = 40,
    numSlots = 8, dedupSizeThreshold = 32, numShards = 4)

  test("revisit construction: headers-only content, original referenced") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val res = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(2))
    val warc = res.warcRows.cache()

    // local revisits must reference an existing response's uuid, and the pair
    // (referenced response, revisit) must share payload_digest with the
    // revisit's content strictly shorter (headers-only truncation: the
    // {26872, 132} length-shape of client_test.go:896)
    val resp = warc.filter(col("warc_type") === "response").select(
      col("record_id").as("orig_id"), col("payload_digest").as("orig_digest"),
      col("content_length").as("orig_len"))
    val localRevisits = warc.filter(col("warc_type") === "revisit" && col("refers_to").isNotNull)
    val joined = localRevisits.join(resp, localRevisits("refers_to") === resp("orig_id"), "left").cache()
    assert(joined.count() > 0, "no local revisits produced")
    assert(joined.filter(col("orig_id").isNull).count() == 0, "revisit refers_to a missing record")
    assert(joined.filter(col("payload_digest") =!= col("orig_digest")).count() == 0,
      "revisit digest mismatch with original")
    assert(joined.filter(col("content_length") >= col("orig_len")).count() == 0,
      "revisit content not truncated (must be headers-only)")

    // remote-tier revisits leave WARC-Refers-To empty (dedupe.go:86,133)
    val badRemote = warc.filter(col("dedupe_source").isin("cdx", "doppelganger") &&
      col("refers_to").isNotNull).count()
    assert(badRemote == 0, "remote-tier revisit must not set refers_to uuid")

    // counter arithmetic (A1): responses + revisits == fetches (seq 0 rows)
    val seq0 = warc.filter(col("seq") === 0).count()
    val nResp = warc.filter(col("warc_type") === "response").count()
    val nRev = warc.filter(col("warc_type") === "revisit").count()
    assert(nResp + nRev == seq0)
    assert(res.rounds.map(s => s.responses + s.revisits).sum == seq0)
    joined.unpersist(); warc.unpersist()
  }

  test("parseLinks crawl ≡ span crawl at the URL level (real extractor, same frontier)") {
    // same web, two discovery paths: exploding the fixture's pre-tokenized
    // link spans vs parsing the HTML-rendered payload through the real
    // extract -> RFC 3986 resolve -> canonicalize chain. URL-level outputs
    // must be IDENTICAL (payload bytes/digests differ by construction, so
    // run local-tier-only dedup: the remote fixture tables carry span-form
    // digests). threshold=1 keeps dedup eligibility independent of the
    // rendering's byte length.
    val (pages, seeds, robots, _, _) = world(spark)
    val base = cfg(2).copy(dedupSizeThreshold = 1)
    val span = Crawl.run(spark, pages, seeds, Some(robots), None, None, base)
    val html = Crawl.run(spark, pages, seeds, Some(robots), None, None,
      base.copy(parseLinks = true))
    def urlTypePairs(r: Crawl.Result) = r.warcRows.filter(col("seq") === 0)
      .select("target_uri", "warc_type").orderBy("target_uri", "warc_type")
      .collect().map(x => (x.getString(0), x.getString(1)))
    assert(urlTypePairs(span) === urlTypePairs(html))
    assert(span.rounds.map(s => (s.round, s.scheduled, s.responses, s.revisits)) ===
      html.rounds.map(s => (s.round, s.scheduled, s.responses, s.revisits)))
  }

  test("hostRanks: rank boost wins the capped schedule; crawl wiring shifts round-1 mass") {
    import spark.implicits._
    import graft.frontier.Scheduler
    // scheduler-level, exact: 6 hosts x 10 urls, cap 6, host3 boosted ->
    // every scheduled slot is host3's (priority 0 beats the uniform 5)
    val frontier = spark.range(60).select(
      concat(lit("http://host"), (col("id") % 6).cast("string"), lit(".example/s"),
        col("id").cast("string")).as("url"),
      lit(5).as("priority"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("discovery_time"),
      lit(1).as("depth"), lit("link").as("via"))
    val ranked = graft.ops.GraphOps.rankPriorities(frontier, "url",
      Seq(("host3.example", 1e6)).toDF("node", "rank"))
    val sched = Scheduler.schedule(spark, ranked, Seq.empty[String].toDF("url_key"),
      None, None, Scheduler.Config(perHostBudget = 40, maxPerRound = 6, numSlots = 4))
    val hosts = sched.select("host").collect().map(_.getString(0))
    assert(hosts.length === 6 && hosts.toSet === Set("host3.example"),
      s"capped schedule not owned by the boosted host: ${hosts.toSeq}")

    // crawl wiring: same web, cap binding on round 1's discovered links ->
    // the boosted hot host takes strictly more of the capped round than in
    // the unranked run (deterministic: xxhash fixture + total cap order)
    // no robots here: host0 (the hot host) disallows /p2* in the fixture,
    // which would starve the boosted host of candidates
    val (pages, seeds, _, _, _) = world(spark)
    val base = cfg(2).copy(dedupSizeThreshold = 1, maxPerRound = 40)
    def round1Host0(res: Crawl.Result) = res.warcRows
      .filter(col("seq") === 0 && col("round") === 1 && col("host") === "host0.example")
      .count()
    val plain = Crawl.run(spark, pages, seeds, None, None, None, base)
    val boosted = Crawl.run(spark, pages, seeds, None, None, None, base,
      hostRanks = Some(Seq(("host0.example", 1e6)).toDF("node", "rank")))
    val (p0, b0) = (round1Host0(plain), round1Host0(boosted))
    assert(b0 > p0, s"boost did not shift round-1 mass to host0: plain=$p0 boosted=$b0")
  }

  test("Recrawl.schedule: change-rate intervals, clamps, single-version backoff") {
    import spark.implicits._
    val hist = Seq(
      // fast-changing: 4 versions over 9000 s -> 3000 s interval -> min-clamped
      ("a", 0L, "v0"), ("a", 3000L, "v1"), ("a", 6000L, "v2"), ("a", 9000L, "v3"),
      // never changed: interval = whole observed span ("wait at least as long again")
      ("b", 0L, "s0"), ("b", 50000L, "s0"), ("b", 100000L, "s0"),
      // slow change over a huge span -> max-clamped
      ("c", 0L, "x0"), ("c", 10000000L, "x1")).toDF("u", "ts", "d")
    val got = graft.frontier.Recrawl.schedule(hist, "u", "ts", "d")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_versions"), r.getAs[Long]("interval_s"),
          r.getAs[Long]("next_due")))).toMap
    assert(got("a") === ((4L, 3600L, 12600L)))
    assert(got("b") === ((1L, 100000L, 200000L)))
    assert(got("c") === ((2L, 2592000L, 12592000L)))
  }

  test("WARC-IP-Address: both records of a pair carry the resolved address (J5)") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val res = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(1),
      dns = Some(SyntheticWeb.dns(spark)))
    val warc = res.warcRows.cache()
    // dialer.go:579-583: the connection's remote IP stamps every record of
    // the pair; the dns fixture covers every synthetic host
    assert(warc.filter(col("ip").isNull).count() === 0)
    val mismatched = warc.groupBy("pair_id")
      .agg(countDistinct(col("ip")).as("n")).filter(col("n") =!= 1).count()
    assert(mismatched === 0, "request and response of a pair disagree on ip")
    // deterministic fixture value: host h -> 10.(h%256).0.1
    assert(warc.filter(col("host") === "host1.example" && col("ip") =!= "10.1.0.1").count() === 0)
    warc.unpersist()
  }

  test("robots disallow is enforced (RFC 9309 longest-match)") {
    val (pages, seeds, robots, _, _) = world(spark)
    val res = Crawl.run(spark, pages, seeds, Some(robots), None, None, cfg(2))
    // host0 disallows /p2 prefix: no fetched url on host0 may start with /p2
    val viol = res.warcRows.filter(col("seq") === 0 &&
      col("host") === "host0.example" &&
      col("target_uri").startsWith("http://host0.example/p2")).count()
    assert(viol == 0, s"$viol robots violations on host0")
    // but host0 pages outside /p2 are fetched (disallow is not a host ban)
    assert(res.warcRows.filter(col("seq") === 0 && col("host") === "host0.example").count() > 0)
  }

  test("per-host budget caps every host per round") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val budget = 10
    val res = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx),
      cfg(2).copy(perHostBudget = budget))
    val over = res.warcRows.filter(col("seq") === 0)
      .groupBy("round", "host").count().filter(col("count") > budget).count()
    assert(over == 0, "per-host budget exceeded")
  }

  test("deterministic under parallelism: local shuffle-partition counts do not change results") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    def runWith(parts: String): (Array[String], Array[String]) = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val res = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx),
          cfg(2).copy(numSlots = parts.toInt))
        val rows = res.warcRows
          .select(col("record_id"), col("warc_type"), col("target_uri"),
            col("content_length"), col("block_digest"),
            coalesce(col("payload_digest"), lit("-")),
            coalesce(col("refers_to"), lit("-")), col("dedupe_source"))
          .collect().map(_.mkString("|")).sorted
        val seen = res.seenKeys.collect().map(_.getString(0)).sorted
        (rows, seen)
      } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
    val (rowsA, seenA) = runWith("3")
    val (rowsB, seenB) = runWith("13")
    assert(seenA.sameElements(seenB), "url_seen set differs across parallelism")
    assert(rowsA.length == rowsB.length, s"row counts differ: ${rowsA.length} vs ${rowsB.length}")
    rowsA.zip(rowsB).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"warc row $i differs:\n  $a\n  $b")
    }
  }

  test("resume from snapshot reproduces the uninterrupted run (mend analog)") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    // uninterrupted: 3 rounds straight
    val full = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(3))
    // interrupted: 2 rounds committed, then a new Crawl.run resumes round 2
    val dir = Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(dir)
    Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(2), Some(store))
    val resumed = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(3), Some(store))

    def fingerprint(df: DataFrame): Array[String] =
      df.select(col("record_id"), col("warc_type"), col("target_uri"),
        col("content_length"), col("block_digest"), col("dedupe_source"))
        .collect().map(_.mkString("|")).sorted
    val a = fingerprint(full.warcRows)
    val b = fingerprint(resumed.warcRows)
    assert(a.length == b.length, s"resumed row count ${b.length} != full ${a.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"resume divergence:\n  $x\n  $y") }
    // seen sets equal
    val sa = full.seenKeys.collect().map(_.getString(0)).sorted
    val sb = resumed.seenKeys.collect().map(_.getString(0)).sorted
    assert(sa.sameElements(sb), "seen set diverged after resume")
  }

  test("round counters: in-memory and snapshot-store runs agree with recounts") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val mem = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(3))
    val store = new SnapshotStore(Files.createTempDirectory("graft-snap-stats").toString)
    val stored = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(3),
      Some(store))
    assert(mem.rounds.map(_.round) === Seq(0, 1, 2))
    // the counters ride different materializations on the two paths (state
    // checkpoints vs the snapshot commit's table writes)
    assert(mem.rounds === stored.rounds)

    // tier counts and bytes recomputed from the round's fetch rows
    val recount = mem.warcRows.filter(col("seq") === 0)
      .groupBy(col("round"), col("dedupe_source"))
      .agg(count(lit(1)).as("n"), sum(col("payload_size")).cast("long").as("bytes"))
      .collect().groupBy(_.getAs[Int]("round"))
    mem.rounds.foreach { s =>
      val rows = recount(s.round)
      val tiers = (s.revisitsByTier + ("none" -> s.responses)).filter(_._2 > 0)
      assert(rows.map(r => r.getAs[String]("dedupe_source") -> r.getAs[Long]("n")).toMap === tiers,
        s"round ${s.round} tier counts")
      assert(rows.map(_.getAs[Long]("bytes")).sum === s.bytes, s"round ${s.round} bytes")
      assert(s.responses + s.revisits === s.scheduled, s"round ${s.round} fetches")
    }
    // the last round's outlinks are the committed frontier
    assert(stored.rounds.last.outlinks === store.read(spark, "frontier").get.count())
  }

  test("snapshot retention during the crawl: bounded manifests, identical outputs") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val plain = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(3))
    val dir = Files.createTempDirectory("graft-snap-ret").toString
    val store = new SnapshotStore(dir)
    val kept = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx),
      cfg(3).copy(snapshotKeepLast = Some(2)), Some(store))
    // 3 rounds committed, only the last 2 versions retained
    assert(store.versions.length === 2)
    // outputs unchanged by retention (append tables are cumulative in the
    // retained manifests; only expired-version history is gone)
    def fp(df: DataFrame): Array[String] =
      df.select(col("record_id"), col("target_uri"), col("dedupe_source"))
        .collect().map(_.mkString("|")).sorted
    assert(fp(plain.warcRows).sameElements(fp(kept.warcRows)))
    // vacuum already ran in-loop: every file under data/ is referenced by a
    // retained manifest (no orphans pinning disk)
    assert(store.vacuum().isEmpty)
    // and a RESUME from the retained latest reproduces the uninterrupted
    // 4-round run EXACTLY — falsifiable: if retention expired state the
    // resume needs (seen set, digest cache, frontier), the fingerprints
    // diverge, not just "some rounds ran"
    val resumed = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx),
      cfg(4).copy(snapshotKeepLast = Some(2)), Some(store))
    val plain4 = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(4))
    assert(fp(resumed.warcRows).sameElements(fp(plain4.warcRows)),
      "resume-after-retention diverged from the uninterrupted 4-round run")
  }

  test("oversize responses are cut at the cap and flagged WARC-Truncated: length") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val cap = 100
    val res = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx),
      cfg(1).copy(maxReadBeforeTruncate = cap))
    val resp = res.warcRows.filter(col("warc_type") === "response").cache()
    // synthetic payloads exceed 100 chars regularly: the cap must fire
    val truncated = resp.filter(col("truncated") === "length")
    assert(truncated.count() > 0, "no response hit the truncation cap")
    assert(resp.filter(col("payload_size") > cap).count() === 0,
      "a stored payload exceeds the cap")
    // non-truncated responses carry no flag
    assert(resp.filter(col("payload_size") < cap && col("truncated").isNotNull).count() === 0)
    // revisit semantics survive: the digest of the KEPT bytes still dedups —
    // identical originals truncate identically
    val uncapped = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(1))
    assert(res.warcRows.filter(col("seq") === 0).count() ===
      uncapped.warcRows.filter(col("seq") === 0).count(),
      "truncation changed the fetch count")
    resp.unpersist()
  }

  test("hot-digest fixture: 404s and duplicate payloads take the de-skewed path") {
    import spark.implicits._
    // 30% of scheduled URLs miss the page table (-> status 404, empty payload,
    // ALL sharing one digest) and the remaining 70% share only 10 payloads
    // (50%+ duplicates): exactly the hot-key mix that used to drag every row
    // into one digest-window partition
    val pages = spark.range(20).select(
      concat(lit("http://h.example/p"), col("id").cast("string")).as("url_key"),
      format_string("d%03d", col("id")).as("doc_id"),
      array(struct(lit("text").as("kind"),
        concat(lit("body-"), (col("id") % 5).cast("string"),
          lit(" abcdefghijklmnopqrstuvwxyz0123456789 abcdefghijklmnopqrstuvwxyz")).as("text"),
        lit("").as("media_ref"), lit(0).as("offset"))).as("spans"))
    val scheduled = spark.range(100).select(
      concat(lit("http://h.example/p"), col("id").cast("string")).as("url_key"),
      concat(lit("http://h.example/p"), col("id").cast("string")).as("url"),
      lit("h.example").as("host"),
      lit(1).as("priority"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("discovery_time"),
      lit(0).as("depth"), lit("seed").as("via"))
    val fcfg = graft.fetch.Fetch.Config(0, 1700000000L, dedupSizeThreshold = 32)
    val fetched = graft.fetch.Fetch.fetch(scheduled, pages, fcfg)
    assert(fetched.filter(col("status") === 404).count() === 80)
    val emptyDigestSeen = spark.range(0).select(
      lit("").as("payload_digest"), lit("").as("record_id"),
      lit("").as("target_uri"), lit(null).cast("timestamp").as("warc_date"))
    val warc = graft.fetch.Fetch.buildWarcRows(fetched, emptyDigestSeen,
      None, None, fcfg).cache()
    val resp0 = warc.filter(col("seq") === 0)
    assert(resp0.count() === 100)
    // 404s never dedup (the empty-payload digest is in the guard set): all 80
    // come back through the ineligible union branch as plain responses
    assert(resp0.filter(col("status") === 404 && col("warc_type") =!= "response").count() === 0)
    // 20 live pages share 5 payloads: earliest-wins keeps 5 responses, the
    // other 15 become intra-round local revisits
    assert(resp0.filter(col("status") === 200 && col("warc_type") === "response").count() === 5)
    assert(resp0.filter(col("dedupe_source") === "local").count() === 15)
    warc.unpersist()
  }

  test("partial (uncommitted) manifest is ignored on resume") {
    val (pages, seeds, robots, dopp, cdx) = world(spark)
    val dir = Files.createTempDirectory("graft-snap2").toString
    val store = new SnapshotStore(dir)
    Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx), cfg(1), Some(store))
    val good = store.latest.get
    // simulate a crash mid-commit: garbage manifest with a higher version
    Files.writeString(java.nio.file.Paths.get(dir, "manifests", s"v${good.version + 1}.json"),
      "{ truncated garbage")
    assert(store.latest.get.version == good.version, "corrupt manifest not skipped")
  }
}
